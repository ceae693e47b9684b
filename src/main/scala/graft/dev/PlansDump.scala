package graft.dev

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bm25, Corpus, Dedup, IvfIndexer, IvfSearcher, KnnJoin, Skew}
import graft.sources.Bucketing

/** Regenerates PLANS.md: the formatted physical plans of the engine's
  * flagship shapes, with the one property each plan exists to
  * demonstrate. These are the `.explain("formatted")` checks the specs
  * assert programmatically (PlanQualitySpec, TextAnalysisSpec),
  * committed as a readable artifact.
  *
  * Run: sbt "runMain graft.dev.PlansDump /root/testdata/sf0.01"
  */
object PlansDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"target/plans-warehouse-${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = new StringBuilder
    out ++= """# Physical plans of the flagship shapes
        |
        |Generated by `sbt "runMain graft.dev.PlansDump"` (sf0.01 tables).
        |Each section names the property the plan is FOR; the specs assert
        |these properties programmatically (PlanQualitySpec,
        |TextAnalysisSpec, DedupSpec) — this file is the human-readable
        |evidence. Regenerate after plan-affecting changes.
        |""".stripMargin

    def section(title: String, why: String)(df: => DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      out ++= s"\n## $title\n\n$why\n\n```\n${plan.trim}\n```\n"
    }

    section("J1 exact kNN join",
      """What to see: the base table is scanned in place (no Exchange below
        |the scan), queries arrive via BroadcastExchange, the distance is a
        |codegen'd `vec_l2_dist` inside WholeStageCodegen, and top-k reduces
        |through a partial `top_k_by_dist` BEFORE the single queries×k-sized
        |shuffle. At 100 TB the only data movement is O(queries·k).""".stripMargin) {
      KnnJoin.knnJoin(Tables.embQueries(spark, dir), Tables.embBase(spark, dir),
        10, "l2")
    }

    section("Parquet scan pruning",
      """What to see: `PushedFilters: [IsNotNull(l_quantity),
        |GreaterThan(l_quantity,40)]` and a two-column `ReadSchema` — the
        |filter and projection reach the parquet reader; nothing else is
        |decoded.""".stripMargin) {
      Tables.load(spark, dir, "lineitem")
        .filter(col("l_quantity") > 40)
        .select(col("l_orderkey"), col("l_quantity"))
    }

    section("Bucketed co-located join + aggregation",
      """What to see: no `Exchange hashpartitioning` anywhere. Both sides
        |were written `bucketBy(4, o_orderkey)`; the sort-merge join reads
        |co-located buckets (`SelectedBucketsCount: 4 out of 4`) and the
        |downstream per-key aggregation reuses the same layout — the join
        |shuffle was paid once at write time. (autoBroadcastJoinThreshold
        |is disabled here, as in PlanQualitySpec: at sf0.01 the small side
        |would otherwise broadcast and hide the co-located SMJ this layout
        |buys at scale.)""".stripMargin) {
      // set (not restored inside the block: the plan string is computed
      // lazily by section() right after, still under this setting; the
      // next section resets it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Bucketing.writeBucketed(
        Tables.load(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "plans_bkt_orders", "o_orderkey", 4)
      Bucketing.writeBucketed(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "plans_bkt_items", "o_orderkey", 4)
      Bucketing
        .bucketedJoin(spark, "plans_bkt_orders", "plans_bkt_items", "o_orderkey")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    section("Per-domain cap (rank filter → WindowGroupLimit)",
      """What to see: `WindowGroupLimit … row_number(), 10, Partial` BELOW
        |the Exchange — each map partition forwards at most n rows per
        |domain, so a heavy-hitter domain cannot flood a reducer. Catalyst
        |derives this from the plain `row_number() <= n` filter
        |(InferWindowGroupLimit); measured in the removed
        |dev/DomainCapProbe.""".stripMargin) {
      Corpus.domainCap(Tables.load(spark, dir, "documents"),
        "doc_id", "source", "n_chars", n = 10)
    }

    section("MinHash-LSH dup pairs (banded candidate join)",
      """What to see: candidates come from an equi-join (SortMergeJoin/
        |ShuffledHashJoin on the band key) over slim (id, key) rows — no
        |CartesianProduct, no BroadcastNestedLoopJoin anywhere, and the
        |kilobyte shingle payloads are attached only after the candidate
        |pairs are deduped.""".stripMargin) {
      Dedup.minhashDupPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", shingleLen = 3, numHashes = 16, bands = 4,
        threshold = 0.7)
    }

    section("IVF probe search",
      """What to see: the coarse quantizer is a tiny broadcast kNN against
        |the centroid relation; base candidates then come from an equi-join
        |on `centroid_id` — the index layout is partition-prunable, so at
        |scale each probe touches only its centroid partitions. A final
        |partial top-k bounds the exchange exactly like J1.""".stripMargin) {
      val artifact = IvfIndexer(nlist = 16, seed = 42)
        .build(Tables.embBase(spark, dir))
      // force the distributed plan (the driver-local fast path returns a
      // materialized local relation with no plan to read)
      System.setProperty("graft.local.enabled", "false")
      try IvfSearcher(nprobe = 4, metric = "l2")
        .search(artifact, Tables.embQueries(spark, dir), 10)
      finally System.clearProperty("graft.local.enabled")
    }

    section("BM25 lexical retrieval",
      """What to see: the corpus-sized postings relation is aggregated in
        |place and joined to a BroadcastExchange of the query-term/idf
        |relation — the corpus side never reshuffles for scoring; the one
        |BroadcastNestedLoopJoin is the 1-row corpus-stats attach. The
        |per-query top-k is `WindowGroupLimit … row_number(), 5, Partial`
        |below its exchange, same as the domain cap.""".stripMargin) {
      val docs = Tables.load(spark, dir, "documents")
      Bm25.searchTopK(docs,
        docs.filter(col("doc_id") % 53 === 0)
          .select(col("doc_id").as("qid"),
            substring(col("text"), 1, 200).as("qtext")),
        "doc_id", "text", "qid", "qtext", k = 5)
    }

    section("BM25 serve-from-index (bucket-pruned postings scan)",
      """What to see: serving reads the PERSISTED index — no corpus
        |tokenization, no postings aggregate (df comes from the `_df`
        |table). The batch's query-term vocabulary is pushed as an In
        |filter onto the term-bucketed postings scan: `SelectedBucketsCount`
        |below the bucket total plus `PushedFilters: [In(term, …)]`, so a
        |query batch touches only the buckets its terms hash into — at
        |corpus scale the serve cost tracks the query vocabulary, not the
        |index size.""".stripMargin) {
      val docs = Tables.load(spark, dir, "documents")
      Bm25.buildIndex(docs, "doc_id", "text", "plans_bm25ix", buckets = 8)
      // retrieval-shaped batch: ONE short query (a handful of terms), the
      // regime where bucket pruning is visible — a corpus-sized query set
      // legitimately touches every bucket
      Bm25.searchFromIndex(spark, "plans_bm25ix",
        docs.limit(1).select(col("doc_id").as("qid"),
          substring(col("text"), 1, 25).as("qtext")),
        "qid", "qtext", k = 5)
    }

    section("BM25 serve-from-index, WAND route (the text_bm25_serve gate path since r13)",
      """What to see: same persisted-index reads as the relational serve
        |above (vocab In filter onto the bucketed postings scan, df from
        |the `_df` table, no corpus aggregate) — but the SCORING is the
        |block-max WAND DAAT kernel instead of the Σ qf·df join: one
        |REPARTITION_BY_COL co-locates each doc's query-term postings,
        |the kernel emits ≤ k rows per (partition, query), and one
        |hashpartitioning(qidx) exchange ranks them. No pair join
        |anywhere — the candidate set is bounded ≤ P·nq·k at any corpus
        |scale (the removed dev/ServeWandAb: 3.6 s vs 290 s relational at
        |the 10× serve shape, bit-identical results).""".stripMargin) {
      val docs = Tables.load(spark, dir, "documents")
      Bm25.ensureIndex(docs, "doc_id", "text", "plans_bm25ix", buckets = 8)
      Bm25.searchFromIndexWand(spark, "plans_bm25ix",
        docs.limit(1).select(col("doc_id").as("qid"),
          substring(col("text"), 1, 25).as("qtext")),
        "qid", "qtext", k = 5)
    }

    section("Skew-salted join",
      """What to see: the hot side's key is salted (`concat(key, '#', pmod)`)
        |and the small side exploded ×replication before a plain equi-join —
        |each formerly-hot key now spreads across `replication` reducers.
        |Same rows as the unsalted join (the gate oracle IS the unsalted
        |join).""".stripMargin) {
      val docs = Tables.load(spark, dir, "documents")
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_in_lang"))
      Skew.saltedJoin(docs.select(col("doc_id"), col("lang")), byLang,
        "lang", "doc_id", replication = 8)
    }

    section("Hard-negative mining",
      """What to see: the KnnJoin shape with the label predicate fused in —
        |anchors arrive via BroadcastExchange, the corpus is scanned once in
        |place, the `NOT (__blabel = __qlabel)` filter and the codegen'd
        |`vec_cosine_dist` sit inside the same WholeStageCodegen span, and
        |top-k reduces through the partial bounded heap before the single
        |anchors×k-sized exchange.""".stripMargin) {
      val emb = Tables.load(spark, dir, "embeddings")
      graft.operators.Mining.hardNegatives(
        emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("vector"), col("label")),
        emb.select(col("vec_id").as("id"), col("embedding").as("vector"), col("label")),
        k = 10, metric = "cosine")
    }

    section("Hybrid RRF fusion (arms elided to rank relations)",
      """What to see: fusion is JOIN-FREE — a Union of per-arm rank
        |relations, a partial fixed-point SUM before the (qid, id) exchange,
        |and the bounded-heap top-k. Nothing here scales with the corpus:
        |the arms' own operators (BM25 postings, kNN scan) do the heavy
        |lifting upstream, and fusion moves O(n_queries·k·n_arms) rows.""".stripMargin) {
      import spark.implicits._
      val a = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("qid", "id", "rank")
      val b = Seq((0L, 2L, 1), (0L, 3L, 2)).toDF("qid", "id", "rank")
      graft.operators.Hybrid.rrfFuse(Seq(a, b), k = 10)
    }

    section("MMR diversified re-ranking (retrieval + rerank)",
      """What to see: the kNN pool feeds a BroadcastHashJoin vector
        |re-attach (the corpus is NEVER shuffled for it — the tiny candidate
        |side broadcasts), then one hash exchange groups the pool by qid
        |into the per-query-local MapGroups greedy. No SortMergeJoin
        |anywhere.""".stripMargin) {
      graft.operators.Mmr.diversifiedTopK(
        Tables.embQueries(spark, dir), Tables.embBase(spark, dir),
        m = 15, nSelect = 8)
    }

    section("Filtered IVF search (metadata predicate + vector search)",
      """What to see: pre-filter semantics — the allowed-id semi-join
        |restricts the index relation BEFORE the centroid_id probe join, so
        |the predicate and the partition pruning compose in one plan and the
        |bounded-heap top-k only ever sees allowed rows. (At scale the
        |predicate is a scan filter on an attribute column carried in the
        |index relation; the semi-join is the composition-form shown here.)""".stripMargin) {
      import spark.implicits._
      val emb = Tables.load(spark, dir, "embeddings")
      val b = Tables.embBase(spark, dir)
      val allowed = emb.filter(col("label") < 5).select(col("vec_id").as("id"))
      val art = IvfIndexer(nlist = 16, seed = 42).build(b)
      val filteredData = art.data.join(allowed, Seq("id"), "left_semi")
      // IvfSearcher's distributed branch verbatim (Ivf.scala:156-159),
      // spelled out because the gate-sized run takes the plan-less
      // driver-local fast path
      val probes = Seq((0L, 1), (0L, 2), (50L, 0), (50L, 3))
        .toDF("qid", "centroid_id")
      val candidates = filteredData
        .join(broadcast(probes), Seq("centroid_id"))
        .select(col("qid"), col("id"), col("vector"))
      KnnJoin.rerankCarried(candidates, Tables.embQueries(spark, dir), 10, "l2")
    }

    Files.write(Paths.get("PLANS.md"),
      out.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote PLANS.md (${out.length} chars)")
    spark.stop()
  }
}
