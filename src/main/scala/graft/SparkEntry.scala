package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Algorithm, Bm25, Corpus, Dedup, KnnJoin, LangModel, Metrics, Multimodal, Registry, Sampling, TextAnalysis}
import graft.streaming.EventsStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each `queries` entry maps to an operator in SURVEY.md §2; `oracleSql`
  * holds the DuckDB-equivalent SQL the driver validates against.
  */
object SparkEntry {

  // multi-consumer gate relation caches (retire-previous slot discipline,
  // see Dedup.CacheSlot)
  private val mmVideoCacheSlot = new graft.operators.Dedup.CacheSlot

  /** Flagship query on /root/testdata/sf0.001: exact k-NN join (J1) —
    * the reference's core capability. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    KnnJoin.knnJoin(
      Tables.embQueries(spark, dir), Tables.embBase(spark, dir),
      k = 10, metric = "l2")
  }

  /** Gate-fixture index name keyed by the testdata dir PLUS a cheap
    * corpus fingerprint (file count, total bytes, max mtime of the
    * documents parquet). Managed tables survive JVMs and rounds, so the
    * dir path alone is not a staleness key: regenerated testdata at the
    * same path must hash to a DIFFERENT index name or ensureIndex would
    * silently serve postings of the old corpus. */
  private def bm25GateIndex(dir: String): String = {
    val fp = try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir, "documents.parquet")
      val files =
        if (java.nio.file.Files.isDirectory(p)) {
          // close the walk stream: it holds directory handles until GC
          val st = java.nio.file.Files.walk(p)
          try st.iterator().asScala
            .filter(f => java.nio.file.Files.isRegularFile(f)).toList
          finally st.close()
        } else List(p)
      val bytes = files.map(java.nio.file.Files.size).sum
      val mtime = files.map(f =>
        java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .foldLeft(0L)(math.max)
      s"${files.size}:$bytes:$mtime"
    } catch { case _: Throwable => "nofp" }
    "graft_bm25_gate_" + java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$fp".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
  }

  /** One-time fixtures a bench harness should pay OUTSIDE per-query
    * timing: the BM25 serve gate's persisted index (its name claims it
    * times serving, not the one-time build), plus one 2-query serve to
    * compile the scoring-join/window codegen — the serve gate runs first
    * alphabetically and otherwise absorbs the whole BM25 shape's one-time
    * JIT, which a serving system pays at deploy, not per batch. Verify
    * does NOT call this — the gates stay self-contained via ensureIndex. */
  def warmFixtures(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.load(spark, dir, "documents")
    Bm25.ensureIndex(docs, "doc_id", "text", bm25GateIndex(dir), buckets = 8)
    // warm the route the serve GATE actually takes (WAND since r13)
    Bm25.searchFromIndexWand(spark, bm25GateIndex(dir),
        docs.limit(2).select(col("doc_id").as("qid"),
          substring(col("text"), 1, 200).as("qtext")),
        "qid", "qtext", k = 5)
      .write.mode("overwrite").format("noop").save()
    // run the once-per-JVM SQ8 serve prime HERE, in the untimed fixture
    // window, instead of letting the first j10 gate of the cold pass
    // absorb its ~2 s worst-case budget (r15, r14 verdict #5: min-of-N
    // hid the cost from the reported numbers but the cold pass paid it
    // inside a timed gate). The prime itself is unchanged — a JIT
    // warm-up belongs with the bench's other warm-up work.
    graft.operators.LocalScan.primeSq8ServeOnce()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- sanity: relational agg (S5 scan + pruning path) ---
    "q1_agg" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    // --- J1: exact brute-force k-NN join, L2 ---
    "j1_knn_l2" -> ((s, dir) =>
      KnnJoin.knnJoin(Tables.embQueries(s, dir), Tables.embBase(s, dir),
          k = 10, metric = "l2")
        .select(col("qid"), col("rank"), col("id"))),
    // --- J1 variant: cosine metric ---
    "j1_knn_cosine" -> ((s, dir) =>
      KnnJoin.knnJoin(Tables.embQueries(s, dir), Tables.embBase(s, dir),
          k = 10, metric = "cosine")
        .select(col("qid"), col("rank"), col("id"))),
    // --- J2: gram-trick L2 (precomputed norms + dot) — same ordering as
    //     plain L2 on this data, so the same kNN oracle hash-matches ---
    "j2_knn_gram" -> ((s, dir) =>
      KnnJoin.knnJoin(Tables.embQueries(s, dir), Tables.embBase(s, dir),
          k = 10, metric = "l2_gram")
        .select(col("qid"), col("rank"), col("id"))),
    // --- A1-A6: IR metrics per query (pred = inner-product top-10,
    //     gt = L2 top-10 → non-trivial metric values) ---
    "a1_a6_metrics" -> ((s, dir) => {
      val q = Tables.embQueries(s, dir)
      val b = Tables.embBase(s, dir)
      // ONE base scan + broadcast cross join computes both metrics'
      // distances; both top-k heaps fill in the same aggregate — half the
      // scans/shuffles of running two kNN joins
      import graft.functions.VectorFunctions.{ip_dist, l2_dist}
      import graft.operators.TopKByDist.topK
      val qq = q.select(col("qid"), col("vector").as("__qvec"))
      val bb = b.select(col("id").as("__bid"), col("vector").as("__bvec"))
      val both = bb.crossJoin(broadcast(qq))
        .select(col("qid"), col("__bid"),
          l2_dist(col("__qvec"), col("__bvec")).as("__dl2"),
          ip_dist(col("__qvec"), col("__bvec")).as("__dip"))
        .groupBy("qid")
        .agg(topK(col("__bid"), col("__dl2"), 10).as("nn_gt"),
          topK(col("__bid"), col("__dip"), 10).as("nn_pred"))
        .select(col("qid"),
          transform(col("nn_gt"), x => x("id")).as("gt"),
          transform(col("nn_pred"), x => x("id")).as("pred"))
      both.select(
        col("qid"),
        Metrics.recallAtK(col("pred"), col("gt"), 10).as("recall_10"),
        Metrics.precisionAtK(col("pred"), col("gt"), 10).as("precision_10"),
        round(Metrics.apAtK(col("pred"), col("gt"), 10), 6).as("ap_10"),
        round(Metrics.ndcgAtK(col("pred"), col("gt"), 10), 6).as("ndcg_10"),
        Metrics.hitAtK(col("pred"), col("gt"), 10).as("hit_10"),
        Metrics.rrAtK(col("pred"), col("gt"), 10).as("rr_10"))
    }),
    // --- A7: latency-style stats (exact percentiles) over events.value ---
    "a7_latency_stats" -> ((s, dir) => {
      val stats = Metrics.latencyStats(Tables.load(s, dir, "events"), "value")
      stats.select(stats.columns.map(c => round(col(c), 6).as(c)): _*)
    }),
    // --- P5: text normalization filter (trim + drop empty) ---
    "p5_text_filter" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), trim(col("text")).as("text"))
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))),
    // --- A14: dedup-by-text, first-seen wins (dataset.py:729-741).
    //     groupBy + min/min_by instead of a Window: partial (map-side)
    //     aggregation, no per-group sort — the scalable first-seen plan ---
    "a14_dedup_text" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"))
        .select(col("doc_id"), col("lang"))),
    // --- J13: id-alignment equi-join chain (orders→customer→nation) ---
    "j13_align_join" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),
    // --- J14: seeded train/test split via anti-join (dataset.py:638-652) ---
    "j14_train_test_split" -> ((s, dir) => {
      val base = Tables.load(s, dir, "embeddings").select(col("vec_id"))
      val test = base.filter(col("vec_id") % 10 === 0)
      base.join(test, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("n_train"),
          sum(col("vec_id")).as("idsum"))
    }),
    // --- J3-J7: LSH bucket-probe pipeline; self-validating — the summary
    //     row vanishes if recall drops below the floor, so the driver's
    //     rows-check detects a regression (random hyperplanes → no SQL
    //     oracle for the exact values) ---
    "j3_lsh_pipeline" -> annRecall("lsh", "lsh", "lsh",
      Map("num_tables" -> "12", "hash_size" -> "4", "candidate_multiplier" -> "32"),
      "cosine", floor = 0.45),
    // --- J4: E2LSH bucket-probe pipeline (L2): floor((p.v+b)/w) tuple
    //     keys folded polynomially, same vote/cap/rerank relational plan;
    //     planes+offsets are seeded deterministic data -> SQL-replicated ---
    "j4_e2lsh_pipeline" -> annRecall("e2lsh", "lsh", "lsh",
      Map("num_tables" -> "8", "hash_size" -> "4", "bucket_width" -> "4.0",
        "candidate_multiplier" -> "32"), "l2", floor = 0.40),
    // --- J8: IVF partition-pruned probe ---
    "j8_ivf_probe" -> annRecall("ivf", "ivf", "ivf",
      Map("nlist" -> "16", "nprobe" -> "4"), "l2", floor = 0.55),
    // --- J8+: incremental IVF ingestion (FAISS IndexIVF.add semantics —
    //     the coarse model NEVER retrains on add; the 100 TB operational
    //     path where daily arrivals must not rebuild a corpus-sized
    //     index): build on the even ids, append the odd ids against the
    //     frozen centroids, probe the appended index. The oracle replays
    //     the full pipeline with EVEN-half-trained centroid literals
    //     assigning ALL rows, so a wrong or missing appended row breaks
    //     the hash, not just the recall floor ---
    "j8_ivf_append" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val b = Tables.embBase(s, dir).cache()
      val art = graft.operators.IvfIndexer(nlist = 16, seed = 42)
        .build(b.filter(col("id") % 2 === 0))
      val appended = graft.operators.IvfModel
        .append(art, b.filter(col("id") % 2 =!= 0))
      val res = graft.operators.IvfSearcher(nprobe = 4, "l2")
        .search(appended, q, 10)
      val gt = KnnJoin.knnJoinAgg(q, b, 10, "l2")
        .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
      val pred = res.groupBy("qid")
        .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
        .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
      gt.join(pred, Seq("qid"), "left")
        .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
        .agg(
          lit("ivf_append").as("algorithm"),
          count(lit(1)).as("n_queries"),
          round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"),
          round(avg(Metrics.rrAtK(col("pred"), col("gt"), 10)), 4).as("mrr_10"))
        .filter(col("recall_10") >= 0.50)
    }),
    // --- J8+: filtered ANN search (the vector-DB "metadata predicate +
    //     vector search" shape): the index is built on the FULL corpus
    //     (same seeded centroids as j8_ivf_probe — the oracle reuses its
    //     literals), the predicate (label < 5, ~half the rows) restricts
    //     the index RELATION before the probe join — pre-filtering, so
    //     pruning and the predicate compose in one plan and top-k is
    //     never starved by post-filtering. GT is exact kNN over the
    //     allowed rows ---
    "j8_ivf_filtered" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
      val b = Tables.embBase(s, dir).cache()
      val allowed = emb.filter(col("label") < 5)
        .select(col("vec_id").as("id"))
      val art = graft.operators.IvfIndexer(nlist = 16, seed = 42).build(b)
      val filteredArt = art.copy(data =
        art.data.join(allowed, Seq("id"), "left_semi"))
      val res = graft.operators.IvfSearcher(nprobe = 4, "l2")
        .search(filteredArt, q, 10)
      val gt = KnnJoin.knnJoinAgg(q,
          b.join(allowed, Seq("id"), "left_semi"), 10, "l2")
        .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
      val pred = res.groupBy("qid")
        .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
        .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
      gt.join(pred, Seq("qid"), "left")
        .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
        .agg(
          lit("ivf_filtered").as("algorithm"),
          count(lit(1)).as("n_queries"),
          round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"),
          round(avg(Metrics.rrAtK(col("pred"), col("gt"), 10)), 4).as("mrr_10"))
        .filter(col("recall_10") >= 0.50)
    }),
    // --- J8 exact limit: full probe (nprobe = nlist) ≡ brute force —
    //     hash-matched against the same DuckDB kNN oracle as j1_knn_l2 ---
    "j8_ivf_fullprobe" -> annExploded("ivf", "ivf", "ivf",
      Map("nlist" -> "16", "nprobe" -> "16"), "l2"),
    // --- J9: PQ asymmetric-distance scoring ---
    "j9_pq_adc" -> annRecall("pq", "pq", "pq",
      Map("num_subspaces" -> "16", "num_centroids" -> "64"), "l2", floor = 0.50),
    // --- J9+: OPQ rotation ahead of PQ (beyond the reference — FAISS
    //     `OPQ16,PQ16` shape). Hash-model tier since r9: the learned
    //     rotation is deterministic given seed + sample cap (same
    //     property as the PQ codebooks), so the oracle embeds R and the
    //     codebooks as literals and replays rotate → encode → ADC in SQL
    //     (dev/DumpOpq generates + validates the literals). OpqSpec
    //     asserts orthogonality and reconstruction error ≤ plain PQ ---
    "j9_opq_adc" -> annRecall("opq_pq", "opq_pq", "opq_pq",
      Map("num_subspaces" -> "16", "num_centroids" -> "64"), "l2", floor = 0.50),
    // --- J10: IVF×SQ8 composition ---
    "j10_ivf_sq8" -> annRecall("ivf_sq8", "ivf_sq8", "ivf_sq8",
      Map("nlist" -> "16", "nprobe" -> "8"), "l2", floor = 0.75),
    // --- SQ8 standalone scalar quantization ---
    "j10_sq8" -> annRecall("sq8", "sq8", "sq8", Map(), "l2", floor = 0.95),
    // --- J10 composition: IVF×PQ (the reference's ivf_pq benchmark rows) ---
    "j10_ivf_pq" -> annRecall("ivf_pq", "ivf_pq", "ivf_pq",
      Map("nlist" -> "16", "nprobe" -> "8", "num_subspaces" -> "16",
        "num_centroids" -> "64"), "l2", floor = 0.45),
    // --- J10+: filtered ANN over the quantized compositions — the same
    //     pre-filtering semantics as j8_ivf_filtered (the predicate
    //     restricts the index RELATION before the probe, via
    //     FilteredSearch) composed with j10's frozen models. The oracle
    //     is DERIVED from the unfiltered gate's oracle by marked
    //     rewrites (same centroid/codebook literals, same quantized
    //     arithmetic) so the two can never drift ---
    "j10_ivf_sq8_filtered" -> annRecallFiltered("ivf_sq8",
      (s, dir) => graft.operators.IvfSq8Indexer(nlist = 16, seed = 42),
      graft.operators.IvfSq8Searcher(nprobe = 8, "l2"), floor = 0.75),
    "j10_ivf_pq_filtered" -> annRecallFiltered("ivf_pq",
      (s, dir) => graft.operators.IvfPqIndexer(nlist = 16, numSubspaces = 16,
        numCentroids = 64, seed = 42),
      graft.operators.IvfPqSearcher(nprobe = 8, "l2"), floor = 0.45),
    // --- J12: CoverTree exact search — recall ≡ 1.0 by construction, so
    //     the exploded rows hash-match the j1_knn_l2 DuckDB oracle ---
    "j12_covertree" -> annExploded("covertree", "covertree", "covertree",
      Map(), "l2"),
    // --- J12+: filtered exact kNN — the cover-tree IDSelector walk
    //     (every node navigates, only allowed ids enter the heap; the
    //     triangle-inequality bound from the allowed-only heap can only
    //     loosen) stays EXACT over the allowed subset, so the exploded
    //     rows hash-match the label-restricted kNN oracle — the filtered
    //     family's one exact hash-tier gate ---
    "j12_covertree_filtered" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
      val b = Tables.embBase(s, dir).cache()
      val allowed = emb.filter(col("label") < 5)
        .select(col("vec_id").as("id"))
      val art = graft.operators.CoverTreeIndexer("l2").build(b)
      // strictSelector: this gate's oracle is the EXACT filtered kNN —
      // if the allowed set ever outgrows the selector-walk cap at a
      // future scale decade, fail naming the cap instead of surfacing
      // an unattributable hash mismatch from the approximate fallback
      graft.operators.FilteredSearch.search(
          graft.operators.CoverTreeSearcher("l2"), art, q, 10, allowed,
          strictSelector = true)
        .select(col("qid"), col("rank"), col("id"))
    }),
    // --- J11: per-partition NSW graph search (the distributed path).
    //     Graph traversal isn't SQL-expressible, so the gate emits only
    //     the deterministic gate row (algorithm, n_queries, recall_floor)
    //     AFTER the recall>=floor filter: a recall regression drops the
    //     row and the oracle compare fails on rows/hash ---
    "j11_hnsw" -> annRecallGated("hnsw", "hnsw", "hnsw",
      Map("n_partitions" -> "8", "m" -> "8", "nprobe" -> "3",
        "ef_search" -> "64"), "l2", floor = 0.60),
    // --- J11 reference shape: multi-layer global HNSW (driver-built,
    //     broadcast; M=16 efC=200 mirrors hnsw.py:76-81) ---
    "j11_hnsw_global" -> annRecallGated("hnsw_global", "hnsw_global", "hnsw_global",
      Map("m" -> "16", "ef_construction" -> "200", "ef_search" -> "100"),
      "l2", floor = 0.85),
    // --- J11+: incremental graph ingestion (FAISS IndexHNSW.add,
    //     hnsw.py:76-81 delegation): build per-centroid graphs on the
    //     even ids, append the odd ids through the FROZEN coarse router
    //     (touched subgraphs rebuild; IvfAppendSpec proves the rebuild ≡
    //     one-shot identity), search the appended index against exact GT
    //     over ALL rows. Floor tier like j11_hnsw: n_rows = nq×k pins
    //     every query to a full result, n_bad_dist = 0 pins every
    //     reported distance to the recomputed exact value ---
    "j11_append" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val b = Tables.embBase(s, dir).cache()
      val art = graft.operators.HnswIndexer(nPartitions = 8, m = 8,
        efConstruction = 32, metric = "l2", seed = 42)
        .build(b.filter(col("id") % 2 === 0))
      val appended = graft.operators.IndexAppend
        .append(art, b.filter(col("id") % 2 =!= 0))
      val res = graft.operators.HnswSearcher(nprobe = 3, efSearch = 64,
        metric = "l2").search(appended, q, 10).cache()
      val floor = 0.60
      val gt = KnnJoin.knnJoinAgg(q, b, 10, "l2")
        .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
      val pred = res.groupBy("qid")
        .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
        .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
      val recallRow = gt.join(pred, Seq("qid"), "left")
        .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
        .agg(
          lit("hnsw_append").as("algorithm"),
          count(lit(1)).as("n_queries"),
          round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"))
        .filter(col("recall_10") >= floor)
      val dist = graft.functions.VectorFunctions.distance("l2") _
      val integrity = res
        .join(q.select(col("qid"), col("vector").as("_qv")), Seq("qid"), "left")
        .join(b.select(col("id"), col("vector").as("_bv")), Seq("id"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_bv").isNull || col("_qv").isNull ||
              abs(col("dist") - dist(col("_qv"), col("_bv"))) >
                lit(1e-3) * greatest(lit(1.0), abs(col("dist"))), 1L)
            .otherwise(0L)).as("n_bad_dist"))
      recallRow.crossJoin(integrity)
        .select(col("algorithm"), col("n_queries"),
          lit(floor).cast("double").as("recall_floor"),
          col("n_rows"), col("n_bad_dist"))
    }),
    // --- J11+: incremental graph DELETION (FAISS remove_ids on
    //     IndexHNSW): anti-join the rows out, rebuild ONLY the touched
    //     per-centroid subgraphs so no dangling positional edges remain
    //     (IndexAppend.delete) — the takedown/right-to-be-forgotten path
    //     that must never rebuild a corpus-sized index. Value checks:
    //     recall ≥ floor against GT computed on the REMAINDER corpus,
    //     n_rows = nq×k, n_bad_dist = 0, and n_deleted_hits = 0 (a
    //     deleted id surfacing in any result breaks the hash) ---
    "j11_delete" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val b = Tables.embBase(s, dir).cache()
      val art = graft.operators.HnswIndexer(nPartitions = 8, m = 8,
        efConstruction = 32, metric = "l2", seed = 42).build(b)
      val afterDelete = graft.operators.IndexAppend.delete(art,
        b.filter(col("id") % 7 === 0).select("id"))
      val remainder = b.filter(col("id") % 7 =!= 0)
      val res = graft.operators.HnswSearcher(nprobe = 3, efSearch = 64,
        metric = "l2").search(afterDelete, q, 10).cache()
      val floor = 0.60
      val gt = KnnJoin.knnJoinAgg(q, remainder, 10, "l2")
        .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
      val pred = res.groupBy("qid")
        .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
        .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
      val recallRow = gt.join(pred, Seq("qid"), "left")
        .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
        .agg(
          lit("hnsw_delete").as("algorithm"),
          count(lit(1)).as("n_queries"),
          round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"))
        .filter(col("recall_10") >= floor)
      val dist = graft.functions.VectorFunctions.distance("l2") _
      val integrity = res
        .join(q.select(col("qid"), col("vector").as("_qv")), Seq("qid"), "left")
        .join(b.select(col("id"), col("vector").as("_bv")), Seq("id"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_bv").isNull || col("_qv").isNull ||
              abs(col("dist") - dist(col("_qv"), col("_bv"))) >
                lit(1e-3) * greatest(lit(1.0), abs(col("dist"))), 1L)
            .otherwise(0L)).as("n_bad_dist"),
          sum(when(col("id") % 7 === 0, 1L).otherwise(0L)).as("n_deleted_hits"))
      recallRow.crossJoin(integrity)
        .select(col("algorithm"), col("n_queries"),
          lit(floor).cast("double").as("recall_floor"),
          col("n_rows"), col("n_bad_dist"), col("n_deleted_hits"))
    }),
    // --- J11+: filtered graph search — the walk needs full
    //     connectivity, so FilteredSearch routes to the IDSelector-style
    //     selector walk (traverse everything, collect only allowed ids;
    //     the allowed flags ride co-partitioned with the adjacency — vs
    //     the pre-filtering j8/j10 gates). Post-filtering an oversampled
    //     walk was measured BELOW the floor at the 100× pass — the
    //     selector is what scales. Value checks: n_rows = nq×k (the
    //     selector never starves a query), n_bad_dist = 0 (exact
    //     recomputed distances), n_disallowed = 0 (the predicate
    //     actually holds on every returned row) ---
    "j11_hnsw_filtered" -> ((s, dir) => {
      graft.operators.Registry.init()
      val q = Tables.embQueries(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
      val b = Tables.embBase(s, dir).cache()
      val allowed = emb.filter(col("label") < 5).select(col("vec_id").as("id"))
      val art = graft.operators.HnswIndexer(nPartitions = 8, m = 8,
        efConstruction = 32, metric = "l2", seed = 42).build(b)
      val res = graft.operators.FilteredSearch.search(
        graft.operators.HnswSearcher(nprobe = 3, efSearch = 64, metric = "l2"),
        art, q, 10, allowed, oversample = 8).cache()
      val floor = 0.60
      val gt = KnnJoin.knnJoinAgg(q, b.join(allowed, Seq("id"), "left_semi"), 10, "l2")
        .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
      val pred = res.groupBy("qid")
        .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
        .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
      val recallRow = gt.join(pred, Seq("qid"), "left")
        .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
        .agg(
          lit("hnsw_filtered").as("algorithm"),
          count(lit(1)).as("n_queries"),
          round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"))
        .filter(col("recall_10") >= floor)
      val dist = graft.functions.VectorFunctions.distance("l2") _
      val integrity = res
        .join(q.select(col("qid"), col("vector").as("_qv")), Seq("qid"), "left")
        .join(b.select(col("id"), col("vector").as("_bv")), Seq("id"), "left")
        .join(allowed.withColumn("_ok", lit(1)), Seq("id"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_bv").isNull || col("_qv").isNull ||
              abs(col("dist") - dist(col("_qv"), col("_bv"))) >
                lit(1e-3) * greatest(lit(1.0), abs(col("dist"))), 1L)
            .otherwise(0L)).as("n_bad_dist"),
          sum(when(col("_ok").isNull, 1L).otherwise(0L)).as("n_disallowed"))
      recallRow.crossJoin(integrity)
        .select(col("algorithm"), col("n_queries"),
          lit(floor).cast("double").as("recall_floor"),
          col("n_rows"), col("n_bad_dist"), col("n_disallowed"))
    }),
    // --- P1: row normalization (zero-norm → zero-vector convention) ---
    "p1_normalize" -> ((s, dir) =>
      Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        round(col("embedding").getItem(0).cast("double") /
          graft.functions.VectorFunctions.vec_norm(col("embedding")), 6).as("e0_unit"),
        round(graft.functions.VectorFunctions.vec_norm(col("embedding")), 6).as("norm"))),
    // --- T1: global top-k without full sort (TakeOrderedAndProject) ---
    "t1_global_topk" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),
    // ================= training-data pipeline family =================
    // --- exact dedup via normalized-text fingerprint ---
    "dedup_exact_fp" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique"))),
    // --- n-gram (word-set) Jaccard similarity join, lang-blocked;
    //     prefix-filtered (AllPairs) so the candidate join is on
    //     fine-grained (block, rare-token) keys, not block-quadratic ---
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardSimilarityJoinPrefix(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang", threshold = 0.9)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),
    // --- sampled restriction of the SAME full-corpus join: pairs with
    //     both endpoints in the seeded subset S = {doc_id % 7 == 0}. A
    //     pair's jaccard depends only on its two texts and the join is
    //     exact, so restricting the full output to S×S equals the
    //     all-pairs join over S alone — which DuckDB can afford at
    //     scales where the full O(n²) oracle cannot. This is the scaled
    //     pass's value check on the quadratic-oracle join family: the
    //     SPARK side still runs over the whole corpus (full-corpus token
    //     statistics, prefix selection, candidate pruning), so a
    //     scale-only pruning bug shows up here even though the oracle
    //     only recomputes the S×S slice ---
    "dedup_jaccard_sampled" -> ((s, dir) =>
      Dedup.jaccardSimilarityJoinPrefix(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang", threshold = 0.9)
        .filter(col("a") % 7 === 0 && col("b") % 7 === 0)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),
    // --- connected components over the jaccard dup-pair graph: the
    //     cluster-aware retention unit (min-reachable-id label per doc;
    //     singletons label themselves). Neighbor-min + pointer-jumping
    //     equi-join rounds — no driver-side graph ---
    "dedup_components" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text",
        "lang", threshold = 0.9)
      Dedup.componentLabels(docs, "doc_id", pairs)
    }),
    // --- subset-scoped components: unlike the jaccard join, component
    //     labels are NOT restriction-closed (a path can leave the
    //     subset), so BOTH engines run on the induced subcorpus
    //     S = {doc_id % 7 == 0}. This value-checks the full component
    //     machinery — the prefix-filtered pair join, the neighbor-min +
    //     pointer-jumping fixed point, and the capped-driver-vs-
    //     distributed path selection — at ~n/7 of scales where the full
    //     transitive-closure oracle is out of DuckDB's reach ---
    "dedup_components_sampled" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      val pairs = Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text",
        "lang", threshold = 0.9)
      Dedup.componentLabels(docs, "doc_id", pairs)
    }),
    // --- MinHash-LSH near-dup pipeline (splitmix64-seeded → no SQL
    //     oracle); self-validating: the row vanishes unless dup pairs were
    //     found, every verified jaccard clears the threshold, and the
    //     near-dedup actually removed the dup side of each pair ---
    "dedup_minhash" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.7).cache()
      val survivors = Dedup.dropNearDups(docs, "doc_id", pairs)
      pairs.agg(count(lit(1)).as("n_dup_pairs"),
          round(avg("jaccard"), 4).as("avg_jaccard"),
          round(min("jaccard"), 4).as("min_jaccard"))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .crossJoin(docs.agg(count(lit(1)).as("__n_docs")))
        .filter(col("n_dup_pairs") > 0 && col("min_jaccard") >= 0.7 &&
          col("n_survivors") > 0 && col("n_survivors") < col("__n_docs"))
        .drop("__n_docs")
    }),
    // --- SimHash near-dup pipeline (hamming ≤ 3 via pigeonhole bands);
    //     self-validating: pairs exist and every pair honors the bound ---
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDupPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
          min("hamming").cast("long").as("min_hamming"),
          max("hamming").cast("long").as("max_hamming"))
        .filter(col("n_pairs") > 0 && col("max_hamming") <= 3)),
    // --- embedding cosine near-dup: top-20 most-similar pairs as a SELF
    //     kNN-join (broadcast queries × one base scan + bounded heap — the
    //     J1 shape; shuffle O(n·k), never O(n²) rows). The gate data has
    //     no planted near-dups (top cosines ≈ 0.45-0.6), a regime where
    //     sign-LSH provably cannot prune (per-plane agreement 0.645 vs
    //     0.5), so bucketed candidates would shuffle ~all pairs; exact
    //     top-k-pairs IS the right plan here. A pair in the global top-20
    //     necessarily sits in both endpoints' per-point top-20, so k=21
    //     (incl. self) is lossless. At a real dup threshold (≥0.8) use
    //     Dedup.embeddingDupPairs, whose LSH blocking does prune. ---
    "dedup_embedding_top" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      // self-kNN scans n·n pairs in the base-side stage: floor its scan
      // parallelism (r14, Par scaladoc — one small-file split otherwise
      // runs the whole pair scan on one core; no-op at scale)
      KnnJoin.knnJoin(e, graft.operators.Par.fan(e, col("vec_id"), 16 * 1024L),
          k = 21, metric = "cosine",
          queryIdCol = "vec_id", queryVecCol = "embedding",
          baseIdCol = "vec_id", baseVecCol = "embedding")
        .filter(col("id") =!= col("qid"))
        // cosine_dist is symmetric bit-for-bit (commutative dot/norms), so
        // the two directions of a pair carry identical dist values
        .select(least(col("qid"), col("id")).as("a"),
          greatest(col("qid"), col("id")).as("b"),
          (lit(1.0) - col("dist")).as("cosine"))
        .dropDuplicates("a", "b")
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
    }),
    // --- subset-scoped top-pairs: a global top-20 is not restriction-
    //     closed (a full-corpus top pair can have one endpoint outside
    //     the subset), so BOTH engines rank pairs within the induced
    //     subset S = {vec_id % 7 == 0}. Same self-kNN-join plan as
    //     dedup_embedding_top (k=21 is lossless for within-S top-20);
    //     gives the O(n²)-oracle pair-ranking family a value check at
    //     ~n/7 of scales where the full all-pairs oracle is infeasible ---
    "dedup_embedding_sampled" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
      // NO Par.fan here (r15, r14 verdict #2): the induced mod-7 subcorpus
      // is ~n/7 rows (~300 at sf0.1) and its pair scan is (n/7)² — the r14
      // fan's extra Exchange on that relation cost 4× more than the scan
      // (0.3→1.3 s, anti-scaling ratio 0.15); the full-corpus twin below
      // keeps its floor where the n² scan is real work
      KnnJoin.knnJoin(e, e,
          k = 21, metric = "cosine",
          queryIdCol = "vec_id", queryVecCol = "embedding",
          baseIdCol = "vec_id", baseVecCol = "embedding")
        .filter(col("id") =!= col("qid"))
        .select(least(col("qid"), col("id")).as("a"),
          greatest(col("qid"), col("id")).as("b"),
          (lit(1.0) - col("dist")).as("cosine"))
        .dropDuplicates("a", "b")
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
    }),
    // --- SemDeDup-style semantic dedup: seeded k-means blocks the
    //     corpus, only within-cluster pairs score (hash-model: the
    //     oracle replays the seeded centroids as literals, like J8) ---
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semanticDupPairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", numClusters = 8, threshold = 0.3)
        .select(col("a"), col("b"), col("cluster"),
          round(col("cosine"), 6).as("cosine"))),
    // --- text quality scoring + token counting ---
    "text_quality" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    // --- heuristic language id ---
    "text_langid" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))),
    // --- Gopher-style repetition signals (boilerplate/spam filter
    //     inputs): one shuffle-free UDF pass per document ---
    "text_repetition" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          round(col("r.top_word_frac"), 6).as("top_word_frac"),
          round(col("r.top_2gram_frac"), 6).as("top_2gram_frac"),
          round(col("r.dup_3gram_frac"), 6).as("dup_3gram_frac"))),
    // --- PII scrub: engine-portable regex redaction (emails → phones →
    //     IPs, order is part of the contract) plus per-doc hit counts.
    //     The synthetic corpus carries no PII, so each doc gets a
    //     deterministic doc_id-derived email/phone/IP appended — the
    //     scrub then has real work whose output DuckDB replays exactly ---
    "text_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          TextAnalysis.piiScrub(col("t")).as("scrubbed"),
          TextAnalysis.piiCounts(col("t")).as("c"))
        .select(col("doc_id"), col("scrubbed"),
          col("c.n_email").as("n_email"), col("c.n_phone").as("n_phone"),
          col("c.n_ip").as("n_ip"))
    }),
    // --- cross-document duplicated spans (substring-dedup tier): per doc,
    //     how many of its distinct word 5-grams appear in ≥1 other doc;
    //     inverted-index shape, two equi-shuffles on the span key ---
    "dedup_span_stats" -> ((s, dir) =>
      Dedup.crossDocSpanStats(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 5)),
    // --- deterministic content-hash sampling, stratified audit: the
    //     keep decision is a pure function of (doc_id, salt), so the
    //     sample is identical across partitionings/retries/engines ---
    "corpus_sample" -> ((s, dir) =>
      Sampling.stratifiedSampleCounts(Tables.load(s, dir, "documents"),
        "doc_id", "lang", rate = 0.1)),
    // --- benchmark decontamination: train docs sharing any word 5-gram
    //     with the (deterministic doc_id%17) eval split; inverted-index
    //     equi-join on the gram key, eval side broadcast ---
    "decontam_overlap" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Corpus.contaminationReport(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 5)
    }),
    // --- C4/Gopher-style heuristic filter audit per source: independent
    //     boolean signals (short / long-word / low-stopword / repetitive)
    //     counted in one shuffle-free scan + tiny groupBy ---
    "text_c4_filter" -> ((s, dir) =>
      Corpus.c4FilterAudit(Tables.load(s, dir, "documents"),
        "text", "source")),
    // --- domain-mixture sampling audit: uniform target share per source,
    //     per-group hash threshold derived INSIDE the plan (so the oracle
    //     reproduces it bit-for-bit); keep decision is partition-invariant ---
    "corpus_mixture" -> ((s, dir) =>
      Corpus.mixtureAudit(Tables.load(s, dir, "documents"),
        "doc_id", "source", budgetFrac = 0.5)),
    // --- per-domain cap (C4/Gopher corpus balance): keep the 10 best
    //     docs per source by (n_chars desc, doc_id). Rank filter → map-
    //     side Partial WindowGroupLimit, so ≤ n rows per domain cross
    //     the exchange (plan asserted in spec; measured vs the explicit
    //     bounded-heap formulation in the removed dev/DomainCapProbe) ---
    "corpus_domain_cap" -> ((s, dir) =>
      Corpus.domainCap(Tables.load(s, dir, "documents"),
          "doc_id", "source", "n_chars", n = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    // --- corpus-wide top-20 word bigrams by document frequency:
    //     explode → partial agg → TakeOrderedAndProject (no full sort) ---
    "text_topk_ngrams" -> ((s, dir) =>
      Corpus.topNgramsByDf(Tables.load(s, dir, "documents"),
        "text", n = 2, k = 20)),
    // --- BM25 lexical retrieval (every 53rd doc's first 200 chars as a
    //     query — retrieval queries are short — top-5): inverted-index
    //     postings relation, corpus-sized side never reshuffled (query
    //     terms broadcast), fixed-point associative scoring, rank filter
    //     → WindowGroupLimit. Int-only output ---
    "text_bm25_topk" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bm25.searchTopK(docs,
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
    }),
    // --- BM25 served from the PERSISTED index (the 100 TB repeated-batch
    //     path): postings bucketed by term + (term, df) + stats written
    //     once, then scoring touches only query-term rows — no corpus
    //     re-tokenization, no postings aggregate at serve time. Results
    //     are defined to equal the inline path, so it replays the same
    //     oracle. r13: the scoring pass routes the block-max WAND kernel
    //     over the same term-pruned index relations (bit-identical by
    //     the text_bm25_wand contract; equality-asserted at 10× by
    //     the removed dev/ServeWandAb) — the relational Σ qf·df join it replaces
    //     measured 290 s vs WAND's 3.6 s at 50k docs × 944 queries ---
    "text_bm25_serve" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // ensureIndex: built once per (dir-keyed) index name — a bench that
      // pre-warmed fixtures times pure serving here, which is what the
      // gate's name claims; a cold runner (Verify) still self-builds
      Bm25.ensureIndex(docs, "doc_id", "text", bm25GateIndex(dir), buckets = 8)
      Bm25.searchFromIndexWand(s, bm25GateIndex(dir),
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
    }),
    // --- BM25 with champion lists (MRS §7.1.3) — the at-scale scoring
    //     path: per-term postings truncated to the top-32 by the query-
    //     independent impact tf/(tf+k1·(1−b+b·dl/avgdl)) (fixed-point
    //     1e9-ranked, doc_id tiebreak) BEFORE the scoring join, bounding
    //     the candidate space to Σ_t qf(t)·min(df(t), 32). Found at the
    //     100× pass: exact scoring's Σ qf·df candidate join overflowed
    //     local disk at 9.4k queries × 500k docs; this gate pins the
    //     truncated semantics with a full DuckDB replay and runs at 100×
    //     on BOTH engines. df/idf remain exact corpus statistics.
    //     N=32 is a COST-bound operating point (candidate space
    //     Σ_t qf·min(df, 32)), not an exactness claim: the r13 Zipf
    //     sweep (the removed dev/ChampionSweep, flat + Zipf corpora × long + short
    //     queries) measures top-5 agreement ≤0.62 for ANY champion
    //     variant at N ≤ 128 on this generator while exact WAND costs
    //     less — exact serving routes text_bm25_wand ---
    "text_bm25_champion" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bm25.searchTopK(docs,
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 5,
          championListSize = Some(32))
        .select("query_id", "doc_id", "rank")
    }),
    // --- EXACT BM25 top-k via block-max WAND (Broder CIKM'03 / Ding &
    //     Suel SIGIR'11) — the at-scale EXACT path: DAAT cursors with
    //     threshold pruning keep ≤ k rows per query; the Σ_t qf(t)·df(t)
    //     candidate join that overflowed 80 GB of spill at the 100× pass
    //     never materializes. A batch touching ≤ 200,000 postings
    //     (Bm25.driverWandMaxPostings) scores on the driver, a larger one
    //     doc-partitioned (≤ k rows per (partition, query)). Results are
    //     contracted bit-identical to text_bm25_topk (same fixed-point
    //     contributions, same tie-break) — same oracle ---
    "text_bm25_wand" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bm25.searchTopKWand(docs,
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
    }),
    // --- hybrid retrieval (the RAG-standard shape): BM25 lexical arm +
    //     dense cosine-kNN arm fused by reciprocal-rank fusion (k0=60,
    //     Cormack et al. 2009). Both arms ARE the already-gated operators
    //     (text_bm25_topk / j1_knn_cosine machinery) at k=10; fusion
    //     shuffles only n_queries·k·2 rows — corpus-size-independent —
    //     and sums fixed-point contributions (associative). The corpus is
    //     documents+embeddings zipped by id (doc_id ≡ vec_id, TESTDATA).
    //     The lexical arm runs the WAND path (r12) — bit-identical to
    //     searchTopK by contract (text_bm25_wand's gate pins that), on
    //     the driver or distributed by its Σ df, and it removes the arm's
    //     Σ qf·df candidate blow-up, so the hybrid gates complete at the
    //     100× scale where the relational exact arm overflowed local
    //     spill ---
    "hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = Bm25.searchTopKWand(docs,
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 10)
        .select(col("query_id").as("qid"), col("doc_id").as("id"), col("rank"))
      val den = KnnJoin.knnJoin(
          emb.filter(col("vec_id") % 53 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector")),
          emb.select(col("vec_id").as("id"), col("embedding").as("vector")),
          k = 10, metric = "cosine")
        .select(col("qid"), col("id"), col("rank"))
      graft.operators.Hybrid.rrfFuse(Seq(lex, den), k = 10)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("doc_id"), col("rrf"))
    }),
    // --- weighted fusion arm (0.75 lexical / 0.25 dense — binary-exact
    //     weights so the oracle's literal w·S constants replay the
    //     fixed-point contributions bit-exactly): same arms as
    //     hybrid_rrf, the weight folded into each contribution before
    //     rounding. Oracle DERIVED from hybrid_rrf's by weight-literal
    //     rewrites ---
    "hybrid_rrf_weighted" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = Bm25.searchTopKWand(docs,
          docs.filter(col("doc_id") % 53 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 10)
        .select(col("query_id").as("qid"), col("doc_id").as("id"), col("rank"))
      val den = KnnJoin.knnJoin(
          emb.filter(col("vec_id") % 53 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector")),
          emb.select(col("vec_id").as("id"), col("embedding").as("vector")),
          k = 10, metric = "cosine")
        .select(col("qid"), col("id"), col("rank"))
      graft.operators.Hybrid.rrfFuseWeighted(
          Seq(lex -> 0.75, den -> 0.25), k = 10)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("doc_id"), col("rrf"))
    }),
    // --- 100×-reach sampled twins of the BM25/WAND/hybrid family (r13):
    //     the exact-BM25 oracle's Σ qf·df scoring join exceeds DuckDB's
    //     disk/budget at 100× (r12: 79 GB temp), leaving the WAND arm
    //     completion-checked but not value-checked there. BM25 over a
    //     subcorpus is a pure function of the subcorpus (df/avgdl/N all
    //     recomputed), so BOTH engines run on the SAME induced
    //     S = {doc_id % 13 == 0} with queries densified to every 7th
    //     sampled doc (% 91 overall: 6 queries at sf0.01, ~5.5k at 100×
    //     where the oracle's join shrinks ~22× vs the full replay). The
    //     Spark side exercises the identical WAND operator ---
    "text_bm25_wand_sampled" -> ((s, dir) => {
      val sub = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
      Bm25.searchTopKWand(sub,
          sub.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
    }),
    // --- sampled twin of hybrid_rrf: both arms on the induced mod-13
    //     subcorpus (documents AND embeddings — doc_id ≡ vec_id), fusion
    //     unchanged. Gives the fused path a hash-tier value check at the
    //     scale where the full oracles hit budget/disk ---
    "hybrid_rrf_sampled" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 13 === 0)
      val lex = Bm25.searchTopKWand(docs,
          docs.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("qid"),
              substring(col("text"), 1, 200).as("qtext")),
          "doc_id", "text", "qid", "qtext", k = 10)
        .select(col("query_id").as("qid"), col("doc_id").as("id"), col("rank"))
      val den = KnnJoin.knnJoin(
          emb.filter(col("vec_id") % 7 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector")),
          emb.select(col("vec_id").as("id"), col("embedding").as("vector")),
          k = 10, metric = "cosine")
        .select(col("qid"), col("id"), col("rank"))
      graft.operators.Hybrid.rrfFuse(Seq(lex, den), k = 10)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("doc_id"), col("rrf"))
    }),
    // --- hard-negative mining (metric-learning / dense-retriever
    //     training): for each anchor, the 10 nearest embeddings under
    //     cosine whose label differs from the anchor's. Anchors broadcast,
    //     corpus scanned once with the label predicate inside the codegen
    //     span, bounded-heap top-k — KnnJoin's 100 TB shape ---
    "mine_hard_negatives" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.operators.Mining.hardNegatives(
          emb.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector"),
              col("label")),
          emb.select(col("vec_id").as("id"), col("embedding").as("vector"),
            col("label")),
          k = 10, metric = "cosine")
        .select(col("qid"), col("rank"), col("id"))
    }),
    // --- 100×-reach twins of the exact-kNN family (r12): the j1-shape
    //     oracles are O(nq·n) interpreted list ops in DuckDB — beyond
    //     10× they exceed the scaled passes' oracle budget, leaving the
    //     family rows-only at 100×. Exact kNN over a subcorpus is a pure
    //     function of the subcorpus (restriction-closed), so BOTH
    //     engines run on the SAME induced S = {vec_id % 11 == 0} — the
    //     dedup_*_sampled pattern — and the family keeps hash-tier value
    //     checks at 100× (S ~18k base × ~360 queries there). The Spark
    //     side exercises the identical operators as the full gates. ---
    "j1_knn_sampled" -> ((s, dir) => {
      val sub = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 11 === 0)
      KnnJoin.knnJoin(
          sub.filter(col("vec_id") % 20 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector")),
          sub.select(col("vec_id").as("id"), col("embedding").as("vector")),
          k = 10, metric = "l2")
        .select(col("qid"), col("rank"), col("id"))
    }),
    "mine_hard_negatives_sampled" -> ((s, dir) => {
      val sub = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 11 === 0)
      graft.operators.Mining.hardNegatives(
          sub.filter(col("vec_id") % 20 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("vector"),
              col("label")),
          sub.select(col("vec_id").as("id"), col("embedding").as("vector"),
            col("label")),
          k = 10, metric = "cosine")
        .select(col("qid"), col("rank"), col("id"))
    }),
    "a1_a6_metrics_sampled" -> ((s, dir) => {
      val sub = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 11 === 0)
      val q = sub.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("vector"))
      val b = sub.select(col("vec_id").as("id"), col("embedding").as("vector"))
      import graft.functions.VectorFunctions.{ip_dist, l2_dist}
      import graft.operators.TopKByDist.topK
      val qq = q.select(col("qid"), col("vector").as("__qvec"))
      val bb = b.select(col("id").as("__bid"), col("vector").as("__bvec"))
      val both = bb.crossJoin(broadcast(qq))
        .select(col("qid"), col("__bid"),
          l2_dist(col("__qvec"), col("__bvec")).as("__dl2"),
          ip_dist(col("__qvec"), col("__bvec")).as("__dip"))
        .groupBy("qid")
        .agg(topK(col("__bid"), col("__dl2"), 10).as("nn_gt"),
          topK(col("__bid"), col("__dip"), 10).as("nn_pred"))
        .select(col("qid"),
          transform(col("nn_gt"), x => x("id")).as("gt"),
          transform(col("nn_pred"), x => x("id")).as("pred"))
      both.select(
        col("qid"),
        Metrics.recallAtK(col("pred"), col("gt"), 10).as("recall_10"),
        Metrics.precisionAtK(col("pred"), col("gt"), 10).as("precision_10"),
        round(Metrics.apAtK(col("pred"), col("gt"), 10), 6).as("ap_10"),
        round(Metrics.ndcgAtK(col("pred"), col("gt"), 10), 6).as("ndcg_10"),
        Metrics.hitAtK(col("pred"), col("gt"), 10).as("hit_10"),
        Metrics.rrAtK(col("pred"), col("gt"), 10).as("rr_10"))
    }),
    // --- coreset / diversity selection: greedy k-center (Gonzalez 1985 /
    //     Sener & Savarese 2018) over the embeddings — k shuffle-free
    //     corpus passes with an incrementally-min'd distance column +
    //     TakeOrdered argmax; the full selection trajectory (order and
    //     coverage radii) is value-checked by a recursive-CTE replay ---
    "corpus_kcenter" -> ((s, dir) =>
      graft.operators.Coreset.kCenterGreedy(
          Tables.load(s, dir, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vector")),
          k = 12, metric = "l2")
        .select(col("step"), col("id"), round(col("radius"), 6).as("radius"))),
    // --- MMR diversified re-ranking (Carbonell & Goldstein 1998, the
    //     RAG context-selection standard): exact cosine top-15 pool per
    //     query, then per-query greedy argmax λ·rel − μ·max-sim-to-
    //     selected down to 8, in one mapGroups over n_queries·15 rows.
    //     Full trajectory (order + scores) replayed by a recursive CTE ---
    "corpus_mmr" -> ((s, dir) =>
      graft.operators.Mmr.diversifiedTopK(
          Tables.embQueries(s, dir), Tables.embBase(s, dir),
          m = 15, nSelect = 8)
        .select(col("qid"), col("step"), col("id"),
          round(col("score"), 6).as("score"))),
    // --- CCNet-style LM perplexity scoring: add-0.5 bigram model
    //     trained relationally on the corpus scores every document;
    //     NLL accumulates as fixed-point longs (associative — engine/
    //     partitioning-independent). Int-only output ---
    "text_perplexity" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      LangModel.nllScore(docs, docs, "doc_id", "text", "doc_id", "text")
    }),
    // --- GPT-style pretraining sequence packing: concat tokens in id
    //     order, cut at a 512-token budget; two-phase cumsum (bounded
    //     windows), row-local span explode. Every sequence but the last
    //     must hold exactly 512 tokens — the oracle checks all of them ---
    "corpus_pack" -> ((s, dir) =>
      Corpus.packSequences(Tables.load(s, dir, "documents"),
        "doc_id", "text", budget = 512)),
    // --- overlapping token-window chunking (RAG/long-context prep):
    //     32-token windows, stride 24; shuffle-free row-local explode ---
    "text_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(Tables.load(s, dir, "documents"),
        "doc_id", "text", window = 32, stride = 24)),
    // --- skew-mitigated join: lang is a heavy-hitter key (mostly 'en'),
    //     the straggler shape at corpus scale; the salted join splits
    //     each hot key across 8 reducers and must equal the plain join
    //     bit-for-bit (the oracle IS the unsalted join) ---
    "skew_salted_join" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_in_lang"))
      graft.operators.Skew
        .saltedJoin(docs.select(col("doc_id"), col("lang")), byLang,
          "lang", "doc_id", replication = 8)
        .select(col("doc_id"), col("lang"), col("n_in_lang"))
    }),
    // --- winnowing fingerprints (MOSS, Schleimer et al. 2003): rolling
    //     window-min over positional 4-gram hashes; pairs sharing >= 2
    //     selected fingerprints. Detects bounded-length VERBATIM overlap
    //     with certainty (guarantee: any shared run of w+n-1 = 7 tokens
    //     fingerprints identically), complementing minhash/simhash
    //     similarity sketches. Oracle replays the full pipeline in SQL:
    //     same hash chain, window-min via ROWS BETWEEN, same df cap ---
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowDupPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 4, w = 4, minShared = 2, dfCap = 128)
        .select(col("id_a"), col("id_b"), col("n_shared"))),
    // --- bucketed co-located join: both sides written bucketBy(4, key)
    //     ONCE, then the join and the per-key agg both run with zero
    //     exchanges (plan asserted in PlanQualitySpec); bucketing is a
    //     pure storage-layout rewrite, so the oracle is the plain join ---
    "bucketed_join" -> ((s, dir) => {
      import graft.sources.Bucketing
      // the two bucketed writes are independent jobs — overlap them from
      // driver threads (guide §2.6: the second job's tasks back-fill the
      // first's straggler tail; identical tables either way)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val fOrders = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = Bucketing.writeBucketed(
          Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          "gate_bkt_orders", "o_orderkey", 4)
      })
      val fItems = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = Bucketing.writeBucketed(
          Tables.load(s, dir, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
          "gate_bkt_items", "o_orderkey", 4)
      })
      // collect BOTH outcomes before rethrowing (ADVICE r14): failing
      // fast on fOrders.get() would unwind the gate while the lineitem
      // write keeps running on the pool's non-daemon thread, free to
      // interleave with the next gate's catalog operations
      try {
        val outcomes = Seq(fOrders, fItems).map(f => scala.util.Try(f.get()))
        outcomes.foreach(_.get)
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      Bucketing
        .bucketedJoin(s, "gate_bkt_orders", "gate_bkt_items", "o_orderkey")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    }),
    // --- streaming-shaped tumbling window agg (batch plan of the
    //     Structured Streaming query in graft.streaming.EventsStream) ---
    "st_window_agg" -> ((s, dir) =>
      EventsStream.windowedAgg(Tables.load(s, dir, "events"), "1 hour")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))),
    // --- stateful streaming dedup (flatMapGroupsWithState), batch-mode
    //     plan: first doc per normalized-text fingerprint survives ---
    "st_dedup_stateful" -> ((s, dir) =>
      EventsStream.dedupByFingerprint(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"))),
    // --- streaming session windows per user ---
    "st_sessionize" -> ((s, dir) =>
      EventsStream.sessionize(Tables.load(s, dir, "events"), "30 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))),
    // --- streaming index serving: a REAL Structured Streaming run (two
    //     MemoryStream micro-batches through QueryStream.searchStream)
    //     over a prebuilt exact index — the union of the answered
    //     batches must equal the one-shot search, so the oracle is the
    //     same exact-kNN replay as j12_covertree (hash tier). Closes the
    //     last spec-only capability of the streaming family (r13 #8). ---
    "st_index_serve" -> ((s, dir) => {
      Registry.init()
      import s.implicits._
      val b = Tables.embBase(s, dir).cache()
      val art = Registry.indexer("covertree", Map("seed" -> "42"), "l2")
        .build(b)
      val searcher = Registry.searcher("covertree", Map.empty, "l2")
      // deterministic 2-batch split of the gate's query batch (vec_id is
      // a multiple of 50, so /50 parity halves it)
      val qRows = Tables.embQueries(s, dir)
        .as[(Long, Array[Float])].collect().toSeq
      val (q1, q2) = qRows.partition(r => (r._1 / 50) % 2 == 0)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = MemoryStream[(Long, Array[Float])]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
      val stream = graft.streaming.QueryStream.searchStream(
        mem.toDF.toDF("qid", "vector"), art, searcher, k = 10) { (res, _) =>
        out.synchronized {
          out ++= res.select("qid", "rank", "id")
            .as[(Long, Int, Long)].collect()
        }
      }
      try {
        mem.addData(q1); stream.processAllAvailable()
        mem.addData(q2); stream.processAllAvailable()
      } finally {
        stream.stop()
        // release the gate's base cache at gate end (r15, r14 verdict #8):
        // the next gate never reads it, and a leaked entry triggers
        // CacheManager re-cache warnings on the second bench pass
        b.unpersist()
      }
      out.synchronized(out.toSeq).toDF("qid", "rank", "id")
    }),
    // --- capstone composition: full corpus-cleaning pipeline (exact
    //     dedup → minhash near-dedup → quality floor → repetition floor
    //     → deterministic sample) with per-stage retention counts — the
    //     end-to-end training-data job shape ---
    "pipeline_corpus_clean" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val nIn = docs.count() // parquet metadata count, no column scan
      // each stage computed ONCE: the exact-dedup survivors are cached and
      // feed both the minhash signatures and the retention aggregate;
      // exact-survivor, near-dedup, quality, repetition and sample counts
      // all fold into a SINGLE conditional aggregate over a broadcast
      // dup-marker left join, so the whole pipeline is 2 actions with no
      // recomputed lineage (round 1 re-ran minhash per stage count —
      // 65.7 s; the r6 3-action shape benched 5.4–13.9 s; this one ~4 s
      // cold at sf0.1)
      val exact = Dedup.exactDedup(
        docs.withColumn("__fp", TextAnalysis.fingerprint(col("text"))),
        Seq("__fp"), "doc_id").drop("__fp").cache()
      val pairs = Dedup.minhashDupPairs(exact, "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.7)
      val keep = col("__dup").isNull // survives near-dedup (no smaller-id dup)
      val qOk = keep && TextAnalysis.qualityScore(col("text")) >= 0.5
      val repOk = qOk && TextAnalysis.topWordFrac(col("text")) < 0.12
      val sampOk = repOk &&
        Sampling.deterministicKeep(col("doc_id"), 0.1, "graft")
      val tail = exact
        .join(broadcast(pairs.select(col("b").as("doc_id")).distinct()
          .withColumn("__dup", lit(1))), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(when(keep, 1)).as("n_near"),
          count(when(qOk, 1)).as("n_clean"),
          count(when(repOk, 1)).as("n_rep"),
          count(when(sampOk, 1)).as("n_samp"))
        .head()
      exact.unpersist()
      import s.implicits._
      Seq((nIn, tail.getLong(0), tail.getLong(1), tail.getLong(2),
          tail.getLong(3), tail.getLong(4)))
        .toDF("n_in", "n_after_exact", "n_after_neardup", "n_after_quality",
          "n_after_repetition", "n_final_sample")
        // self-validation: retention must be monotone and non-empty
        .filter(col("n_in") >= col("n_after_exact") &&
          col("n_after_exact") >= col("n_after_neardup") &&
          col("n_after_neardup") >= col("n_after_quality") &&
          col("n_after_quality") >= col("n_after_repetition") &&
          col("n_after_repetition") >= col("n_final_sample") &&
          col("n_after_repetition") > 0)
    }),
    // --- multimodal binary plumbing: featurize + frame-sample (decode
    //     stubbed; schema/batch shape real) ---
    "mm_pipeline" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.extractFeatures(media)
        .select(col("media_id"), col("n_bytes"))
      val frames = Multimodal.sampleFrames(media, frameSize = 64, stride = 2)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames_sampled"))
      feats.join(frames, "media_id")
    }),
    // --- REAL image decode (r12, closing the codec-stub boundary):
    //     deterministic PNGs (id-derived dims + per-pixel channel
    //     formulas) are encoded executor-side with javax.imageio, then
    //     decodeImageStats decodes the actual bytes back and emits exact
    //     per-channel pixel sums. The oracle recomputes every raster
    //     statistic analytically — a hash mismatch means the codec
    //     round-trip corrupted real bytes. Integer-only output ---
    "mm_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticImages(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.decodeImageStats(media)
        .filter(col("decoded"))
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("sum_r"), col("sum_g"), col("sum_b"))
    }),
    // --- REAL audio decode (r12, the WAV analog of mm_decode):
    //     deterministic 16-bit PCM WAVs (id-derived frames/channels/rate
    //     + per-sample formula) are encoded executor-side with
    //     javax.sound.sampled, then decodeAudioStats decodes the actual
    //     RIFF bytes back and emits exact per-channel sample sums. The
    //     oracle recomputes every statistic analytically — a hash
    //     mismatch means the codec round-trip corrupted real bytes ---
    "mm_audio" -> ((s, dir) => {
      val media = Multimodal.syntheticWavs(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.decodeAudioStats(media)
        .filter(col("decoded"))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("sum_ch0"), col("sum_ch1"))
    }),
    // --- REAL video decode (r12, completing the media triple): one
    //     uncompressed RIFF AVI per doc (24bpp BI_RGB DIB frames —
    //     the one video container a zero-dependency JVM can encode AND
    //     decode byte-exactly), decoded back for container facts + exact
    //     per-channel pixel sums over all frames, PLUS the real
    //     frame-sampling path: every 2nd frame extracted, re-encoded as
    //     PNG, re-decoded by javax.imageio, and aggregated — so the gate
    //     value-checks the video→keyframe-corpus pipeline end to end.
    //     The per-pixel formulas are separable in (f,x)/(f,y), so the
    //     oracle scales as nf·(w+h) per doc, not nf·w·h ---
    "mm_video" -> ((s, dir) => {
      // the stats branch AND the frame-sampling branch both consume the
      // synthesized containers: cached, the AVI encode runs once per doc
      // instead of once per branch (r14; slot retires the previous run's
      // entry, same discipline as the dedup caches)
      val media = mmVideoCacheSlot.cached(Multimodal.syntheticAvis(
        Tables.load(s, dir, "documents"), "doc_id"))
      val stats = Multimodal.decodeVideoStats(media)
        .filter(col("decoded"))
        .select(col("media_id"), col("width"), col("height"), col("fps"),
          col("n_frames"), col("sum_r"), col("sum_g"), col("sum_b"))
      val samp = Multimodal
        .decodeImageStats(Multimodal.sampleVideoFrames(media, stride = 2))
        .filter(col("decoded"))
        .groupBy("media_id")
        .agg(count(lit(1)).cast("int").as("n_sampled"),
          sum(col("sum_r")).as("samp_sum_r"))
      stats.join(samp, "media_id")
    }),
  )

  /** ANN pipeline smoke+quality query: run algorithm vs exact GT on the
    * embeddings table, emit one row of summary metrics. Seeded KMeans /
    * hyperplanes are not SQL-expressible → no DuckDB oracle (driver
    * records the weaker rows-only check); ScalaTest specs assert the
    * semantic properties instead. */
  private def annRecall(
      name: String, indexerName: String, searcherName: String,
      params: Map[String, String], metric: String, floor: Double)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    Registry.init()
    val q = Tables.embQueries(s, dir)
    val b = Tables.embBase(s, dir).cache()
    val alg = Algorithm(name,
      Registry.indexer(indexerName, params + ("seed" -> "42"), metric),
      Registry.searcher(searcherName, params, metric))
    val gt = KnnJoin.knnJoinAgg(q, b, 10, metric)
      .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
    val pred = alg.run(b, q, 10)
      .groupBy("qid")
      .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
      .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
    // left join from gt: a query the searcher dropped entirely (empty
    // probe) counts as recall 0 instead of silently leaving the average
    gt.join(pred, Seq("qid"), "left")
      .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
      .agg(
        lit(name).as("algorithm"),
        count(lit(1)).as("n_queries"),
        round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"),
        round(avg(Metrics.rrAtK(col("pred"), col("gt"), 10)), 4).as("mrr_10"))
      // self-validation: recall regression ⇒ zero rows ⇒ driver rows-check
      // fails. Floors sit ≥0.03 under the sf0.01/sf0.1 measured values.
      .filter(col("recall_10") >= floor)
  }

  /** Filtered-ANN gate body: build on the FULL corpus with the same
    * seeded models as the unfiltered gate (the derived oracle reuses its
    * literals), restrict via FilteredSearch (pre-filtering — the
    * predicate semi-join composes with the probe in one plan), score
    * against exact kNN over the allowed rows. */
  private def annRecallFiltered(name: String,
      indexer: (SparkSession, String) => graft.operators.Indexer,
      searcher: graft.operators.Searcher, floor: Double)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    graft.operators.Registry.init()
    val q = Tables.embQueries(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val b = Tables.embBase(s, dir).cache()
    val allowed = emb.filter(col("label") < 5).select(col("vec_id").as("id"))
    val art = indexer(s, dir).build(b)
    val res = graft.operators.FilteredSearch.search(searcher, art, q, 10, allowed)
    val gt = KnnJoin.knnJoinAgg(q, b.join(allowed, Seq("id"), "left_semi"), 10, "l2")
      .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
    val pred = res.groupBy("qid")
      .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
      .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
    gt.join(pred, Seq("qid"), "left")
      .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
      .agg(
        lit(s"${name}_filtered").as("algorithm"),
        count(lit(1)).as("n_queries"),
        round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"),
        round(avg(Metrics.rrAtK(col("pred"), col("gt"), 10)), 4).as("mrr_10"))
      .filter(col("recall_10") >= floor)
  }

  /** Oracle-checkable wrapper for algorithms whose model is not
    * SQL-replicable (HNSW graph walks): emit ONLY columns DuckDB can
    * reproduce from the data. Healthy run → exactly one fully
    * deterministic row (hash-matchable); any regression → a changed or
    * missing row → the driver's rows/hash check fails. Checked beyond the
    * recall>=floor self-validation (r10 widening — the walk's RESULT is
    * value-checked even though the walk isn't SQL-expressible):
    *  - `n_rows` = n_queries×k: every query returned exactly k neighbors
    *    (a dropped query or short result list breaks the hash, not just
    *    the recall average);
    *  - `n_bad_dist` = 0: every returned (qid, id) pair's reported
    *    distance equals the exact double-chain metric recomputed from the
    *    base table (rel tol 1e-3 covers the float-accum walk kernel;
    *    DuckDB-side constant 0), so phantom ids (left-join miss) and
    *    corrupted distances break the hash. */
  private def annRecallGated(
      name: String, indexerName: String, searcherName: String,
      params: Map[String, String], metric: String, floor: Double)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    Registry.init()
    val q = Tables.embQueries(s, dir)
    val b = Tables.embBase(s, dir).cache()
    val alg = Algorithm(name,
      Registry.indexer(indexerName, params + ("seed" -> "42"), metric),
      Registry.searcher(searcherName, params, metric))
    // cached: the recall aggregate and the integrity aggregate both
    // consume it, and the graph walk must not execute twice per gate
    val res = alg.run(b, q, 10).cache()
    val gt = KnnJoin.knnJoinAgg(q, b, 10, metric)
      .select(col("qid"), transform(col("nn"), x => x("id")).as("gt"))
    val pred = res.groupBy("qid")
      .agg(graft.operators.TopKByDist.topK(col("id"), col("dist"), 10).as("nn"))
      .select(col("qid"), transform(col("nn"), x => x("id")).as("pred"))
    val recallRow = gt.join(pred, Seq("qid"), "left")
      .withColumn("pred", coalesce(col("pred"), array().cast("array<bigint>")))
      .agg(
        lit(name).as("algorithm"),
        count(lit(1)).as("n_queries"),
        round(avg(Metrics.recallAtK(col("pred"), col("gt"), 10)), 4).as("recall_10"))
      .filter(col("recall_10") >= floor)
    val dist = graft.functions.VectorFunctions.distance(metric) _
    val integrity = res
      .join(q.select(col("qid"), col("vector").as("_qv")), Seq("qid"), "left")
      .join(b.select(col("id"), col("vector").as("_bv")), Seq("id"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("_bv").isNull || col("_qv").isNull ||
            abs(col("dist") - dist(col("_qv"), col("_bv"))) >
              lit(1e-3) * greatest(lit(1.0), abs(col("dist"))), 1L)
          .otherwise(0L)).as("n_bad_dist"))
    recallRow.crossJoin(integrity)
      .select(col("algorithm"), col("n_queries"),
        lit(floor).cast("double").as("recall_floor"),
        col("n_rows"), col("n_bad_dist"))
  }

  /** Exact-algorithm gate query: exploded (qid, rank, id) rows so the
    * driver hash-matches them against the same DuckDB kNN SQL as
    * `j1_knn_l2` (CoverTree and full-probe IVF are exact searches). */
  private def annExploded(
      name: String, indexerName: String, searcherName: String,
      params: Map[String, String], metric: String)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    Registry.init()
    val q = Tables.embQueries(s, dir)
    val b = Tables.embBase(s, dir).cache()
    val alg = Algorithm(name,
      Registry.indexer(indexerName, params + ("seed" -> "42"), metric),
      Registry.searcher(searcherName, params, metric))
    alg.run(b, q, 10).select(col("qid"), col("rank"), col("id"))
  }

  /** The filtered-gate oracles ARE the unfiltered gates' oracles with the
    * `allowed` restriction applied through marked rewrites — identical
    * model literals and quantized arithmetic by construction, so the two
    * can never drift (and ScaledModelCheck's literal splicer keeps
    * working on the derived SQL unchanged). Every marker is required
    * unique; a future oracle rewrite that breaks one fails loudly here
    * (and in EntryContractSpec) instead of silently diverging. */
  private[graft] def filteredIvfOracle(sql: String, alg: String,
      floor: String, newFloor: String): String = {
    def rewrite(s: String, marker: String, replacement: String): String = {
      val at = s.indexOf(marker)
      require(at >= 0, s"filtered-oracle marker missing: $marker")
      require(s.indexOf(marker, at + 1) < 0,
        s"filtered-oracle marker not unique: $marker")
      s.substring(0, at) + replacement + s.substring(at + marker.length)
    }
    var out = sql
    // the predicate's satisfying set (same shape as j8_ivf_filtered)
    out = rewrite(out, "\nassign AS (",
      "\nallowed AS (SELECT vec_id AS id FROM embeddings WHERE label < 5),\nassign AS (")
    // pre-filter: candidates restricted before scoring
    out = rewrite(out, "FROM probes p JOIN assign a ON p.cid = a.cid)",
      "FROM probes p JOIN assign a ON p.cid = a.cid JOIN allowed al ON al.id = a.id)")
    // exact GT over the allowed rows only
    out = rewrite(out, ", bv r)", ", bv r JOIN allowed al2 ON al2.id = r.id)")
    out = rewrite(out, s"SELECT '$alg' AS algorithm",
      s"SELECT '${alg}_filtered' AS algorithm")
    out = rewrite(out, s"HAVING round(avg(recall), 4) >= $floor",
      s"HAVING round(avg(recall), 4) >= $newFloor")
    out
  }

  /** hybrid_rrf's oracle with the gate's (0.75, 0.25) weights folded
    * into the two contribution literals — both weights binary-exact, so
    * `w·ScoreScale` is the same double on both engines. */
  private[graft] def weightedRrfOracle(sql: String): String = {
    val marker = "1000000000000.0::DOUBLE / (60.0::DOUBLE + rank), 0) AS BIGINT) AS c"
    val first = sql.indexOf(marker)
    require(first >= 0, "weighted-rrf oracle: lex contribution marker missing")
    val second = sql.indexOf(marker, first + marker.length)
    require(second >= 0 && sql.indexOf(marker, second + marker.length) < 0,
      "weighted-rrf oracle: expected exactly two contribution markers")
    val lexW = "750000000000.0::DOUBLE / (60.0::DOUBLE + rank), 0) AS BIGINT) AS c"
    val denW = "250000000000.0::DOUBLE / (60.0::DOUBLE + rank), 0) AS BIGINT) AS c"
    sql.substring(0, first) + lexW +
      sql.substring(first + marker.length, second) + denW +
      sql.substring(second + marker.length)
  }

  /** Derive a 100×-reach sampled twin of an embeddings cross-join
    * oracle: restrict BOTH the query CTE and the base CTE to the
    * induced subcorpus {vec_id % 11 == 0}. Marked rewrites (same
    * discipline as [[filteredIvfOracle]]) — every distance/ranking
    * clause stays byte-identical to the full oracle's. */
  private def sampledEmbOracle(sql: String): String = {
    val qMark = "FROM embeddings WHERE vec_id % 50 = 0"
    val bMark = "FROM embeddings)"
    require(sql.contains(qMark) && sql.contains(bMark),
      "oracle lost its sampled-twin substitution markers")
    // queries densify to %20 within the sample (the full gates' %50
    // would leave ONE query at sf0.01's 500-row table); at 100× this is
    // ~909 queries × ~18k base ≈ 16.5M oracle pair distances — inside
    // the 600 s budget where the full replay's 800M is not
    sql.replace(qMark,
        "FROM embeddings WHERE vec_id % 20 = 0 AND vec_id % 11 = 0")
      .replace(bMark, "FROM embeddings WHERE vec_id % 11 = 0)")
  }

  /** Derive a 100×-reach sampled twin of a BM25/hybrid oracle: restrict
    * the corpus CTEs (documents tok; embeddings bv where present) to the
    * induced mod-13 subcorpus and densify queries to % 91 (= sampled ∧
    * every 7th). Marked rewrites — every scoring/ranking clause stays
    * byte-identical to the full oracle's, so the twin pins the same
    * fixed-point semantics. */
  private def sampledBm25Oracle(sql: String): String = {
    val tokMark = "FROM documents),"
    val qMark = "FROM documents WHERE doc_id % 53 = 0)"
    require(sql.contains(tokMark) && sql.contains(qMark),
      "oracle lost its BM25 sampled-twin substitution markers")
    var out = sql
      .replace(tokMark, "FROM documents WHERE doc_id % 13 = 0),")
      .replace(qMark, "FROM documents WHERE doc_id % 91 = 0)")
    // hybrid oracles carry the dense arm too: restrict both its CTEs
    val qvMark = "FROM embeddings WHERE vec_id % 53 = 0)"
    val bvMark = "FROM embeddings),"
    if (out.contains(qvMark)) {
      require(out.contains(bvMark),
        "hybrid oracle lost its dense-arm base marker")
      out = out
        .replace(qvMark, "FROM embeddings WHERE vec_id % 91 = 0)")
        .replace(bvMark, "FROM embeddings WHERE vec_id % 13 = 0),")
    }
    out
  }

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "text_bm25_wand_sampled" -> sampledBm25Oracle(bm25ExactOracleSql),
    "hybrid_rrf_sampled" -> sampledBm25Oracle(oracleSqlBase("hybrid_rrf")),
    "j1_knn_sampled" -> sampledEmbOracle(oracleSqlBase("j1_knn_l2")),
    "mine_hard_negatives_sampled" ->
      sampledEmbOracle(oracleSqlBase("mine_hard_negatives")),
    "a1_a6_metrics_sampled" -> sampledEmbOracle(oracleSqlBase("a1_a6_metrics")),
    "hybrid_rrf_weighted" -> weightedRrfOracle(oracleSqlBase("hybrid_rrf")),
    "j10_ivf_sq8_filtered" ->
      filteredIvfOracle(oracleSqlBase("j10_ivf_sq8"), "ivf_sq8", "0.75", "0.75"),
    "j10_ivf_pq_filtered" ->
      filteredIvfOracle(oracleSqlBase("j10_ivf_pq"), "ivf_pq", "0.45", "0.45"),
    // floor-tier graph gates (see j11_hnsw): the walk isn't
    // SQL-expressible, but the RESULT is value-checked — row counts,
    // recomputed distances, and (filtered) the predicate itself
    "j11_append" ->
      """SELECT 'hnsw_append' AS algorithm, count(*)::BIGINT AS n_queries,
        |       0.6::DOUBLE AS recall_floor,
        |       (count(*) * 10)::BIGINT AS n_rows, 0::BIGINT AS n_bad_dist
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "j11_delete" ->
      """SELECT 'hnsw_delete' AS algorithm, count(*)::BIGINT AS n_queries,
        |       0.6::DOUBLE AS recall_floor,
        |       (count(*) * 10)::BIGINT AS n_rows, 0::BIGINT AS n_bad_dist,
        |       0::BIGINT AS n_deleted_hits
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "j11_hnsw_filtered" ->
      """SELECT 'hnsw_filtered' AS algorithm, count(*)::BIGINT AS n_queries,
        |       0.6::DOUBLE AS recall_floor,
        |       (count(*) * 10)::BIGINT AS n_rows, 0::BIGINT AS n_bad_dist,
        |       0::BIGINT AS n_disallowed
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
  )

  /** The exact BM25 top-5 replay (every 53rd doc's first 200 chars as
    * the query; Lucene idf; fixed-point associative score sums; (score
    * desc, doc_id) tie-break). Shared byte-for-byte by the three gates
    * contracted to identical results: `text_bm25_topk` (relational
    * exact scoring), `text_bm25_serve` (persisted-index serving) and
    * `text_bm25_wand` (block-max WAND). */
  private def bm25ExactOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |d AS (SELECT doc_id, len(toks) AS dl, toks FROM tok),
      |post AS (
      |  SELECT doc_id, dl, term, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
      |  GROUP BY doc_id, dl, term),
      |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
      |df AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
      |q AS (
      |  SELECT doc_id AS query_id, unnest(list_distinct(
      |    string_split_regex(lower(trim(substr(text, 1, 200))), '\s+'))) AS term
      |  FROM documents WHERE doc_id % 53 = 0),
      |qdf AS (
      |  SELECT q.query_id, q.term,
      |    ln(1.0::DOUBLE + (stats.n_docs - df.df + 0.5::DOUBLE)
      |      / (df.df + 0.5::DOUBLE)) AS idf,
      |    stats.avgdl AS avgdl
      |  FROM q JOIN df USING (term), stats),
      |scored AS (
      |  SELECT qdf.query_id, post.doc_id, post.term,
      |    qdf.idf * (post.tf * (1.2::DOUBLE + 1.0::DOUBLE))
      |      / (post.tf + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * post.dl / qdf.avgdl)) AS s
      |  FROM post JOIN qdf USING (term)),
      |agg AS (
      |  SELECT query_id, doc_id,
      |    SUM(CAST(round(s * 1000000.0::DOUBLE, 0) AS BIGINT)) AS score_fixed
      |  FROM scored GROUP BY query_id, doc_id),
      |r AS (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_fixed DESC, doc_id) AS rank
      |  FROM agg)
      |SELECT query_id, doc_id, rank FROM r WHERE rank <= 5""".stripMargin

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "j1_knn_l2" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    "j1_knn_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        1 - list_sum(list_transform(list_zip(qv, bv), p -> p[1]*p[2]))
        |          / (sqrt(list_sum(list_transform(qv, x -> x*x)))
        |             * sqrt(list_sum(list_transform(bv, x -> x*x)))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // SQ8 replicated in SQL: float32 per-dim min/max quantization
    // (subtract rounded through REAL, math.round = floor(x+0.5)),
    // dequantized L2, same recall floor.
    "j10_sq8" ->
      """WITH dims AS (
        |  SELECT pos, min(x) AS lo, max(x) AS hi
        |  FROM (SELECT unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings) e
        |  GROUP BY pos),
        |enc AS ( -- float32 min/max quantization, math.round = floor(x+0.5)
        |  SELECT e.id, e.pos, d.lo, d.hi,
        |    CASE WHEN (d.hi::DOUBLE - d.lo::DOUBLE)::REAL <= 0 THEN 0
        |         ELSE greatest(0, least(255, floor(
        |           (((e.x::DOUBLE - d.lo::DOUBLE)::REAL)::DOUBLE
        |             / (((d.hi::DOUBLE - d.lo::DOUBLE)::REAL)::DOUBLE)) * 255 + 0.5)))::INT
        |    END AS c
        |  FROM (SELECT vec_id AS id, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings) e
        |  JOIN dims d USING (pos)),
        |qv AS (SELECT vec_id AS qid, unnest(embedding) AS qx,
        |         generate_subscripts(embedding, 1) AS pos
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |cd AS (
        |  SELECT q.qid, e.id,
        |    sqrt(list_sum(list(power(q.qx::DOUBLE
        |      - (e.lo::DOUBLE + (e.c / 255.0)
        |         * (((e.hi::DOUBLE - e.lo::DOUBLE)::REAL)::DOUBLE)), 2) ORDER BY pos))) AS dist
        |  FROM qv q JOIN enc e USING (pos)
        |  GROUP BY q.qid, e.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0) qq
        |    ON q.id = qq.vec_id, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'sq8' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.95""".stripMargin,
    // J8+ incremental-ingestion replay: IDENTICAL pipeline SQL to
    // j8_ivf_probe but with the coarse centroids trained on the EVEN
    // ids only (dev/DumpCentroids 16 even) — exactly the frozen model
    // the append path must encode the odd ids with. Assignment still
    // covers ALL rows, so the appended rows are value-checked.
    "j8_ivf_append" ->
      """WITH cents(cid, cv) AS (VALUES
        |(0, [0.047243487,0.03168703,0.0046586366,0.021329563,0.04923314,0.010532799,-0.052136075,-0.13673481,-0.03967296,-0.07536956,0.05956304,-0.02755583,0.037766375,0.03941305,-0.10136206,0.06333165,0.026972042,0.025640382,0.032257628,-0.02026178,-0.027881604,0.021751609,-0.045905724,-0.05037355,-0.0010225256,0.026286641,-0.04321624,-0.06284313,0.06514525,-0.055722572,0.032188833,-0.0056504393,-0.06798094,-0.0698417,-0.028150424,-0.005775927,0.00874249,-0.07999314,-0.027063092,-0.046748325,0.031060796,0.028969347,0.06157479,-0.0927413,0.0010684826,0.0138002755,0.080204114,0.045054212,-0.0012453366,-0.012260439,-0.03740936,-0.041780982,0.036892176,0.03438983,-0.061887193,-0.0099559575,0.060366746,0.019438213,0.036252253,-0.026554821,0.020253802,-0.013541729,0.08547308,0.0123475315]::REAL[]),
        |(1, [-0.03654777,-0.040109597,-0.07664098,0.043630425,-0.06373151,0.06094272,0.017729538,-0.009003097,-0.005778983,0.010220492,-0.00883066,0.082401775,-0.020439226,0.023015233,-0.027484545,0.085339524,0.08943278,0.016483368,0.07727453,-0.0063067893,-0.03779546,-0.0507549,-0.013211958,0.13021427,0.008026861,-0.06507927,-0.017462006,0.028705217,-0.025303876,-0.10419606,0.008257705,0.034060188,0.010193484,-0.09964863,0.043326315,0.07041111,-6.6935795E-4,-0.03278987,-0.014999377,-0.019275798,-0.06234532,-6.681577E-4,-0.052458458,0.05277933,-0.0040307078,-0.065096624,0.04472037,0.029482696,-0.0719598,-0.07480089,0.066875905,0.016864711,-0.020800402,-0.013382016,0.010633925,-0.02335834,-0.045656756,-0.048260216,0.04731585,-0.059687532,-0.0024821453,-0.005116592,0.010368248,-0.0071353046]::REAL[]),
        |(2, [-0.07371825,-0.020481061,-0.041138176,-0.048818603,0.00715654,-0.08818321,-0.007134812,0.022162037,0.008533137,0.049623214,0.058043387,-0.04105661,-0.00998507,-0.03644172,-0.061902836,-0.01074508,0.065222494,0.040542778,-0.04795497,0.044471096,-0.04611471,0.012844939,-0.016042328,-0.083943784,-0.01041607,0.059297275,-0.020905169,0.08826046,0.04740159,-0.036360413,-0.06304894,-0.039940022,-1.7528096E-4,-0.035459794,0.037826393,0.055067994,-0.091399744,-0.07366582,0.017991405,0.023306636,0.061485518,0.030449823,-0.0343291,0.03385505,-0.13807027,0.030748025,0.01459849,0.06670588,-0.016558172,0.051306788,0.04920059,0.039612733,0.01285252,0.0805594,0.078670785,0.013538565,-0.035209585,0.023372928,-0.04882639,-0.03991109,-0.034609456,0.07317262,-0.0030199771,0.031717565]::REAL[]),
        |(3, [-0.030043893,-0.067966826,0.0116459,-0.017260065,-0.037757512,0.01925995,-0.09822085,-3.4286868E-4,0.013064147,0.028524464,0.033323854,-0.103147596,-0.027895482,0.029738707,-0.009664489,-0.0034104506,-0.02817575,-0.049455296,-0.11181143,0.04023641,0.080822304,0.02044522,0.02426851,-0.012187887,0.020154228,0.047149334,0.064332224,-0.034929693,0.0066870693,-0.017855532,0.03982426,0.005162731,-0.035877448,-0.04656062,0.022725359,0.02148794,-0.00277277,0.05883019,0.001941148,0.020534465,-0.08198562,0.022832792,-0.06008732,0.033820424,0.02935454,0.07633074,0.041019917,0.0019211011,0.030372225,-0.0746681,-0.08257409,0.05209625,0.027856223,0.024032649,-0.0473172,0.07427943,0.013321748,-0.02972748,0.063541934,0.028858962,-0.019204494,0.009580115,0.009333254,-0.06888847]::REAL[]),
        |(4, [-0.032301083,-0.02174453,-0.059584577,0.049410757,-0.019812344,0.07365081,-0.05717124,0.059963446,-0.013634361,-0.010122948,0.042833406,-0.003934835,0.0061397296,0.0630695,-0.0077383383,0.018701596,0.02242658,0.10045573,0.0038906555,-0.1335042,0.026280517,0.025825305,0.105450965,-0.0340876,-0.057116788,-0.018074324,-0.011585239,-0.031276677,0.009084491,0.022334648,-0.033312455,-0.017805068,0.052727103,0.077334575,-0.012530557,0.061760407,0.06477596,0.064685665,0.07505109,0.022357965,-0.018916516,0.008625322,-0.030765759,-0.04759986,0.0043950346,-0.027867332,0.03079562,0.046457015,0.059510853,-0.049420748,-0.017385611,-0.038146824,-0.005954211,0.004511097,0.011721895,-0.001009144,-0.097530924,0.024992323,-0.019323839,0.045170695,-0.010521808,0.01695697,-0.05810872,-0.0046387557]::REAL[]),
        |(5, [0.023460237,-0.037462134,0.08776967,-0.037880648,0.03788891,-0.003160625,0.016738525,-0.026104527,-0.02880867,-0.047631927,0.05077984,0.02368556,0.05196752,0.07708492,0.017320193,-0.029978909,0.023108097,-0.010261245,-0.049479526,0.07633378,-0.029950012,-0.02612013,0.043531295,-0.061989505,0.0120374095,-0.0020921002,-0.096416496,0.05530135,-0.034320507,-0.004007946,-0.026491772,-0.12738672,-0.04134068,0.026026232,-0.029784769,-0.037104152,0.016722739,0.051679138,-0.026435355,0.040895376,-0.01688158,0.054064505,-0.021334063,1.00971345E-4,-0.010089997,-0.0802295,-0.056603506,-0.024394678,-0.022772051,0.010305501,0.104584076,0.079784796,0.035977352,0.058123227,0.08693938,0.02738464,0.022283345,0.014609001,0.08150442,0.03473199,0.14908828,-0.06989869,-0.053435285,-0.064057544]::REAL[]),
        |(6, [0.023079813,-0.049717646,-0.11019233,0.0045074886,-0.0015931957,-0.012178468,-0.00673214,0.0047052996,-0.015959045,-0.008817213,0.013269145,-0.033606376,-0.012872104,-0.073023096,0.034448065,-0.06993078,-0.016693838,-0.044295397,0.061726015,-0.020108776,0.057102233,-0.049225353,-0.025347922,0.02139136,0.07513742,0.08147316,-0.02358045,0.073138945,-0.017966032,0.063848704,-0.036039922,0.013389181,0.11528417,-0.03330215,0.0021125118,-0.07930022,0.027863128,0.014312762,-0.018817866,0.022071337,-0.032258037,-0.070794426,-0.063975304,-0.023865221,0.010265898,0.040135458,0.0031422444,0.03642379,0.01718378,0.08914317,0.026509784,-0.06792567,0.004174117,-0.0010005621,-0.079298176,-0.047807265,0.11943518,0.005355609,0.046842396,-6.299464E-4,0.062184952,0.0063681235,-0.07160171,-0.010771872]::REAL[]),
        |(7, [-0.05933312,0.04084088,0.018436579,0.042123653,0.06663427,0.032482862,-0.05239606,-0.037599303,-0.058916215,0.012710952,-0.0450866,0.08681229,-0.062610686,-0.027862012,0.043514118,-0.07178237,0.10222789,0.011035447,-0.029100819,-0.0072020893,-0.032473866,0.01179914,-0.04233158,-0.08630274,-0.04389905,-0.007851093,0.02609593,7.488413E-4,-0.009123589,-0.0037328163,0.032356497,-0.05948824,0.0024992812,0.049675237,0.08096966,0.007861059,0.012140332,0.03671756,-0.034704503,-0.012356102,-0.025825702,0.03289045,-0.006120464,-0.03963469,0.016390711,-0.06789749,-0.08325156,-0.020884758,-0.013383719,-0.01052406,-0.018872846,-0.024118893,-0.048036996,-0.026012832,-0.032453306,0.00289013,0.00557043,0.013407584,-0.009986055,-0.021541204,-0.025613762,0.07379254,0.041572295,-0.040911816]::REAL[]),
        |(8, [0.0746285,0.014680381,0.027885439,-0.044532113,0.004599415,0.020358862,-0.09144383,0.04617133,-0.0074463086,-0.05239026,0.09550797,-0.013740675,0.059587624,-0.06704472,-0.0016362644,0.067220144,-0.0391462,0.039651413,-0.01316944,0.0030234687,-0.023002109,-0.0401653,-0.051857296,-0.02680977,0.06553105,0.048333634,0.06338053,0.10023019,-0.030851122,0.05296636,-0.06524951,0.05819286,6.53027E-4,-0.06706186,0.046812695,0.10464263,-0.053344958,0.03607109,0.108959,-0.051049113,0.009551358,-0.015511213,-0.01518528,-0.04175728,-0.0012441359,0.022868453,-0.027812015,-0.038202997,-0.028678712,-0.047734972,0.04637999,-0.039483238,-0.009713738,-0.013959269,-0.002369344,-0.010167699,0.04776336,0.02873728,-0.09942678,-0.013196233,0.06097727,-0.04704665,-0.0028636502,0.008353863]::REAL[]),
        |(9, [0.036140136,0.06581378,-0.0114547955,-0.05659761,0.04497651,0.016163545,-0.045321327,0.10406733,-0.053492427,-0.04514366,-0.027544402,-0.054227747,0.009449796,0.010423776,-0.08941942,0.07729393,-0.025224626,0.116087355,0.013445997,0.043522645,-0.009821049,-0.033248894,0.026536234,-0.02543561,-0.070794664,-0.053982284,0.030338807,-0.05728499,0.031272393,0.050026342,0.04960982,-0.08573729,-0.03506367,0.0074407356,-0.009803418,-0.040353436,-0.057178013,0.016964376,-0.017131696,0.051458277,0.01129156,-0.056909855,0.08093444,0.07803262,-0.010419397,0.053159203,-0.03819195,-0.04638558,0.039355204,0.012575954,-0.06820935,-0.029473552,-0.04748716,-0.04930989,0.016439103,-0.010811274,-0.0125275655,-0.020129465,-0.02327316,0.035908468,-0.030344775,-0.07432963,-0.0047208723,0.029011609]::REAL[]),
        |(10, [0.029102916,0.01615823,0.046583362,-0.10553569,-0.008261683,-0.013731295,-0.044596236,0.002901986,0.06678358,0.014356961,-0.00959008,-0.06497435,0.018641792,-0.060696058,0.048309535,0.026775265,0.020928591,-0.061668,0.0871817,0.10324822,-0.025972052,-0.06656785,-0.10407399,-0.023000654,-0.07481371,-0.11541817,0.005848084,0.07968357,-0.021699075,0.013132175,-5.438924E-7,-0.021431457,0.029907255,0.043849666,0.061867572,-0.047309477,0.06645072,-0.13623615,0.0018850144,-0.029710257,-0.026857454,-0.033341046,0.09270128,0.03236138,-0.057158884,-0.0072910944,0.019619785,-0.04184228,0.0057407576,0.018723847,0.013164024,0.053444676,0.035972644,0.0026481447,0.089182444,-0.021066753,0.064013414,-0.033685498,-0.09825475,-0.04196459,-0.077569745,0.06905603,0.034268603,-0.044367544]::REAL[]),
        |(11, [0.0031907347,-0.030274188,0.098408744,0.005075095,0.03394455,-0.07569693,0.07028593,0.12926324,-0.039520137,0.12061792,0.022842443,-0.0058228737,0.029234892,-0.068259776,0.08690446,-0.004602686,0.02741628,0.020912798,-0.01372597,-0.041595068,-0.026489323,0.07168481,0.047819935,0.033033237,-0.002141914,0.0083318865,0.06538907,-0.042988703,0.0789352,-0.06832981,0.046519853,0.0590419,0.056421105,-0.03789176,0.027428223,-0.11335821,-0.075062245,-0.03491874,0.029843075,-0.031148646,-1.9625582E-4,-0.022445843,-0.06694904,0.038296893,0.017857924,0.016459871,0.0052426895,0.099110276,-0.07188579,-0.014208687,0.040790454,0.01160974,0.06541641,0.02258272,0.03194109,-0.0445496,0.028525641,-0.035568506,0.016108753,-0.021893907,-0.070273794,0.03378439,-0.028107198,0.004932685]::REAL[]),
        |(12, [0.012355262,-0.013300216,-0.012601804,-0.025356242,-0.017867729,-0.0023362364,0.050534025,-0.078597985,0.101295255,0.012612018,0.004923501,0.018518653,0.065015696,0.0051343357,0.091268815,-0.052315664,-0.045167368,-0.019207451,-0.03066836,0.039328516,0.05267615,-0.071041875,-0.023816735,-0.07430226,0.082478404,-0.005225602,-0.040617626,-0.015107464,-0.029468423,0.014884831,0.02885353,-0.08510433,0.08185608,0.0022459158,0.034149487,-0.029608047,-0.010501942,-0.04143934,-0.083389364,-0.09578404,0.02712214,-0.048707258,-0.005640299,-0.02005002,0.03443742,0.01998532,-0.00914097,-0.017885318,-0.061016034,-0.051229447,-0.04412989,-0.031765107,0.03803018,-0.09185768,0.030304888,-0.019682964,-0.08504309,-0.015307421,0.008913107,-0.021234766,0.04392257,0.054345645,0.09097284,0.047580417]::REAL[]),
        |(13, [0.050710358,0.0038783182,0.030158384,-0.06484113,0.036701955,0.0380769,-0.07110763,0.038736712,0.05211025,-0.04062025,-0.01519701,0.011568247,-0.058754306,-0.016753575,-0.06236282,0.07689981,0.0041144514,-0.0017968965,0.13444646,0.039021067,-0.07403297,0.10748823,0.03492157,0.051705837,0.024124753,0.09282585,0.07025854,-0.031676248,-2.0502048E-4,0.025659336,-0.021209672,0.11679853,-0.03855605,0.046578195,0.024488594,-0.0020823982,-0.04315051,0.030418506,0.0021212972,-0.07582485,0.016610693,-0.037376307,-0.049448304,-0.027616076,-0.038165968,0.022610944,0.026911294,-0.05576485,0.024563557,0.025695298,-0.015113293,0.023427617,0.07373726,-0.080164224,0.009983519,-0.003052953,0.017785551,-0.020313038,0.013639144,0.022294953,0.011486899,0.073201574,0.0075452104,-0.03298897]::REAL[]),
        |(14, [0.005660125,-0.05949416,-0.03391191,0.07440978,0.014144449,0.05926954,0.11085723,0.08265538,-0.017668324,0.026729943,0.008910604,0.01614253,-0.08605926,0.007971847,-0.117413506,0.0365861,-0.04008169,-0.08301636,-0.07609764,0.066499926,0.030339016,-0.032843072,-0.011655086,-0.060129657,0.083542906,-0.018243313,-0.0062067285,0.015143721,0.07359259,0.026162708,0.058766335,0.041876215,0.09863687,0.034629654,0.054689415,0.016249817,0.045565538,-0.045178603,-0.14964052,0.08850065,0.085755415,-7.978727E-5,0.019394834,-0.01932369,-0.030472187,-0.021735206,-0.004159649,-0.012909513,0.04778874,0.081835374,0.0064950376,-0.014833338,-0.008232596,-0.019517556,0.018712224,-0.023939686,0.053673908,0.023528727,0.018198146,0.05115074,-0.062218122,-0.02193312,-0.062099956,-0.0632403]::REAL[]),
        |(15, [1.5560837E-4,0.07396475,0.05993265,-0.089893825,-0.017522095,0.0018450147,-0.04727003,-0.03380108,0.054164942,0.056821182,-0.092526466,-0.064980544,0.0094704125,-0.07165394,-0.013127269,0.049098756,-0.022068363,-0.0042599496,-0.0040528467,0.015598791,0.025926739,0.071964346,0.12902537,0.10817513,0.031183714,-0.0014795221,-0.084389396,-0.021125067,-0.034143455,-0.016760236,0.0080910465,-0.0059612165,0.0025894467,0.03718725,0.011370745,-0.004748089,0.0015843059,-0.014641978,-0.0026223,-0.06474725,-0.031174216,-0.060210537,0.03291854,0.010026316,-0.087734185,0.057456303,-0.045389432,0.056169145,0.057145953,-0.021821922,-0.0074879103,-0.034259778,-0.046810597,0.044674754,-0.0012147534,-0.0041153203,-0.015679454,0.017297149,0.03402984,-0.03404109,-0.0423181,-0.10893388,0.028834332,0.0038219811]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |assign AS ( -- nearest centroid per row (argmin over 16)
        |  SELECT id, cid FROM (
        |    SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id ORDER BY
        |      list_sum(list_transform(list_zip(b.v, c.cv),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cid) AS rn
        |    FROM b, cents c) t WHERE rn = 1),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS ( -- nprobe=4 nearest centroids per query, L2 on doubles
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      sqrt(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv::DOUBLE[]),
        |        p -> (p[1]-p[2])*(p[1]-p[2])))), c.cid) AS rn
        |    FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cents c) t
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |cd AS (
        |  SELECT c.qid, c.id,
        |    sqrt(list_sum(list_transform(list_zip(qb.dv, rb.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM cand c JOIN bv qb ON c.qid = qb.id JOIN bv rb ON c.id = rb.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'ivf_append' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.50""".stripMargin,
    // J8+ filtered-search replay: j8_ivf_probe's pipeline and the SAME
    // full-corpus centroid literals, with the label predicate applied to
    // the candidate set and to the exact GT (pre-filtering semantics)
    "j8_ivf_filtered" ->
      """WITH cents(cid, cv) AS (VALUES
        |(0, [3.976001E-4,0.028297238,-0.03635965,0.009380843,-0.009109747,-0.025437439,0.024678871,-0.038039044,0.010667889,-0.060485713,0.033288997,-0.03938557,-0.008634382,0.051888857,-0.070540234,-0.023659004,0.10935156,0.037691243,-0.020817585,-0.024977293,0.03683957,-0.015296038,0.070435435,-0.11328855,-0.0017905023,-0.0020132852,-0.004942073,0.033165585,-0.08863541,-0.012735062,-0.08754079,0.056902893,-0.017311713,-0.04438014,-0.01465772,0.025549749,0.0024049846,-0.03159369,0.0069407746,0.04164316,0.020785682,0.04870036,-0.04820819,-0.0765654,0.008866418,-0.045202,0.02520875,0.0053051356,0.009504603,-0.059140284,-0.022915589,0.058860157,-0.004384404,-0.012590272,0.074882075,-0.057023097,-0.06409937,0.0034846074,-0.011082796,0.019883089,-0.0013891011,0.0034190915,0.060604468,-0.0060799844]::REAL[]),
        |(1, [0.008359272,0.060080968,0.03184555,-0.0056618187,0.07222243,0.051034335,-0.049216557,-0.007968933,-0.06231409,0.048589528,-0.017324317,0.042530492,0.033902634,0.080413625,-0.0062259533,0.031396985,-0.033318963,-0.025283217,-0.027597263,0.01480435,-0.02891756,-0.03750445,-0.022482494,-0.06621947,0.024813285,0.0544805,-0.028094416,0.015448729,-0.05434001,0.00318308,0.020199137,-0.07716253,0.006087762,0.026632814,-0.020634651,-0.016442956,0.025486456,0.029430877,0.033655047,0.02441111,0.010800855,-0.03607063,-0.0043094563,-0.015938273,7.861068E-5,-0.0481812,0.024680857,-0.029986767,0.047657892,0.058578055,0.03789119,-0.032064136,0.021277333,0.012731777,0.013166181,-0.014346622,0.085697226,-0.03464635,-0.037695866,-0.036775947,0.08361625,-0.08642981,0.0046992037,-0.0057371496]::REAL[]),
        |(2, [-0.01844507,-0.02256356,-0.06953005,-0.023240875,0.08684007,0.0914795,0.055580284,-0.012617236,-0.029835943,-0.04242027,0.035535593,-0.009868543,-0.015970197,-0.020177249,0.041802835,-0.09409,0.010807619,-0.023519482,0.034826115,0.012929687,0.05966658,-0.067652345,-0.07818938,0.014800565,0.026694568,0.050169367,0.041076835,0.058571495,-0.0015404437,0.007950587,0.024057547,-0.005419116,0.03207465,-0.030794984,0.035395976,0.0029795081,-0.03950219,0.027286049,0.026999077,-0.031908855,-0.08328178,-0.02200855,0.012866052,0.046322495,0.05069378,0.047360986,-0.038416654,-0.10167669,0.03826236,-0.01724514,-0.0017332471,-0.054817125,-0.03995014,0.03127895,0.033283163,0.021733949,0.0831054,-0.017397773,0.016854225,0.028358923,0.04710489,-0.044251915,0.057152633,-0.04708653]::REAL[]),
        |(3, [0.102064565,-0.0069968533,0.012800971,-0.07167313,0.07444391,0.012768217,-0.0748594,0.012918701,0.016182728,-0.054661307,0.070437886,-0.06160538,0.0069055324,0.017327514,-0.026446221,0.11281004,0.024102954,0.042696424,-0.01729222,0.011779977,-0.050743133,0.0042556375,0.0053622844,0.03157169,-0.019312961,-0.029734448,0.030015398,0.033585694,0.046456087,-0.057676364,0.046169367,0.031931307,0.025283262,-0.028854106,0.04856891,-0.053302057,-0.056079846,-0.05893087,0.005899067,-0.018722115,-0.02061769,-0.033902597,0.038833976,0.016220842,-0.012594262,-0.009879089,0.029897697,-0.0038829353,0.05571742,0.016811289,-0.0023034883,-0.025743501,0.08259702,-0.036126196,0.028515564,0.0029221964,-0.028032525,0.032771844,0.030288298,-0.049233384,-0.044415846,0.015200411,0.035748515,0.0640712]::REAL[]),
        |(4, [-0.045071274,-0.057621308,0.00470594,-0.028427409,0.010577925,0.0020643366,0.0030443773,0.030271063,0.06781996,0.06693981,-0.010411105,-0.03287793,0.022112258,-0.0920138,0.09686792,-0.03091986,0.04703801,-0.032777086,0.03977684,0.020655159,0.022004057,-0.0057500293,0.002778062,-0.013420849,-0.010384327,0.032439973,0.050919276,-0.045315374,0.0040542553,-0.0535026,-0.0023021316,0.040078286,0.072379954,-0.016619515,0.0212618,-0.095986284,-0.013969665,0.011349328,-0.05222839,-0.019108197,0.0033137945,-0.023999205,-0.040043715,0.017808456,0.0078592105,0.025575822,-0.026065467,0.05833019,0.0010988177,-2.3226398E-4,-0.011959542,-0.014244624,0.074541144,-0.045908608,-0.04256846,-0.011612557,0.041253675,-0.021052716,0.040330485,-0.034828596,-0.040610105,0.048562936,-0.06615247,-0.054079827]::REAL[]),
        |(5, [-0.036802832,-0.07970984,0.010175653,0.033520576,0.0019681412,0.014898777,-0.04537918,0.07532346,-0.013869546,0.026446076,0.036149327,0.03021399,-0.011724245,0.012907165,-0.045805085,-0.04560446,-0.12365304,-0.03253967,-0.053021926,-0.011837741,-0.0138035165,0.01648638,0.04421658,-0.045227762,-0.03932084,0.02706602,-0.019117707,-0.0045875898,-0.003764507,-0.016906084,0.00908303,0.009660759,0.004637516,0.04342523,0.0761766,0.091382645,-0.04745479,0.023597902,0.029717358,-0.04081729,-0.054080967,-0.083059795,-0.0072128777,-7.131163E-4,0.016583841,-0.03297849,0.01647399,0.07859101,-0.016999898,-0.033240594,0.0042445064,-0.017960563,-0.012879525,0.03842349,-0.0136261415,-0.023117376,-0.055217475,-0.055819217,-0.022269065,-0.0043935515,-0.016654627,0.049902894,-0.048492625,-0.042215925]::REAL[]),
        |(6, [0.013466209,-0.042904153,0.042477332,-0.010227932,0.06610928,-0.08960638,-0.05824776,0.09722493,-0.052684724,0.12983476,0.024039803,-0.008953316,0.077392586,0.015048835,-0.034597486,-0.04612628,0.06131181,-0.01216272,-0.04209484,0.038224302,0.020744625,-0.019144693,0.034510255,0.029608011,0.08201297,0.025442395,-0.033755377,0.01684503,0.012245171,0.1239683,0.0342624,-0.07191438,0.048022225,0.021343596,0.0043778787,-0.0034581441,-0.027076015,0.014719994,-7.6361075E-6,0.049479246,-0.06339765,0.042955857,-0.018386057,0.004471063,-0.04481163,-0.045706294,-0.0303199,-0.036038432,0.020856244,0.012608098,0.060139712,0.097314045,-0.009156231,0.042162545,-0.010446251,-0.037139542,-0.016165743,-0.019707583,0.010787154,0.02973125,-0.022876702,0.03270833,0.0038668977,-0.005150107]::REAL[]),
        |(7, [0.0730371,0.013020755,0.024054889,0.031864595,0.088987224,-0.015275471,-0.09232465,0.009167585,-0.029220069,-0.046588387,0.04021698,0.011006755,-0.039308555,-0.03348064,0.024561502,0.061083548,-0.0058210245,0.0059133507,-5.9794646E-4,0.0024032826,0.020402363,-0.023590263,0.016465912,-4.0554924E-6,-0.018109495,0.039838616,-0.03640714,-0.007153099,0.06674157,5.5913307E-4,-0.01615549,0.03513253,-0.029352456,-0.017819941,-0.02422248,-0.03521332,-0.045198675,0.087121405,-0.061626047,-0.03736578,-0.010285021,-0.041728083,0.019712977,0.016591592,-0.104177706,0.025423804,-0.04550773,-0.023338027,-0.010873546,-0.038420208,0.025321431,0.03598216,-0.12894745,-0.005235948,-0.06644037,-0.03709317,0.074448235,0.06327438,0.03255707,0.01056316,0.08486752,0.0016224174,-0.053819567,0.046196803]::REAL[]),
        |(8, [-0.026988689,0.005676072,0.06782535,0.024456996,-0.046086337,-0.043952443,0.002179633,0.033751138,0.0041119666,-0.018524887,-0.074581414,0.0054647564,0.07055409,-0.02212543,0.072443716,0.05354723,-0.06561099,-0.043461844,-0.011281722,0.02830383,0.022794986,-0.040238257,-0.023748746,-0.016152153,0.08208422,0.049374044,-0.07401946,0.0036870013,0.015724914,0.062043484,0.04140938,-0.008525177,0.04211752,0.06742721,0.052381236,-0.029699845,0.0311374,-0.08147927,-0.11785748,-0.051154714,0.044584382,-0.004362243,0.016509607,0.045911286,-0.08142972,0.004555513,-0.03975339,0.029077321,-0.084855475,-0.022218805,4.4706746E-4,0.06384465,-0.03552817,-0.021320144,0.050283812,-0.0027536019,-0.007825387,-0.031355135,-0.015163805,0.060551215,-0.010323944,-0.051286574,0.059319675,-0.008877228]::REAL[]),
        |(9, [-0.021388657,-0.03833954,0.010488234,0.012838276,-0.018751947,0.05869963,0.015904548,-0.011526354,0.010039316,0.024103524,0.0012205105,0.067073315,0.0015444893,-0.028763095,-0.03773328,-0.013045459,0.10519724,-0.015350813,-8.191451E-4,-0.023473792,-0.06039969,0.020592323,-0.043630414,-0.050690085,0.03831456,0.041279532,0.06327995,0.02003199,0.0496711,-0.038714822,-0.058313925,0.016609458,0.030466363,-0.007273059,-0.05157916,0.088247605,-0.018129945,-0.021840198,0.05168867,0.018610615,0.06520981,-0.029866936,-0.0044151205,0.013927938,-0.04570822,-1.8431572E-4,-0.052126337,0.050922595,-0.023193838,-0.011714378,-0.032172486,-0.060620833,0.014884973,0.007199496,0.030895568,0.0038718958,-0.02172564,0.11099188,0.019912688,-0.07435928,-0.06544074,0.039071813,-0.03411504,-0.009885601]::REAL[]),
        |(10, [0.0071370993,0.019658236,-0.0045523485,-0.04833168,0.03178797,-0.010474304,0.015751988,4.9144845E-4,0.07806498,4.827411E-4,-0.08674548,0.026481027,0.0073601203,0.042852074,-0.015990803,0.09308003,-0.05372726,0.12433202,-0.06891425,-0.015001628,-0.04693401,-0.012581487,-0.0028753697,-0.08717856,-0.098547034,-0.05310776,-0.037760016,-0.05615235,-0.038145598,-0.022713123,0.03467133,0.0069574043,0.029949578,-0.07370147,-0.06808703,0.034529377,0.0310526,0.094641134,-0.05431165,0.006605148,-0.011224024,-0.01534252,-0.016549664,0.082232065,0.0036522031,0.06930171,0.05856372,0.05339764,-0.03373602,-0.071795896,0.028143141,0.060672484,0.03122295,0.013714599,0.02202862,0.023138084,0.042314265,-0.02036491,0.095807545,0.05904549,-0.014548051,-0.0870616,0.046183117,0.029742638]::REAL[]),
        |(11, [0.06343771,0.0058765183,-0.028651988,2.654883E-4,-0.031051632,-0.01450028,0.005515711,0.0057222177,-0.1059591,-0.05844221,-0.03852576,0.032663476,-0.046211176,0.022968149,-8.864697E-4,0.07060882,-0.033635117,0.07475268,0.01337138,-0.06901378,0.022063827,0.016496412,0.057607744,-0.0017655147,-0.038029686,-0.038872182,-0.03292653,-0.026231073,0.021813061,0.06182465,0.044717792,0.0051579736,-0.03991205,-0.027445069,0.016253272,0.008888453,-0.02366046,0.05099601,0.07553414,0.003532158,0.05964545,-0.039314654,0.1224856,-0.047990296,0.0123063335,0.037916467,-0.0035663939,0.0069394717,0.052851878,-0.05293435,0.025940722,-0.0054569067,-0.029766375,-0.05775758,0.023666384,0.037026975,0.0035354535,-0.01651138,-0.07080694,0.05577631,-0.011229619,0.04237323,-0.008191156,-0.011374551]::REAL[]),
        |(12, [-0.0069709215,-0.06376432,0.014562121,0.023505438,-0.00805442,0.052596692,-0.014337886,-0.03038546,-0.011835048,-0.007921711,0.03023597,0.045921333,0.01896049,0.13845196,0.092908606,0.044408403,0.013001887,-0.047546674,-0.010366498,-0.04815113,-0.029383505,0.03496453,-0.014905675,0.065283194,-0.091739245,0.039443012,-0.0478082,0.014884458,6.0607324E-4,-0.10552086,0.02740691,-0.06743597,-0.06964367,-0.069198124,0.011361684,0.02805329,0.018349884,-0.045934007,-0.032408886,0.03968855,0.023497354,0.011167623,-0.042538986,-0.070952915,0.03441467,-0.0018806596,-0.01955499,0.018161446,-0.03138498,0.015965274,-0.0053890795,0.013872247,0.06384498,0.022938548,-0.0059331437,-0.016028654,-0.05620602,-0.020510383,-0.008129869,-0.04284003,-0.002637135,-0.02845274,-0.02055995,-0.07163953]::REAL[]),
        |(13, [0.029149706,0.07479124,0.02134813,0.028014105,-0.08236194,0.021487799,-0.007706673,0.016405726,0.028469669,0.039957415,0.0034191187,0.05819961,-0.07168515,-0.015801666,-0.013646735,0.021917038,0.02506544,0.02792193,0.08867792,-0.01688975,-0.04303056,0.060124148,-0.021606322,0.07347927,-0.0047295894,-0.018701103,0.06960208,0.03785714,0.018378649,0.022665616,0.040388443,0.09621229,-0.013634023,0.011724319,-0.04389453,0.03410915,0.004060091,-0.004763079,-0.048742745,0.018772071,-0.06366438,-0.023697907,-0.08098032,0.015608952,-0.056213263,-0.009875079,0.063202366,0.007313751,-0.07463801,-0.00895795,0.04644951,-0.016990328,0.0072292355,0.018895894,-0.008089653,0.05243085,-0.033923563,-0.04807464,-0.062618986,-0.048751228,0.013511869,0.025235739,-0.0141408965,-0.038623083]::REAL[]),
        |(14, [-0.03636119,0.003918286,-0.042555,0.09140156,-0.0015238351,-0.01602596,0.002480287,-0.038410872,0.02110613,0.0116725145,-0.011186879,-1.6869315E-4,-0.05450557,-0.06097048,-0.03135951,-0.06177706,0.00974351,0.03444543,0.017953884,0.011268695,0.022891112,0.040979657,0.016133415,0.02357896,0.0021563438,-0.061908573,-0.013025675,0.0763776,-0.02048277,0.018044444,0.020787153,-0.10363228,0.0075083696,0.016180787,0.019898504,-0.07827056,0.018831404,-0.06491341,0.030638753,0.0023367947,0.0014614091,0.09365999,0.0067769773,-0.06887613,0.035203613,-0.0037949341,-2.8857165E-5,0.071350105,-0.014972268,-0.022833856,0.045089155,-0.04330946,-0.00906133,-0.024228686,-0.065642595,0.006414458,0.0098045375,0.028569555,-0.009579337,0.0054477938,0.017501716,0.06062958,-0.01548141,-0.025027053]::REAL[]),
        |(15, [-0.05762221,0.037857857,0.0012920756,-0.12331383,-0.054813787,-0.0015160287,-0.04967951,0.008855162,0.029448103,-0.059238102,0.02390513,-0.089110374,-0.018126799,-0.042175613,-0.040762503,-0.054818302,-0.046489846,0.018617157,0.021426188,0.075262345,0.0013388421,0.037846845,0.023848003,0.014974089,0.020168284,0.027794091,2.1293305E-4,-0.009665448,-0.055297505,0.05218786,-0.057825174,-0.06431495,0.0024881281,-5.6121347E-4,-0.006950022,0.026028318,0.06345275,-0.012733749,0.04198192,-0.011623106,0.023713393,-0.0025560872,0.037455697,0.034733556,-0.016821548,0.065115206,0.029002186,-0.092401855,-0.017456945,0.028403604,-0.01777342,-0.011197019,0.05119401,-0.02116531,0.018101621,-0.0017772928,0.031117678,-0.011913698,-0.049216475,-0.04190238,-0.002785807,0.009239766,0.015038274,-0.014865515]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |allowed AS (SELECT vec_id AS id FROM embeddings WHERE label < 5),
        |assign AS ( -- nearest centroid per row (argmin over 16)
        |  SELECT id, cid FROM (
        |    SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id ORDER BY
        |      list_sum(list_transform(list_zip(b.v, c.cv),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cid) AS rn
        |    FROM b, cents c) t WHERE rn = 1),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS ( -- nprobe=4 nearest centroids per query, L2 on doubles
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      sqrt(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv::DOUBLE[]),
        |        p -> (p[1]-p[2])*(p[1]-p[2])))), c.cid) AS rn
        |    FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cents c) t
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid
        |  JOIN allowed al ON al.id = a.id),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |cd AS (
        |  SELECT c.qid, c.id,
        |    sqrt(list_sum(list_transform(list_zip(qb.dv, rb.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM cand c JOIN bv qb ON c.qid = qb.id JOIN bv rb ON c.id = rb.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid,
        |    bv r JOIN allowed al2 ON al2.id = r.id),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'ivf_filtered' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.50""".stripMargin,
    // IVF probe replicated in SQL: the seeded KMeans centroids are
    // deterministic DATA (LocalKMeans, seed 42, built on the sf0.01 gate
    // data - the driver's pinned correctness SF) embedded as literals; nearest-centroid assignment, nprobe=4 routing, exact L2
    // rerank, recall vs exact GT.
    "j8_ivf_probe" ->
      """WITH cents(cid, cv) AS (VALUES
        |(0, [3.976001E-4,0.028297238,-0.03635965,0.009380843,-0.009109747,-0.025437439,0.024678871,-0.038039044,0.010667889,-0.060485713,0.033288997,-0.03938557,-0.008634382,0.051888857,-0.070540234,-0.023659004,0.10935156,0.037691243,-0.020817585,-0.024977293,0.03683957,-0.015296038,0.070435435,-0.11328855,-0.0017905023,-0.0020132852,-0.004942073,0.033165585,-0.08863541,-0.012735062,-0.08754079,0.056902893,-0.017311713,-0.04438014,-0.01465772,0.025549749,0.0024049846,-0.03159369,0.0069407746,0.04164316,0.020785682,0.04870036,-0.04820819,-0.0765654,0.008866418,-0.045202,0.02520875,0.0053051356,0.009504603,-0.059140284,-0.022915589,0.058860157,-0.004384404,-0.012590272,0.074882075,-0.057023097,-0.06409937,0.0034846074,-0.011082796,0.019883089,-0.0013891011,0.0034190915,0.060604468,-0.0060799844]::REAL[]),
        |(1, [0.008359272,0.060080968,0.03184555,-0.0056618187,0.07222243,0.051034335,-0.049216557,-0.007968933,-0.06231409,0.048589528,-0.017324317,0.042530492,0.033902634,0.080413625,-0.0062259533,0.031396985,-0.033318963,-0.025283217,-0.027597263,0.01480435,-0.02891756,-0.03750445,-0.022482494,-0.06621947,0.024813285,0.0544805,-0.028094416,0.015448729,-0.05434001,0.00318308,0.020199137,-0.07716253,0.006087762,0.026632814,-0.020634651,-0.016442956,0.025486456,0.029430877,0.033655047,0.02441111,0.010800855,-0.03607063,-0.0043094563,-0.015938273,7.861068E-5,-0.0481812,0.024680857,-0.029986767,0.047657892,0.058578055,0.03789119,-0.032064136,0.021277333,0.012731777,0.013166181,-0.014346622,0.085697226,-0.03464635,-0.037695866,-0.036775947,0.08361625,-0.08642981,0.0046992037,-0.0057371496]::REAL[]),
        |(2, [-0.01844507,-0.02256356,-0.06953005,-0.023240875,0.08684007,0.0914795,0.055580284,-0.012617236,-0.029835943,-0.04242027,0.035535593,-0.009868543,-0.015970197,-0.020177249,0.041802835,-0.09409,0.010807619,-0.023519482,0.034826115,0.012929687,0.05966658,-0.067652345,-0.07818938,0.014800565,0.026694568,0.050169367,0.041076835,0.058571495,-0.0015404437,0.007950587,0.024057547,-0.005419116,0.03207465,-0.030794984,0.035395976,0.0029795081,-0.03950219,0.027286049,0.026999077,-0.031908855,-0.08328178,-0.02200855,0.012866052,0.046322495,0.05069378,0.047360986,-0.038416654,-0.10167669,0.03826236,-0.01724514,-0.0017332471,-0.054817125,-0.03995014,0.03127895,0.033283163,0.021733949,0.0831054,-0.017397773,0.016854225,0.028358923,0.04710489,-0.044251915,0.057152633,-0.04708653]::REAL[]),
        |(3, [0.102064565,-0.0069968533,0.012800971,-0.07167313,0.07444391,0.012768217,-0.0748594,0.012918701,0.016182728,-0.054661307,0.070437886,-0.06160538,0.0069055324,0.017327514,-0.026446221,0.11281004,0.024102954,0.042696424,-0.01729222,0.011779977,-0.050743133,0.0042556375,0.0053622844,0.03157169,-0.019312961,-0.029734448,0.030015398,0.033585694,0.046456087,-0.057676364,0.046169367,0.031931307,0.025283262,-0.028854106,0.04856891,-0.053302057,-0.056079846,-0.05893087,0.005899067,-0.018722115,-0.02061769,-0.033902597,0.038833976,0.016220842,-0.012594262,-0.009879089,0.029897697,-0.0038829353,0.05571742,0.016811289,-0.0023034883,-0.025743501,0.08259702,-0.036126196,0.028515564,0.0029221964,-0.028032525,0.032771844,0.030288298,-0.049233384,-0.044415846,0.015200411,0.035748515,0.0640712]::REAL[]),
        |(4, [-0.045071274,-0.057621308,0.00470594,-0.028427409,0.010577925,0.0020643366,0.0030443773,0.030271063,0.06781996,0.06693981,-0.010411105,-0.03287793,0.022112258,-0.0920138,0.09686792,-0.03091986,0.04703801,-0.032777086,0.03977684,0.020655159,0.022004057,-0.0057500293,0.002778062,-0.013420849,-0.010384327,0.032439973,0.050919276,-0.045315374,0.0040542553,-0.0535026,-0.0023021316,0.040078286,0.072379954,-0.016619515,0.0212618,-0.095986284,-0.013969665,0.011349328,-0.05222839,-0.019108197,0.0033137945,-0.023999205,-0.040043715,0.017808456,0.0078592105,0.025575822,-0.026065467,0.05833019,0.0010988177,-2.3226398E-4,-0.011959542,-0.014244624,0.074541144,-0.045908608,-0.04256846,-0.011612557,0.041253675,-0.021052716,0.040330485,-0.034828596,-0.040610105,0.048562936,-0.06615247,-0.054079827]::REAL[]),
        |(5, [-0.036802832,-0.07970984,0.010175653,0.033520576,0.0019681412,0.014898777,-0.04537918,0.07532346,-0.013869546,0.026446076,0.036149327,0.03021399,-0.011724245,0.012907165,-0.045805085,-0.04560446,-0.12365304,-0.03253967,-0.053021926,-0.011837741,-0.0138035165,0.01648638,0.04421658,-0.045227762,-0.03932084,0.02706602,-0.019117707,-0.0045875898,-0.003764507,-0.016906084,0.00908303,0.009660759,0.004637516,0.04342523,0.0761766,0.091382645,-0.04745479,0.023597902,0.029717358,-0.04081729,-0.054080967,-0.083059795,-0.0072128777,-7.131163E-4,0.016583841,-0.03297849,0.01647399,0.07859101,-0.016999898,-0.033240594,0.0042445064,-0.017960563,-0.012879525,0.03842349,-0.0136261415,-0.023117376,-0.055217475,-0.055819217,-0.022269065,-0.0043935515,-0.016654627,0.049902894,-0.048492625,-0.042215925]::REAL[]),
        |(6, [0.013466209,-0.042904153,0.042477332,-0.010227932,0.06610928,-0.08960638,-0.05824776,0.09722493,-0.052684724,0.12983476,0.024039803,-0.008953316,0.077392586,0.015048835,-0.034597486,-0.04612628,0.06131181,-0.01216272,-0.04209484,0.038224302,0.020744625,-0.019144693,0.034510255,0.029608011,0.08201297,0.025442395,-0.033755377,0.01684503,0.012245171,0.1239683,0.0342624,-0.07191438,0.048022225,0.021343596,0.0043778787,-0.0034581441,-0.027076015,0.014719994,-7.6361075E-6,0.049479246,-0.06339765,0.042955857,-0.018386057,0.004471063,-0.04481163,-0.045706294,-0.0303199,-0.036038432,0.020856244,0.012608098,0.060139712,0.097314045,-0.009156231,0.042162545,-0.010446251,-0.037139542,-0.016165743,-0.019707583,0.010787154,0.02973125,-0.022876702,0.03270833,0.0038668977,-0.005150107]::REAL[]),
        |(7, [0.0730371,0.013020755,0.024054889,0.031864595,0.088987224,-0.015275471,-0.09232465,0.009167585,-0.029220069,-0.046588387,0.04021698,0.011006755,-0.039308555,-0.03348064,0.024561502,0.061083548,-0.0058210245,0.0059133507,-5.9794646E-4,0.0024032826,0.020402363,-0.023590263,0.016465912,-4.0554924E-6,-0.018109495,0.039838616,-0.03640714,-0.007153099,0.06674157,5.5913307E-4,-0.01615549,0.03513253,-0.029352456,-0.017819941,-0.02422248,-0.03521332,-0.045198675,0.087121405,-0.061626047,-0.03736578,-0.010285021,-0.041728083,0.019712977,0.016591592,-0.104177706,0.025423804,-0.04550773,-0.023338027,-0.010873546,-0.038420208,0.025321431,0.03598216,-0.12894745,-0.005235948,-0.06644037,-0.03709317,0.074448235,0.06327438,0.03255707,0.01056316,0.08486752,0.0016224174,-0.053819567,0.046196803]::REAL[]),
        |(8, [-0.026988689,0.005676072,0.06782535,0.024456996,-0.046086337,-0.043952443,0.002179633,0.033751138,0.0041119666,-0.018524887,-0.074581414,0.0054647564,0.07055409,-0.02212543,0.072443716,0.05354723,-0.06561099,-0.043461844,-0.011281722,0.02830383,0.022794986,-0.040238257,-0.023748746,-0.016152153,0.08208422,0.049374044,-0.07401946,0.0036870013,0.015724914,0.062043484,0.04140938,-0.008525177,0.04211752,0.06742721,0.052381236,-0.029699845,0.0311374,-0.08147927,-0.11785748,-0.051154714,0.044584382,-0.004362243,0.016509607,0.045911286,-0.08142972,0.004555513,-0.03975339,0.029077321,-0.084855475,-0.022218805,4.4706746E-4,0.06384465,-0.03552817,-0.021320144,0.050283812,-0.0027536019,-0.007825387,-0.031355135,-0.015163805,0.060551215,-0.010323944,-0.051286574,0.059319675,-0.008877228]::REAL[]),
        |(9, [-0.021388657,-0.03833954,0.010488234,0.012838276,-0.018751947,0.05869963,0.015904548,-0.011526354,0.010039316,0.024103524,0.0012205105,0.067073315,0.0015444893,-0.028763095,-0.03773328,-0.013045459,0.10519724,-0.015350813,-8.191451E-4,-0.023473792,-0.06039969,0.020592323,-0.043630414,-0.050690085,0.03831456,0.041279532,0.06327995,0.02003199,0.0496711,-0.038714822,-0.058313925,0.016609458,0.030466363,-0.007273059,-0.05157916,0.088247605,-0.018129945,-0.021840198,0.05168867,0.018610615,0.06520981,-0.029866936,-0.0044151205,0.013927938,-0.04570822,-1.8431572E-4,-0.052126337,0.050922595,-0.023193838,-0.011714378,-0.032172486,-0.060620833,0.014884973,0.007199496,0.030895568,0.0038718958,-0.02172564,0.11099188,0.019912688,-0.07435928,-0.06544074,0.039071813,-0.03411504,-0.009885601]::REAL[]),
        |(10, [0.0071370993,0.019658236,-0.0045523485,-0.04833168,0.03178797,-0.010474304,0.015751988,4.9144845E-4,0.07806498,4.827411E-4,-0.08674548,0.026481027,0.0073601203,0.042852074,-0.015990803,0.09308003,-0.05372726,0.12433202,-0.06891425,-0.015001628,-0.04693401,-0.012581487,-0.0028753697,-0.08717856,-0.098547034,-0.05310776,-0.037760016,-0.05615235,-0.038145598,-0.022713123,0.03467133,0.0069574043,0.029949578,-0.07370147,-0.06808703,0.034529377,0.0310526,0.094641134,-0.05431165,0.006605148,-0.011224024,-0.01534252,-0.016549664,0.082232065,0.0036522031,0.06930171,0.05856372,0.05339764,-0.03373602,-0.071795896,0.028143141,0.060672484,0.03122295,0.013714599,0.02202862,0.023138084,0.042314265,-0.02036491,0.095807545,0.05904549,-0.014548051,-0.0870616,0.046183117,0.029742638]::REAL[]),
        |(11, [0.06343771,0.0058765183,-0.028651988,2.654883E-4,-0.031051632,-0.01450028,0.005515711,0.0057222177,-0.1059591,-0.05844221,-0.03852576,0.032663476,-0.046211176,0.022968149,-8.864697E-4,0.07060882,-0.033635117,0.07475268,0.01337138,-0.06901378,0.022063827,0.016496412,0.057607744,-0.0017655147,-0.038029686,-0.038872182,-0.03292653,-0.026231073,0.021813061,0.06182465,0.044717792,0.0051579736,-0.03991205,-0.027445069,0.016253272,0.008888453,-0.02366046,0.05099601,0.07553414,0.003532158,0.05964545,-0.039314654,0.1224856,-0.047990296,0.0123063335,0.037916467,-0.0035663939,0.0069394717,0.052851878,-0.05293435,0.025940722,-0.0054569067,-0.029766375,-0.05775758,0.023666384,0.037026975,0.0035354535,-0.01651138,-0.07080694,0.05577631,-0.011229619,0.04237323,-0.008191156,-0.011374551]::REAL[]),
        |(12, [-0.0069709215,-0.06376432,0.014562121,0.023505438,-0.00805442,0.052596692,-0.014337886,-0.03038546,-0.011835048,-0.007921711,0.03023597,0.045921333,0.01896049,0.13845196,0.092908606,0.044408403,0.013001887,-0.047546674,-0.010366498,-0.04815113,-0.029383505,0.03496453,-0.014905675,0.065283194,-0.091739245,0.039443012,-0.0478082,0.014884458,6.0607324E-4,-0.10552086,0.02740691,-0.06743597,-0.06964367,-0.069198124,0.011361684,0.02805329,0.018349884,-0.045934007,-0.032408886,0.03968855,0.023497354,0.011167623,-0.042538986,-0.070952915,0.03441467,-0.0018806596,-0.01955499,0.018161446,-0.03138498,0.015965274,-0.0053890795,0.013872247,0.06384498,0.022938548,-0.0059331437,-0.016028654,-0.05620602,-0.020510383,-0.008129869,-0.04284003,-0.002637135,-0.02845274,-0.02055995,-0.07163953]::REAL[]),
        |(13, [0.029149706,0.07479124,0.02134813,0.028014105,-0.08236194,0.021487799,-0.007706673,0.016405726,0.028469669,0.039957415,0.0034191187,0.05819961,-0.07168515,-0.015801666,-0.013646735,0.021917038,0.02506544,0.02792193,0.08867792,-0.01688975,-0.04303056,0.060124148,-0.021606322,0.07347927,-0.0047295894,-0.018701103,0.06960208,0.03785714,0.018378649,0.022665616,0.040388443,0.09621229,-0.013634023,0.011724319,-0.04389453,0.03410915,0.004060091,-0.004763079,-0.048742745,0.018772071,-0.06366438,-0.023697907,-0.08098032,0.015608952,-0.056213263,-0.009875079,0.063202366,0.007313751,-0.07463801,-0.00895795,0.04644951,-0.016990328,0.0072292355,0.018895894,-0.008089653,0.05243085,-0.033923563,-0.04807464,-0.062618986,-0.048751228,0.013511869,0.025235739,-0.0141408965,-0.038623083]::REAL[]),
        |(14, [-0.03636119,0.003918286,-0.042555,0.09140156,-0.0015238351,-0.01602596,0.002480287,-0.038410872,0.02110613,0.0116725145,-0.011186879,-1.6869315E-4,-0.05450557,-0.06097048,-0.03135951,-0.06177706,0.00974351,0.03444543,0.017953884,0.011268695,0.022891112,0.040979657,0.016133415,0.02357896,0.0021563438,-0.061908573,-0.013025675,0.0763776,-0.02048277,0.018044444,0.020787153,-0.10363228,0.0075083696,0.016180787,0.019898504,-0.07827056,0.018831404,-0.06491341,0.030638753,0.0023367947,0.0014614091,0.09365999,0.0067769773,-0.06887613,0.035203613,-0.0037949341,-2.8857165E-5,0.071350105,-0.014972268,-0.022833856,0.045089155,-0.04330946,-0.00906133,-0.024228686,-0.065642595,0.006414458,0.0098045375,0.028569555,-0.009579337,0.0054477938,0.017501716,0.06062958,-0.01548141,-0.025027053]::REAL[]),
        |(15, [-0.05762221,0.037857857,0.0012920756,-0.12331383,-0.054813787,-0.0015160287,-0.04967951,0.008855162,0.029448103,-0.059238102,0.02390513,-0.089110374,-0.018126799,-0.042175613,-0.040762503,-0.054818302,-0.046489846,0.018617157,0.021426188,0.075262345,0.0013388421,0.037846845,0.023848003,0.014974089,0.020168284,0.027794091,2.1293305E-4,-0.009665448,-0.055297505,0.05218786,-0.057825174,-0.06431495,0.0024881281,-5.6121347E-4,-0.006950022,0.026028318,0.06345275,-0.012733749,0.04198192,-0.011623106,0.023713393,-0.0025560872,0.037455697,0.034733556,-0.016821548,0.065115206,0.029002186,-0.092401855,-0.017456945,0.028403604,-0.01777342,-0.011197019,0.05119401,-0.02116531,0.018101621,-0.0017772928,0.031117678,-0.011913698,-0.049216475,-0.04190238,-0.002785807,0.009239766,0.015038274,-0.014865515]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |assign AS ( -- nearest centroid per row (argmin over 16)
        |  SELECT id, cid FROM (
        |    SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id ORDER BY
        |      list_sum(list_transform(list_zip(b.v, c.cv),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cid) AS rn
        |    FROM b, cents c) t WHERE rn = 1),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS ( -- nprobe=4 nearest centroids per query, L2 on doubles
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      sqrt(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv::DOUBLE[]),
        |        p -> (p[1]-p[2])*(p[1]-p[2])))), c.cid) AS rn
        |    FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cents c) t
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |cd AS (
        |  SELECT c.qid, c.id,
        |    sqrt(list_sum(list_transform(list_zip(qb.dv, rb.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM cand c JOIN bv qb ON c.qid = qb.id JOIN bv rb ON c.id = rb.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'ivf' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.55""".stripMargin,
    // PQ ADC replicated in SQL: the seeded subspace codebooks (built on
    // the sf0.01 gate data) embedded as literals; per-subvector argmin encoding, per-query LUT join,
    // summed subdistances, sqrt, recall vs exact GT.
    // (literal VALUES exceed the JVM 64KB string-constant cap → chunked)
    "j9_pq_adc" -> Seq(
      """WITH cbs(sub, cent, cb) AS (VALUES
        |(0, 0, [-0.043593742,0.08088863,-0.11473521,0.14193934]::REAL[]),
        |(0, 1, [-0.17323919,0.15227182,-0.02456348,0.08914925]::REAL[]),
        |(0, 2, [-0.28098592,-0.030852742,0.037227683,0.039334387]::REAL[]),
        |(0, 3, [0.31740013,0.02662396,0.10351039,-0.10243415]::REAL[]),
        |(0, 4, [-0.12346822,0.010013214,-0.06025412,0.051193465]::REAL[]),
        |(0, 5, [-0.11680386,-0.23777816,0.038642574,0.18110134]::REAL[]),
        |(0, 6, [-0.015309364,-0.21241014,0.11702346,0.061689693]::REAL[]),
        |(0, 7, [0.08722604,0.04881913,0.029513258,0.18343596]::REAL[]),
        |(0, 8, [-0.015591847,0.013434055,0.1868072,0.08273416]::REAL[]),
        |(0, 9, [-0.16149251,0.036659025,-0.1699885,-0.07847739]::REAL[]),
        |(0, 10, [0.12190995,-0.15360722,-0.051703736,-0.09481296]::REAL[]),
        |(0, 11, [0.016755933,-0.0410688,-0.094438724,0.2403554]::REAL[]),
        |(0, 12, [0.04677964,-0.100190006,0.12155037,0.17512433]::REAL[]),
        |(0, 13, [0.1318196,0.11339954,0.17139545,0.021967348]::REAL[]),
        |(0, 14, [-0.14835079,-0.037937827,-0.12693565,0.1409565]::REAL[]),
        |(0, 15, [-0.20716532,0.05783614,0.04123796,-0.399964]::REAL[]),
        |(0, 16, [-0.12931678,0.027933793,0.23777398,-0.101595834]::REAL[]),
        |(0, 17, [0.11983462,0.10669674,-0.075606704,-0.07903569]::REAL[]),
        |(0, 18, [-0.13303271,-0.05309974,0.06389533,-0.00819455]::REAL[]),
        |(0, 19, [0.140326,-0.12776384,-0.1780087,-0.079895295]::REAL[]),
        |(0, 20, [-0.033636328,-0.018775845,0.024441328,-0.1537754]::REAL[]),
        |(0, 21, [0.04237551,0.2063829,0.019591242,0.11015019]::REAL[]),
        |(0, 22, [0.10153141,-0.050300404,-0.08524027,0.015220494]::REAL[]),
        |(0, 23, [0.10296684,-0.14206584,0.10303248,-0.20805041]::REAL[]),
        |(0, 24, [0.065708466,-3.3043613E-4,-0.015157521,-0.04321124]::REAL[]),
        |(0, 25, [-0.18965551,-0.20289557,-0.054842763,-0.0028527132]::REAL[]),
        |(0, 26, [-0.09482341,-0.19982241,0.1177755,-0.087409854]::REAL[]),
        |(0, 27, [0.036176838,0.13971539,-0.19128028,0.06921299]::REAL[]),
        |(0, 28, [0.18397993,-0.0739813,0.097227104,-0.04155042]::REAL[]),
        |(0, 29, [-0.04782419,-0.13102363,-0.22513473,-0.17006952]::REAL[]),
        |(0, 30, [-0.28164053,0.014319441,-0.020582339,-0.11859045]::REAL[]),
        |(0, 31, [-0.033923514,-0.010629465,-0.12193316,-0.11985125]::REAL[]),
        |(0, 32, [-0.0029276204,-0.014070492,0.18958569,-0.18773532]::REAL[]),
        |(0, 33, [-0.21864702,-0.17710334,-0.04134187,-0.20422547]::REAL[]),
        |(0, 34, [0.11672403,0.116096556,-0.2861655,-0.07189017]::REAL[]),
        |(0, 35, [-0.030711047,0.057855844,-0.05140743,0.016678533]::REAL[]),
        |(0, 36, [-0.10525788,0.21125378,0.08677356,0.0031509493]::REAL[]),
        |(0, 37, [0.19250375,-0.04014027,-0.040639266,-0.1485124]::REAL[]),
        |(0, 38, [-0.065602,-0.12638167,-0.037225083,-0.231957]::REAL[]),
        |(0, 39, [0.06747908,-0.0067077577,0.021984538,0.07942653]::REAL[]),
        |(0, 40, [-0.044986352,-0.020681562,0.11314056,-0.024587335]::REAL[]),
        |(0, 41, [0.10990637,-0.3158094,-0.01412577,-0.024980318]::REAL[]),
        |(0, 42, [-0.044140644,0.1714609,-0.098125584,-0.09285]::REAL[]),
        |(0, 43, [-0.09647313,-0.09261194,-0.0073243543,-0.085512675]::REAL[]),
        |(0, 44, [0.23040852,-0.09928374,0.040047675,0.11462741]::REAL[]),
        |(0, 45, [-0.08252778,0.071363606,-0.026702357,0.24980712]::REAL[]),
        |(0, 46, [-0.18610296,-0.060980726,-0.1899076,-0.010012981]::REAL[]),
        |(0, 47, [0.016692441,-0.037961643,-0.19184598,0.11357426]::REAL[]),
        |(0, 48, [0.23112431,0.12828836,-0.090363264,0.15529446]::REAL[]),
        |(0, 49, [0.101361535,-0.13593975,-0.053793926,0.11397825]::REAL[]),
        |(0, 50, [0.008725128,-0.13765056,-0.14508829,-0.03170758]::REAL[]),
        |(0, 51, [0.20209317,0.14324842,0.087425865,-0.1962451]::REAL[]),
        |(0, 52, [0.029012425,0.1666009,-0.06752686,-0.23601124]::REAL[]),
        |(0, 53, [-0.038153455,-0.11333925,0.025751712,0.104262955]::REAL[]),
        |(0, 54, [-0.025061714,0.09307076,0.10490525,-0.1543029]::REAL[]),
        |(0, 55, [-0.17069873,0.093754925,0.11292264,0.078626215]::REAL[]),
        |(0, 56, [-0.11909024,0.08486302,0.0067683784,-0.12487683]::REAL[]),
        |(0, 57, [0.22782542,6.053246E-4,-0.12510069,0.07567727]::REAL[]),
        |(0, 58, [0.10360361,0.028124148,0.05212209,-0.14671285]::REAL[]),
        |(0, 59, [-0.003910831,-0.056121346,0.28312686,-0.056580085]::REAL[]),
        |(0, 60, [-0.13305706,-0.042507052,0.043776117,0.18984437]::REAL[]),
        |(0, 61, [0.0070954016,0.13077244,0.13897538,-0.061308168]::REAL[]),
        |(0, 62, [0.0052924915,0.2749364,0.08473751,-0.081229515]::REAL[]),
        |(0, 63, [0.036265388,-0.14546958,0.034191966,-0.03816755]::REAL[]),
        |(1, 0, [-0.020916566,-0.11228697,-0.13549766,0.10125761]::REAL[]),
        |(1, 1, [-0.08848922,-0.16062857,0.023633072,-0.0089803515]::REAL[]),
        |(1, 2, [0.0760619,-0.06584992,-0.13973308,-0.2377998]::REAL[]),
        |(1, 3, [0.19830266,0.18587823,-0.2836686,-0.06564591]::REAL[]),
        |(1, 4, [-0.054028135,0.019185575,-0.07952816,0.035153933]::REAL[]),
        |(1, 5, [0.20901151,0.14550778,0.10226109,0.15394896]::REAL[]),
        |(1, 6, [-0.036477305,0.32516658,0.114673674,-0.2545679]::REAL[]),
        |(1, 7, [-0.16185878,-0.008282649,0.15996568,0.09354934]::REAL[]),
        |(1, 8, [-0.084415555,0.17720962,-0.052651405,0.038405813]::REAL[]),
        |(1, 9, [-0.2927839,-0.13209192,-0.061137587,0.027874596]::REAL[]),
        |(1, 10, [-0.06963802,0.08023068,0.044364266,-0.054580744]::REAL[]),
        |(1, 11, [0.2035928,0.050950464,-0.08638708,0.09738012]::REAL[]),
        |(1, 12, [0.072462305,-0.06414465,-0.23577371,-0.111096]::REAL[]),
        |(1, 13, [-0.11515005,-0.034955934,-0.2225672,0.101318486]::REAL[]),
        |(1, 14, [0.114098325,-0.05233264,-0.0726192,-0.013087267]::REAL[]),
        |(1, 15, [-0.041803867,-0.06610469,0.013938699,-0.039130688]::REAL[]),
        |(1, 16, [0.21050249,-0.19717541,-0.123787925,0.1361214]::REAL[]),
        |(1, 17, [0.08742176,-0.035338916,0.06272807,0.030004852]::REAL[]),
        |(1, 18, [0.1599717,0.047960293,0.09951403,-0.08265662]::REAL[]),
        |(1, 19, [-0.048446726,0.14147285,-0.18568471,0.018600289]::REAL[]),
        |(1, 20, [-0.10663296,-0.036806963,0.0018844364,0.15561396]::REAL[]),
        |(1, 21, [-0.022819908,0.027512712,-0.0760499,0.12299847]::REAL[]),
        |(1, 22, [0.02173941,-0.02396257,-0.09217004,0.012138321]::REAL[]),
        |(1, 23, [0.09162902,0.0647589,-0.123423494,0.16137946]::REAL[]),
        |(1, 24, [0.25096545,0.26359057,0.11865637,-0.1873604]::REAL[]),
        |(1, 25, [-0.22817111,0.15530464,0.032544322,0.03326369]::REAL[]),
        |(1, 26, [0.16875866,-0.009149588,0.025031645,-0.23441288]::REAL[]),
        |(1, 27, [-0.11001271,-0.22060962,0.16388898,0.17116977]::REAL[]),
        |(1, 28, [0.055114273,0.06155917,-0.05587048,0.29043686]::REAL[]),
        |(1, 29, [-0.30589253,0.07413175,-0.055485666,0.18202318]::REAL[]),
        |(1, 30, [0.035067014,0.106950626,0.124066725,-0.15720545]::REAL[]),
        |(1, 31, [0.13631082,0.28630626,-0.13272595,0.07750905]::REAL[]),
        |(1, 32, [0.12975186,0.0887095,-0.16294383,0.0033421682]::REAL[]),
        |(1, 33, [0.13539657,-0.21028724,0.07411215,0.049504727]::REAL[]),
        |(1, 34, [-0.039326645,0.17583874,0.19089544,0.06237469]::REAL[]),
        |(1, 35, [0.06195685,-0.0015289753,-0.096973106,-0.3668924]::REAL[]),
        |(1, 36, [0.08298477,-0.20377412,-0.13445716,0.025604261]::REAL[]),
        |(1, 37, [-0.023208328,-0.12713541,-0.08479423,-0.16150428]::REAL[]),
        |(1, 38, [0.21116644,-0.04087279,0.054934576,0.10249251]::REAL[]),
        |(1, 39, [0.11972917,0.06329637,0.037671134,0.14451182]::REAL[]),
        |(1, 40, [-0.025666183,0.11084364,-0.21989639,-0.13484356]::REAL[]),
        |(1, 41, [0.08745593,0.13425027,-0.03345783,-0.106793165]::REAL[]),
        |(1, 42, [0.09100074,0.23470476,0.09565029,0.07746596]::REAL[]),
        |(1, 43, [0.012306971,-0.16429311,0.3150901,-0.020599645]::REAL[]),
        |(1, 44, [-0.17079891,-0.045730222,0.0074521187,0.029358461]::REAL[]),
        |(1, 45, [0.0548354,0.11804291,-0.029912133,0.03458901]::REAL[]),
        |(1, 46, [-0.13649413,-0.29396522,-0.043079875,-0.1290296]::REAL[]),
        |(1, 47, [-0.10585415,0.09276225,0.018079678,0.26700637]::REAL[]),
        |(1, 48, [-0.061078295,0.05178283,-0.0027178987,0.10019508]::REAL[]),
        |(1, 49, [0.23154631,-0.08388678,-0.17726903,0.08353303]::REAL[]),
        |(1, 50, [-0.06833434,-0.051489964,0.05972215,0.089015454]::REAL[]),
        |(1, 51, [-0.033990394,0.018626785,-0.047519423,-0.07549607]::REAL[]),
        |(1, 52, [-0.18940222,0.09212224,-0.1251392,-0.046071198]::REAL[]),
        |(1, 53, [-0.107305914,-0.041583646,0.013746146,-0.22247498]::REAL[]),
        |(1, 54, [0.20288946,-0.08468564,-0.11749316,-0.08394266]::REAL[]),
        |(1, 55, [0.049766757,0.06337189,0.2975619,-0.064813375]::REAL[]),
        |(1, 56, [0.014812367,-0.0054334635,0.14231804,0.16078445]::REAL[]),
        |(1, 57, [0.04178249,-0.06849321,0.08221277,-0.15780893]::REAL[]),
        |(1, 58, [9.09206E-5,0.2060021,-0.036822703,0.17299303]::REAL[]),
        |(1, 59, [-0.022878986,-0.27675584,-0.03187976,0.18896718]::REAL[]),
        |(1, 60, [-0.18893324,0.032066114,0.10866943,-0.03556808]::REAL[]),
        |(1, 61, [-0.05177161,-0.062149104,0.1780155,0.027752511]::REAL[]),
        |(1, 62, [-0.015912293,0.10721168,0.045279242,0.194697]::REAL[]),
        |(1, 63, [0.11178372,-0.1415893,-0.031776402,0.21860293]::REAL[]),
        |(2, 0, [-0.029308053,-0.1491422,0.12968884,-0.037323732]::REAL[]),
        |(2, 1, [-0.05841477,-0.004526396,-0.25326943,0.011370818]::REAL[]),
        |(2, 2, [0.12495161,0.017941685,0.10797664,0.080517195]::REAL[]),
        |(2, 3, [0.039558645,-0.1128621,-0.10006681,-0.122506686]::REAL[]),
        |(2, 4, [0.001548702,-0.15350299,-0.091784775,0.066978425]::REAL[]),
        |(2, 5, [-0.01409041,0.14888313,0.1780437,0.0897021]::REAL[]),
        |(2, 6, [0.16090946,-0.09223176,0.06820364,-0.28132716]::REAL[]),
        |(2, 7, [0.27315465,-0.17763945,0.10127545,0.32589763]::REAL[]),
        |(2, 8, [0.2420379,0.22698684,0.10090103,-0.006371664]::REAL[]),
        |(2, 9, [0.1598138,-0.16780646,0.27297947,-0.00999567]::REAL[]),
        |(2, 10, [0.07575461,0.2546092,-0.072477266,0.09248737]::REAL[]),
        |(2, 11, [0.08461466,-0.05040413,-0.13090102,0.16725926]::REAL[]),
        |(2, 12, [-0.033059027,-0.016153023,0.067178,-0.0051519657]::REAL[]),
        |(2, 13, [0.14300464,0.15411277,-0.012724151,-0.11860126]::REAL[]),
        |(2, 14, [-0.06572724,-0.098833166,0.11456302,0.16069604]::REAL[]),
        |(2, 15, [-0.032269213,0.11884915,-0.04086376,-0.3111091]::REAL[]),
        |(2, 16, [-0.084152386,0.3626035,0.17430753,-0.05681667]::REAL[]),
        |(2, 17, [-0.054986697,0.26339665,-0.09849809,-0.056476373]::REAL[]),
        |(2, 18, [-0.23293711,0.091061436,0.10271237,-0.055823907]::REAL[]),
        |(2, 19, [-0.0361985,-0.009298239,-0.06569659,0.035088837]::REAL[]),
        |(2, 20, [0.15030585,-0.045131147,-0.19016053,-0.1424623]::REAL[]),
        |(2, 21, [0.014551165,0.0902861,0.21662451,-0.121924795]::REAL[]),
        |(2, 22, [-0.23653515,-0.15808295,0.16928741,-0.0698962]::REAL[]),
        |(2, 23, [-0.12763947,0.2573695,0.08026605,0.08058808]::REAL[]),
        |(2, 24, [-0.10225808,0.06827024,0.10741117,-0.09867128]::REAL[]),
        |(2, 25, [0.21655864,0.037505683,0.048887417,0.02627607]::REAL[]),
        |(2, 26, [-0.22772166,-0.20998123,-0.09683286,0.10065521]::REAL[]),
        |(2, 27, [0.011538862,0.19512907,0.076718375,-0.019170063]::REAL[]),
        |(2, 28, [0.16717409,-0.2413163,-0.09093532,-0.04356013]::REAL[]),
        |(2, 29, [-0.13239884,0.16487129,-0.150723,0.18098593]::REAL[]),
        |(2, 30, [0.011311087,-0.21376988,0.034643415,-0.03100942]::REAL[]),
        |(2, 31, [-0.12583365,-0.1683804,-0.19431351,0.03290839]::REAL[]),
        |(2, 32, [0.0943239,-0.16949517,0.03438625,0.08533938]::REAL[]),
        |(2, 33, [0.10560353,0.07193939,-0.12949196,0.082014635]::REAL[]),
        |(2, 34, [-0.17383467,2.2015843E-4,0.19872247,0.021376103]::REAL[]),
        |(2, 35, [0.024891395,-0.06300591,-0.07976252,-0.042996015]::REAL[]),
        |(2, 36, [0.07510606,-0.054829966,-0.14788173,0.025026223]::REAL[]),
        |(2, 37, [0.041242,-0.20190766,0.07669418,-0.1464619]::REAL[]),
        |(2, 38, [0.07506059,-0.054236498,0.02550826,0.007342306]::REAL[]),
        |(2, 39, [0.14057109,-0.07781499,0.17976436,0.0070845024]::REAL[]),
        |(2, 40, [0.025215778,-0.0496174,0.24107197,0.11664845]::REAL[]),
        |(2, 41, [-0.11071911,-0.1957526,-0.041621406,-0.030235557]::REAL[]),
        |(2, 42, [0.11021955,0.12172741,-0.11300874,-0.07215514]::REAL[]),
        |(2, 43, [-0.030052118,-0.11054047,0.026654601,0.04427686]::REAL[]),
        |(2, 44, [-0.14054954,-0.04987134,0.037610058,0.030046053]::REAL[]),
        |(2, 45, [-0.07431093,0.005761734,-0.031897437,-0.13597855]::REAL[]),
        |(2, 46, [-0.097349934,-0.20375015,-0.014196472,0.18166424]::REAL[]),
        |(2, 47, [0.119449,0.09880923,0.017578203,0.09104867]::REAL[]),
        |(2, 48, [-0.16240312,0.09259317,-0.0356936,0.05812937]::REAL[]),
        |(2, 49, [-0.093937755,-0.2025966,-0.06256176,-0.22039278]::REAL[]),
        |(2, 50, [-0.0044953013,-0.06138674,-0.34411904,0.26954743]::REAL[]),
        |(2, 51, [-0.031802572,0.021325072,-0.013008402,0.16016975]::REAL[]),
        |(2, 52, [-0.012929858,0.088815406,0.062096305,0.28962082]::REAL[]),
        |(2, 53, [-0.029401843,-0.06947657,0.18618557,-0.10940528]::REAL[]),
        |(2, 54, [-0.06313181,-0.085233085,0.16903968,-0.25774997]::REAL[]),
        |(2, 55, [0.3285826,0.09965618,-0.1177867,0.07160408]::REAL[]),
        |(2, 56, [-0.09474563,0.11755357,-0.01549627,-0.040985223]::REAL[]),
        |(2, 57, [0.054600142,-0.025625655,0.09477903,-0.09669687]::REAL[]),
        |(2, 58, [0.12043667,-0.025148325,-0.055333022,-0.043082163]::REAL[]),
        |(2, 59, [0.12768397,0.07380581,0.14607133,-0.048469182]::REAL[]),
        |(2, 60, [-0.15315643,-0.022288803,-0.16559286,-0.104476534]::REAL[]),
        |(2, 61, [0.102196455,0.02796456,0.0048300177,-0.16031411]::REAL[]),
        |(2, 62, [-0.022567073,0.06520046,0.14019209,-0.024460142]::REAL[]),
        |(2, 63, [0.25111693,-0.06749378,-0.006975557,-0.07718837]::REAL[]),
        |(3, 0, [-0.21537238,-0.091514796,-0.1499901,-0.16267169]::REAL[]),
        |(3, 1, [0.1813979,-0.21135521,0.0029551862,0.056423556]::REAL[]),
        |(3, 2, [-0.12937844,0.22690508,0.10030003,-0.087292515]::REAL[]),
        |(3, 3, [-0.081143714,-0.20601057,-0.10545359,-0.14472762]::REAL[]),
        |(3, 4, [0.0042655864,-0.11036034,-0.1614346,-0.020166703]::REAL[]),
        |(3, 5, [-0.055788793,-0.024350544,-0.061045457,0.0060913465]::REAL[]),
        |(3, 6, [-0.1667009,0.03091006,0.10337253,0.06866215]::REAL[]),
        |(3, 7, [0.039263003,-0.104528114,-0.006575853,-0.2027359]::REAL[]),
        |(3, 8, [0.09331376,0.05156901,0.048711248,0.08538323]::REAL[]),
        |(3, 9, [-0.12722015,-0.090239376,0.18878733,-0.058191508]::REAL[]),
        |(3, 10, [-0.15869734,-0.07181873,0.014820438,-0.12109618]::REAL[]),
        |(3, 11, [-0.17542206,0.15362771,0.18127738,0.06273572]::REAL[]),
        |(3, 12, [0.164962,0.21475707,-0.033357896,-0.05582962]::REAL[]),
        |(3, 13, [0.26069212,0.015173153,0.100246914,0.19818665]::REAL[]),
        |(3, 14, [-0.022544298,0.1877918,0.03516442,0.1503538]::REAL[]),
        |(3, 15, [0.2333296,-0.1830772,0.3617298,-0.024819275]::REAL[]),
        |(3, 16, [0.061769765,-0.15304635,0.09365638,-0.080347806]::REAL[]),
        |(3, 17, [-0.11570596,0.03583399,-0.23557532,6.757023E-4]::REAL[]),
        |(3, 18, [0.0013866187,0.09088896,0.20612757,0.07054369]::REAL[]),
        |(3, 19, [0.07247791,0.13889031,-0.2302668,0.12831847]::REAL[]),
        |(3, 20, [-0.17078382,-0.15557992,-0.13219312,0.035656724]::REAL[]),
        |(3, 21, [-0.16308424,0.015531138,-0.22721966,0.19786969]::REAL[]),
        |(3, 22, [0.016206147,-0.05076888,0.07703677,-0.02620063]::REAL[]),
        |(3, 23, [-0.27207527,-0.05278198,-0.014737565,-0.004756819]::REAL[]),
        |(3, 24, [0.113560244,0.15833467,0.10733848,-0.12781705]::REAL[]),
        |(3, 25, [0.057570927,-0.014907328,0.1859703,0.15748087]::REAL[]),
        |(3, 26, [-0.25694022,-0.082363054,0.1622361,0.01811767]::REAL[]),
        |(3, 27, [-0.20920542,0.12876076,-0.056131817,-0.06428219]::REAL[]),
        |(3, 28, [-0.016207451,0.08298439,0.016074602,-0.06960865]::REAL[]),
        |(3, 29, [-0.04498702,0.017096536,0.11354377,-0.16348445]::REAL[]),
        |(3, 30, [-0.08630076,1.9180495E-4,-0.19221216,-0.2176472]::REAL[]),
        |(3, 31, [0.1713389,0.020595087,0.19732745,-0.09432724]::REAL[]),
        |(3, 32, [0.19802067,-0.069233306,0.11462085,-0.06259569]::REAL[]),
        |(3, 33, [0.07310109,-0.02516644,-0.04344589,0.2490863]::REAL[]),
        |(3, 34, [0.024018303,-0.11973554,0.06740435,0.10469541]::REAL[]),
        |(3, 35, [0.19682106,0.2538164,0.03591117,0.0663093]::REAL[]),
        |(3, 36, [-0.17711231,0.005272301,-0.07666219,0.22052428]::REAL[]),
        |(3, 37, [-0.037104234,0.2966736,8.711033E-4,-0.028856132]::REAL[]),
        |(3, 38, [0.11875501,0.012384768,0.0070985556,-0.047351632]::REAL[]),
        |(3, 39, [0.083813176,-0.005631969,-0.05406799,0.06243608]::REAL[]),
        |(3, 40, [-0.019105725,0.15218396,-0.09374586,-0.08683204]::REAL[]),
        |(3, 41, [-0.048460886,0.090199575,0.1273791,-0.04464468]::REAL[]),
        |(3, 42, [-0.051609818,0.01632248,0.052599143,0.10103588]::REAL[]),
        |(3, 43, [0.16631775,0.14742425,0.16058026,0.10163796]::REAL[]),
        |(3, 44, [0.20063451,-0.008869131,-0.033316474,-0.19005565]::REAL[]),
        |(3, 45, [-0.017641112,0.0324669,-0.07833572,0.16833344]::REAL[]),
        |(3, 46, [0.092530824,-0.07095992,-0.07668315,-0.06079666]::REAL[]),
        |(3, 47, [-0.0712648,0.12340985,-0.055150624,0.05556937]::REAL[]),
        |(3, 48, [-0.05307368,-0.18576488,-0.088189006,-0.02628221]::REAL[]),
        |(3, 49, [-0.06474233,-0.09437719,-0.10263023,0.12592669]::REAL[]),
        |(3, 50, [-0.094676055,-0.29996285,0.07614103,-0.0444682]::REAL[]),
        |(3, 51, [-0.13913864,0.047686078,0.19165848,0.2560319]::REAL[]),
        |(3, 52, [0.23091555,-0.17956078,-0.17464405,0.13896555]::REAL[]),
        |(3, 53, [0.058710836,0.05944848,-0.17991933,-0.1092284]::REAL[]),
        |(3, 54, [0.12574148,-0.27137536,-0.20527099,0.07834033]::REAL[]),
        |(3, 55, [0.08440959,-0.16021639,-0.08498086,-0.31646273]::REAL[]),
        |(3, 56, [0.036845524,-0.19500752,-0.03570932,0.13234536]::REAL[]),
        |(3, 57, [0.16653861,0.115025505,-0.09373221,0.12249159]::REAL[]),
        |(3, 58, [0.054172635,-0.2545949,0.11332749,-0.091366254]::REAL[]),
        |(3, 59, [0.06753112,-0.19397771,0.0037492183,-0.03223517]::REAL[]),
        |(3, 60, [0.08998428,-0.116163425,0.17208113,-0.0077600735]::REAL[]),
        |(3, 61, [-0.06547771,0.029073609,0.012023931,-0.25272518]::REAL[]),
        |(3, 62, [0.03835268,-0.062264662,0.17407143,-0.20605883]::REAL[]),
        |(3, 63, [0.05085383,-0.059396252,-0.21056762,0.07116619]::REAL[]),
        |(4, 0, [-0.03384725,0.13958277,0.048064616,-0.10286194]::REAL[]),
        |(4, 1, [-0.04034177,0.12610145,-0.13667172,-0.010156239]::REAL[]),
        |(4, 2, [-0.11108908,-0.14489904,-0.25084096,-0.035970002]::REAL[]),
        |(4, 3, [0.091261655,-0.047584563,-0.08962943,0.09492144]::REAL[]),
        |(4, 4, [-0.034187265,0.11252262,0.0689968,0.26097158]::REAL[]),
        |(4, 5, [0.04828907,-0.09803499,-0.15517278,-0.031311926]::REAL[]),
        |(4, 6, [0.0870907,0.08925131,0.16148347,0.08470324]::REAL[]),
        |(4, 7, [0.0021010267,-0.1272779,-0.053936366,0.049864613]::REAL[]),
        |(4, 8, [0.017731508,0.040579267,0.016724503,0.10728193]::REAL[]),
        |(4, 9, [-0.15448262,0.22400483,-0.08247545,0.05723834]::REAL[]),
        |(4, 10, [0.049044173,-0.0054379883,0.050215617,-0.090213686]::REAL[]),
        |(4, 11, [-0.048569642,0.061300173,0.10634812,-0.030559482]::REAL[]),
        |(4, 12, [-0.06988222,0.06638272,-0.01663898,-0.03851049]::REAL[]),
        |(4, 13, [-0.08859572,-0.0088399695,-0.112326674,0.015618452]::REAL[]),
        |(4, 14, [-0.046133876,0.13641994,-0.13159971,-0.18027878]::REAL[]),
        |(4, 15, [-0.13385028,-0.10799937,-0.0075430516,-0.08040235]::REAL[]),
        |(4, 16, [-0.16120827,-0.31095874,-0.1324906,-0.11687731]::REAL[]),
        |(4, 17, [0.17877862,-9.997189E-5,-0.08325057,-0.20135318]::REAL[]),
        |(4, 18, [0.055377737,-0.21999075,-0.18188341,0.09920976]::REAL[]),
        |(4, 19, [-0.0748078,-0.08249194,0.106191255,0.11174561]::REAL[]),
        |(4, 20, [-0.038819633,0.17082538,0.051160395,-0.15942977]::REAL[]),
        |(4, 21, [0.049627256,0.056977626,-0.15193878,-0.05132626]::REAL[]),
        |(4, 22, [-0.044670552,-0.267878,0.048560124,-0.080809094]::REAL[]),
        |(4, 23, [0.15747225,0.13072707,0.1735888,-0.052630305]::REAL[]),
        |(4, 24, [-0.19750899,-0.050659943,-0.13531968,-0.11807469]::REAL[]),
        |(4, 25, [-0.11438732,-0.0084335385,-0.005709767,0.11875075]::REAL[]),
        |(4, 26, [-0.22499667,-0.14366291,-0.09774193,0.11101836]::REAL[]),
        |(4, 27, [0.070220456,0.12411013,0.05522114,-0.09291651]::REAL[]),
        |(4, 28, [-0.019425515,-0.07742123,0.05476649,0.004436672]::REAL[]),
        |(4, 29, [0.19088285,0.092107564,-0.014730422,-0.080537885]::REAL[]),
        |(4, 30, [-0.061463963,-0.0068640145,-0.15348914,0.16845767]::REAL[]),
        |(4, 31, [0.16988291,0.009919453,0.17626612,0.1411018]::REAL[]),
        |(4, 32, [0.081400745,0.21749924,-0.072977014,0.0058133095]::REAL[]),
        |(4, 33, [0.09535681,-0.17793475,-0.06211646,-0.15112562]::REAL[]),
        |(4, 34, [0.08696243,-0.12483177,0.1625299,0.01889586]::REAL[]),
        |(4, 35, [8.5488707E-4,0.19307433,0.05592446,0.06650861]::REAL[]),
        |(4, 36, [0.13343379,-0.0086602885,-0.090356484,0.25870776]::REAL[]),
        |(4, 37, [0.031836316,-0.07381933,-0.09099765,-0.13926226]::REAL[]),
        |(4, 38, [0.09850749,-0.0911518,0.03849617,-0.13920532]::REAL[]),
        |(4, 39, [-0.1280074,0.0697791,-0.18099637,-0.03481977]::REAL[]),
        |(4, 40, [-0.12236874,-0.17170967,0.032907173,0.019365463]::REAL[]),
        |(4, 41, [-0.046028912,0.10144117,0.30467492,0.092963986]::REAL[]),
        |(4, 42, [-0.20330258,0.104934074,-0.07464537,-0.001741251]::REAL[]),
        |(4, 43, [-0.21964402,-0.07230336,0.12728532,-0.06572836]::REAL[]),
        |(4, 44, [0.02869472,0.11923841,0.04076252,-0.28925928]::REAL[]),
        |(4, 45, [-0.116740726,0.11632048,0.006973315,0.06133079]::REAL[]),
        |(4, 46, [-0.04251134,0.315868,0.14194988,-0.122066505]::REAL[]),
        |(4, 47, [0.23092692,-0.0656,-0.1102931,-0.014848952]::REAL[]),
        |(4, 48, [-0.080783874,-0.12124781,-0.036486056,0.18779674]::REAL[]),
        |(4, 49, [0.2470884,-0.16117969,0.08810501,-0.11863641]::REAL[]),
        |(4, 50, [-0.22108242,0.095911086,0.14460184,-0.12365337]::REAL[]),
        |(4, 51, [-0.058267895,-0.0064181993,0.115151905,0.03781931]::REAL[]),
        |(4, 52, [-0.091446705,0.39099407,-0.055891845,-0.13347822]::REAL[]),
        |(4, 53, [0.12655142,0.012322114,0.015662894,-4.0266095E-4]::REAL[]),
        |(4, 54, [0.27707544,-0.016389724,0.021806918,0.16912827]::REAL[]),
        |(4, 55, [0.12145604,-0.14452727,0.054020505,0.050080914]::REAL[]),
        |(4, 56, [-0.16566119,0.1343993,0.098843634,0.0026333253]::REAL[]),
        |(4, 57, [0.03442245,-0.007034269,0.19807874,-0.07910093]::REAL[]),
        |(4, 58, [0.05793339,0.11358875,-0.0664751,0.13992676]::REAL[]),
        |(4, 59, [-0.07108739,-0.10832915,0.2960014,-0.0021644142]::REAL[]),
        |(4, 60, [0.0033170453,-0.0058018845,0.25467587,0.10045362]::REAL[]),
        |(4, 61, [0.036861327,0.092359126,0.1991544,-0.16240059]::REAL[]),
        |(4, 62, [-0.076080725,0.0027924187,0.06787344,-0.17612189]::REAL[]),
        |(4, 63, [0.083760485,0.013580366,-0.25913775,0.08280993]::REAL[]),
        |(5, 0, [0.17176852,0.07342062,-0.04036992,0.25504735]::REAL[]),
        |(5, 1, [0.054262307,0.099677324,-0.20705777,0.07708614]::REAL[]),
        |(5, 2, [-0.20551418,0.20718403,0.09458166,-0.16021733]::REAL[]),
        |(5, 3, [-0.2287671,-0.158584,-0.013647997,0.30783603]::REAL[]),
        |(5, 4, [0.0014424032,-0.2547312,-0.010890776,-0.1366208]::REAL[]),
        |(5, 5, [-0.12972578,0.17738296,-0.01820174,0.10097945]::REAL[]),
        |(5, 6, [-0.0010101368,-0.13133126,0.11975882,-0.2063582]::REAL[]),
        |(5, 7, [0.2347625,-0.0019030522,0.03397974,0.007965442]::REAL[]),
        |(5, 8, [0.07853976,0.0055942805,-0.15182829,0.25750172]::REAL[]),
        |(5, 9, [0.043573134,-0.036747787,-0.14188302,0.09289264]::REAL[]),
        |(5, 10, [-0.13671589,-0.04226157,-0.06324159,0.13354936]::REAL[]),
        |(5, 11, [0.049799126,0.18202895,0.15821733,0.1446687]::REAL[]),
        |(5, 12, [-0.2709335,-0.10141066,-0.10328497,-0.040722795]::REAL[]),
        |(5, 13, [-0.12749194,0.097412854,-0.1617861,-0.029085577]::REAL[]),
        |(5, 14, [-0.15803742,0.15334246,0.21690322,0.106496684]::REAL[]),
        |(5, 15, [-0.14254692,-0.044163935,-0.18630326,-0.11201226]::REAL[]),
        |(5, 16, [-0.018611496,0.13067359,-0.06454259,0.11867101]::REAL[]),
        |(5, 17, [-0.23311712,0.08722447,0.091744706,0.13131532]::REAL[]),
        |(5, 18, [-0.09096499,-0.012051312,0.21358964,-0.3485065]::REAL[]),
        |(5, 19, [0.16013631,-0.1371924,-0.14764324,-0.007208558]::REAL[]),
        |(5, 20, [-0.02420047,-0.22009662,0.22272041,-0.08611585]::REAL[]),
        |(5, 21, [0.15965445,0.10546172,0.16687965,-0.044252582]::REAL[]),
        |(5, 22, [0.2195162,-0.074088454,-0.041360114,-0.16817786]::REAL[]),
        |(5, 23, [0.081279114,0.05512445,-0.13786952,-0.07360925]::REAL[]),
        |(5, 24, [0.03689924,0.015352238,0.08113843,-0.09828466]::REAL[]),
        |(5, 25, [0.0031200538,0.016289808,0.23482993,-0.120623566]::REAL[]),
        |(5, 26, [0.1440844,0.11557227,-0.10660309,0.039030235]::REAL[]),
        |(5, 27, [-0.12755223,0.032661792,0.14605695,-0.015311759]::REAL[]),
        |(5, 28, [0.0027949174,-0.14214091,0.08099385,0.118086465]::REAL[]),
        |(5, 29, [0.10794319,-0.11186384,-0.025808243,0.052995842]::REAL[]),
        |(5, 30, [0.15013826,-0.063188575,0.034247655,-0.33891937]::REAL[]),
        |(5, 31, [0.1306672,-0.30253363,-0.13229576,0.031076416]::REAL[]),
        |(5, 32, [-0.03701335,0.06446025,0.014973222,-0.0023435936]::REAL[]),
        |(5, 33, [0.0398946,-0.1759812,-0.23860164,-0.066838846]::REAL[]),
        |(5, 34, [0.16080837,0.011136492,-0.23463322,0.038948912]::REAL[]),
        |(5, 35, [-0.18035342,0.022187993,-0.025496338,-0.07776119]::REAL[]),
        |(5, 36, [-0.056142807,-0.083573855,-0.051174533,-0.14557026]::REAL[]),
        |(5, 37, [0.073355,-0.020542407,0.13455607,0.15534802]::REAL[]),
        |(5, 38, [-0.042561006,0.31976217,-0.08087914,0.116278976]::REAL[]),
        |(5, 39, [0.009106159,-0.038323544,0.06630907,-0.021140475]::REAL[]),
        |(5, 40, [-0.06123216,0.023452003,0.09621176,0.1066421]::REAL[]),
        |(5, 41, [-0.10320934,-0.09922277,-0.06746695,-0.014621714]::REAL[]),
        |(5, 42, [-0.0130001325,-0.06403984,-0.1398491,-0.027144246]::REAL[]),
        |(5, 43, [0.049467836,-0.13248612,-0.111450695,0.13363147]::REAL[]),
        |(5, 44, [0.09929919,-0.07890189,0.12748028,0.04119775]::REAL[]),
        |(5, 45, [0.028031616,0.14449194,0.08231628,-0.28283164]::REAL[]),
        |(5, 46, [0.1470883,-0.042207003,-0.06804926,-0.0018596945]::REAL[]),
        |(5, 47, [0.16121134,0.19231471,-0.06803164,-0.1348699]::REAL[]),
        |(5, 48, [0.0105226645,0.1297131,0.028086191,0.24249575]::REAL[]),
        |(5, 49, [-0.04612406,0.14716128,0.12881874,-0.10619707]::REAL[]),
        |(5, 50, [-0.048662424,-0.15239766,-0.14508276,0.03497107]::REAL[]),
        |(5, 51, [-0.13482651,-0.08629237,0.09765087,-0.11719342]::REAL[]),
        |(5, 52, [0.122811854,0.085648626,0.18351096,-0.1890203]::REAL[]),
        |(5, 53, [0.038819127,0.20424886,0.03998007,-0.025279865]::REAL[]),
        |(5, 54, [-0.15352345,0.05870138,0.11236419,-0.18752421]::REAL[]),
        |(5, 55, [-0.10346033,0.044788092,0.098578095,0.34311384]::REAL[]),
        |(5, 56, [-0.065011725,0.116807945,-0.051165793,-0.17861587]::REAL[]),
        |(5, 57, [-0.007654738,-0.2086604,-0.08463697,0.047617584]::REAL[]),
        |(5, 58, [0.071470775,-0.037145805,0.040833432,-0.1393338]::REAL[]),
        |(5, 59, [0.005580625,-0.0104353465,-0.056086153,0.0063565443]::REAL[]),
        |(5, 60, [0.08076139,-0.20586292,0.059057437,-0.02992151]::REAL[]),
        |(5, 61, [-0.11882559,-0.16324513,0.0861828,0.032453783]::REAL[]),
        |(5, 62, [0.010620969,0.0133792,-0.07942908,-0.18183444]::REAL[]),
        |(5, 63, [0.0955862,0.07109847,0.035032094,0.044790633]::REAL[]),
        |(6, 0, [-0.018441612,-0.3183573,0.21064985,-0.111738235]::REAL[]),
        |(6, 1, [-0.0033589047,0.22018272,0.037240144,-0.105327964]::REAL[]),
        |(6, 2, [-0.06268415,0.09758037,0.0681252,0.032515556]::REAL[]),
        |(6, 3, [-0.027389463,-0.16848764,0.13366005,-0.028050698]::REAL[]),
        |(6, 4, [-0.1702812,0.179706,0.07671012,0.18588102]::REAL[]),
        |(6, 5, [-0.104823925,0.015061662,0.24999425,0.12101497]::REAL[]),
        |(6, 6, [0.20744143,0.20319404,0.029471321,-0.0994934]::REAL[]),
        |(6, 7, [0.10397415,-0.06760609,0.028369868,0.16168812]::REAL[]),
        |(6, 8, [0.024632711,-0.12511085,0.0645655,0.1669291]::REAL[]),
        |(6, 9, [0.053473465,0.31708437,0.06936347,0.03952656]::REAL[]),
        |(6, 10, [0.110289425,-0.20795807,0.21859613,0.052535214]::REAL[]),
        |(6, 11, [0.19923492,0.10367651,-0.048288684,0.17951795]::REAL[]),
        |(6, 12, [-0.054511413,-0.10728201,0.02924688,-0.0316041]::REAL[]),
        |(6, 13, [-0.14916451,-0.18292491,-0.07759613,0.05900283]::REAL[]),
        |(6, 14, [0.009627062,0.046877563,-0.251195,-0.10528175]::REAL[]),
        |(6, 15, [0.013416706,0.07873888,0.027278384,-0.15601723]::REAL[]),
        |(6, 16, [-0.2674578,0.10250325,-0.08752995,0.033875763]::REAL[]),
        |(6, 17, [0.091453694,-0.035128973,0.12965132,-0.014448037]::REAL[]),
        |(6, 18, [0.03579308,-0.21413091,-0.115190215,0.035480984]::REAL[]),
        |(6, 19, [-0.06666446,-0.0020790948,-0.16776711,-0.14739965]::REAL[]),
        |(6, 20, [-0.17375952,0.15651266,-0.14401546,-0.016931098]::REAL[]),
        |(6, 21, [0.24334788,-0.17403102,-0.003148296,-0.06741696]::REAL[]),
        |(6, 22, [0.11509764,0.12937483,0.025078885,0.09882586]::REAL[]),
        |(6, 23, [0.04899434,0.05435089,-0.1486488,0.1917387]::REAL[]),
        |(6, 24, [-0.012829594,0.15029655,-0.01970237,0.066755176]::REAL[]),
        |(6, 25, [-0.09490953,-0.08548257,0.11429536,-0.15299787]::REAL[]),
        |(6, 26, [-0.07658093,-0.020794854,-0.25236428,0.13058105]::REAL[]),
        |(6, 27, [-0.12781568,0.03487128,-0.026749363,-0.24564704]::REAL[]),
        |(6, 28, [0.21596627,-0.07063738,0.09839696,0.09095667]::REAL[]),
        |(6, 29, [0.16065347,0.06599588,0.13379881,0.032700606]::REAL[]),
        |(6, 30, [0.15152301,0.11989521,0.07620249,-0.054367993]::REAL[]),
        |(6, 31, [-0.06655853,-0.0096178595,-0.07390591,0.054051828]::REAL[]),
        |(6, 32, [0.10494281,-0.16178201,-0.38573748,-0.19650272]::REAL[]),
        |(6, 33, [0.10119083,-0.06368497,-0.052045126,-0.044095337]::REAL[]),
        |(6, 34, [0.20712458,0.069018945,0.16686252,-0.16907583]::REAL[]),
        |(6, 35, [0.14872831,0.1764966,-0.14610136,0.06728707]::REAL[]),
        |(6, 36, [-0.04701787,0.025747957,0.076140046,0.16129002]::REAL[]),
        |(6, 37, [-0.11054876,0.008008707,-0.03949704,-0.027230214]::REAL[]),
        |(6, 38, [0.001518778,-0.029654352,-0.18096839,0.0014699477]::REAL[]),
        |(6, 39, [-0.032382704,-0.0020884324,0.057998396,0.018821724]::REAL[]),
        |(6, 40, [0.12240657,0.17096417,0.19809453,0.09815876]::REAL[]),
        |(6, 41, [-0.07512757,0.24068923,-0.14372505,-0.0029650773]::REAL[]),
        |(6, 42, [9.906242E-4,0.09397332,-0.08688081,-0.14915058]::REAL[]),
        |(6, 43, [0.16366349,0.03806634,-0.10144649,0.09744258]::REAL[]),
        |(6, 44, [0.18280995,-0.10610528,-0.16939595,0.07991307]::REAL[]),
        |(6, 45, [-0.09959417,-0.015789166,0.020371443,0.2948565]::REAL[]),
        |(6, 46, [-0.08419266,-0.093417995,0.009539707,0.097938195]::REAL[]),
        |(6, 47, [0.037828054,-0.10591046,0.037262958,-0.11489012]::REAL[]),
        |(6, 48, [-0.09530155,0.18914323,0.19434719,-0.0639489]::REAL[]),
        |(6, 49, [0.0629668,-0.040545452,-0.11863234,-0.10794532]::REAL[]),
        |(6, 50, [0.23320594,0.072523884,-0.042041093,-0.16448322]::REAL[]),
        |(6, 51, [-0.003391423,0.10451779,-0.10832159,0.017269013]::REAL[]),
        |(6, 52, [0.17406306,0.22879101,-0.21288036,-0.30352503]::REAL[]),
        |(6, 53, [0.08755394,0.008673627,-0.061606634,0.02699418]::REAL[]),
        |(6, 54, [-0.020291725,-0.027766857,0.27489805,-0.06853261]::REAL[]),
        |(6, 55, [0.043706767,-0.22681269,0.03127037,0.018668072]::REAL[]),
        |(6, 56, [-0.060233984,0.040843245,0.14507881,-0.06682961]::REAL[]),
        |(6, 57, [0.090801105,0.12436626,-0.056979574,-0.048992064]::REAL[]),
        |(6, 58, [0.04827637,0.10103552,0.07525804,-0.039512172]::REAL[]),
        |(6, 59, [-0.2355988,-0.025166761,-0.063605554,-0.11225998]::REAL[]),
        |(6, 60, [-0.07353099,-0.14412856,-0.10970344,-0.2243204]::REAL[]),
        |(6, 61, [-0.24429633,-0.004350938,0.094076194,0.0070551652]::REAL[]),
        |(6, 62, [-0.068108246,-0.12098819,-0.111439526,-0.08947487]::REAL[]),
        |(6, 63, [-0.14149155,0.026423642,-0.12874997,0.10094196]::REAL[]),
        |(7, 0, [0.031859342,-0.36932057,-0.07253659,-0.03312843]::REAL[]),
        |(7, 1, [0.037480976,0.23321949,0.23949917,0.015167868]::REAL[]),
        |(7, 2, [0.051268023,0.20250796,-0.2277209,0.08018791]::REAL[]),
        |(7, 3, [-0.044882767,0.120339625,0.14937055,-0.17542559]::REAL[]),
        |(7, 4, [0.13723294,0.07555395,-0.053977367,-0.17293507]::REAL[]),
        |(7, 5, [-0.25329584,-0.06541712,0.21779932,-0.1190572]::REAL[]),
        |(7, 6, [-0.37942606,-0.028162403,0.15691632,-0.03308776]::REAL[]),
        |(7, 7, [0.029937785,-0.13563313,0.19915798,0.14121532]::REAL[]),
        |(7, 8, [0.01156106,-0.028070489,0.053011235,0.07608554]::REAL[]),
        |(7, 9, [0.027743712,-0.01670124,0.06012781,-0.14161602]::REAL[]),
        |(7, 10, [-0.09980746,-0.15272331,0.054142933,0.1998813]::REAL[]),
        |(7, 11, [0.064651884,0.031015921,-0.00477425,0.3526326]::REAL[]),
        |(7, 12, [0.11569268,0.13195688,-0.45501158,-0.22862647]::REAL[]),
        |(7, 13, [0.13532627,-0.1729469,0.03669641,0.238958]::REAL[]),
        |(7, 14, [0.15732765,-0.0030627456,0.12242087,-0.23346612]::REAL[]),
        |(7, 15, [-0.14874703,0.06075405,-0.18442059,-0.083816476]::REAL[]),
        |(7, 16, [-0.24548991,-0.036275864,0.15656911,0.13922064]::REAL[]),
        |(7, 17, [0.030321315,0.1703097,-0.11515871,-0.069507]::REAL[]),
        |(7, 18, [0.023940982,0.13430834,0.048670895,-0.0661542]::REAL[]),
        |(7, 19, [-0.07842175,0.2275921,-0.007888514,0.031017097]::REAL[]),
        |(7, 20, [-0.015578559,0.060201984,0.25519997,0.0034933372]::REAL[]),
        |(7, 21, [0.22648118,0.053526394,-0.014864664,-0.0054615317]::REAL[]),
        |(7, 22, [0.11666278,0.036753118,0.21652354,-0.03148233]::REAL[]),
        |(7, 23, [0.107667446,0.018437129,-0.1306421,-0.058748182]::REAL[]),
        |(7, 24, [-0.09677511,-0.003607786,-0.03534408,-0.06806265]::REAL[]),
        |(7, 25, [-0.14840524,0.089731954,-0.048818942,0.09639025]::REAL[]),
        |(7, 26, [-0.03855409,-0.04520203,-0.06386645,-0.24615541]::REAL[]),
        |(7, 27, [0.1730347,0.20114,0.005102678,0.11598014]::REAL[]),
        |(7, 28, [0.09633941,0.08041057,0.13519108,0.122622326]::REAL[]),
        |(7, 29, [-0.07469208,-0.15251027,0.15175429,-0.18247433]::REAL[]),
        |(7, 30, [-0.01273218,-0.0476463,-0.015980808,-3.3940928E-4]::REAL[]),
        |(7, 31, [-0.057879627,0.09930331,0.06526557,0.08052428]::REAL[]),
        |(7, 32, [-0.030552793,-0.09195815,0.1695663,-0.057518005]::REAL[]),
        |(7, 33, [-0.053437345,0.21344528,-0.013694752,-0.13648401]::REAL[]),
        |(7, 34, [0.067357026,0.31556693,0.09901419,-0.14619404]::REAL[]),
        |(7, 35, [0.13675347,0.001005299,-0.026083034,0.03245805]::REAL[]),
        |(7, 36, [-0.24015053,-0.07845889,-0.081054546,-0.029123645]::REAL[]),
        |(7, 37, [-0.09634652,-0.007684236,0.13008407,0.12850359]::REAL[]),
        |(7, 38, [0.04980262,0.03511554,-0.20653109,0.09139353]::REAL[]),
        |(7, 39, [0.07001135,0.04135688,0.029495226,0.10560703]::REAL[]),
        |(7, 40, [0.23830073,-0.069027156,0.07629848,0.03819855]::REAL[]),
        |(7, 41, [-0.047202125,0.012043542,0.12549028,-0.018192513]::REAL[]),
        |(7, 42, [-0.19307296,0.13701357,0.10478532,-0.05192527]::REAL[]),
        |(7, 43, [0.012218919,0.30145854,-0.13493839,0.09299913]::REAL[]),
        |(7, 44, [-0.0035960067,0.22160104,0.10039063,0.19981222]::REAL[]),
        |(7, 45, [-0.024396993,-0.09001563,-0.13883258,0.2074821]::REAL[]),
        |(7, 46, [-0.14631858,-0.03137086,0.21986902,0.0071871057]::REAL[]),
        |(7, 47, [0.07428756,-0.2377308,0.13059457,-0.13332376]::REAL[]),
        |(7, 48, [-0.1510569,-0.07015135,-0.17755257,0.070149794]::REAL[]),
        |(7, 49, [0.1691579,-0.12459156,-0.15178822,0.002706058]::REAL[]),
        |(7, 50, [0.021076221,-0.121819876,0.027185677,-0.08310921]::REAL[]),
        |(7, 51, [0.073307365,-0.14477693,-0.17604455,-0.09662878]::REAL[]),
        |(7, 52, [-0.13559413,-0.2210406,0.069003254,-0.057764113]::REAL[]),
        |(7, 53, [0.049608834,-0.1829992,0.09206632,0.065875895]::REAL[]),
        |(7, 54, [0.0013327263,0.03218074,-0.042923108,0.046841938]::REAL[]),
        |(7, 55, [-0.15315399,-0.019457452,0.06899385,-0.112450555]::REAL[]),
        |(7, 56, [0.1525689,-0.03549395,0.047069967,-0.071832135]::REAL[]),
        |(7, 57, [0.036887135,-0.18045297,-0.055615883,-0.0029500825]::REAL[]),
        |(7, 58, [0.06822004,-0.029496426,0.11600454,0.03989231]::REAL[]),
        |(7, 59, [0.060973067,-0.045148328,-0.038653586,0.16009063]::REAL[]),
        |(7, 60, [0.059155624,0.09588094,-0.076729245,0.03618071]::REAL[]),
        |(7, 61, [-0.08450173,-0.08995337,-0.028245557,0.083229624]::REAL[]),
        |(7, 62, [-0.14436615,0.12297848,-0.056366492,0.21844512]::REAL[]),
        |(7, 63, [0.01760246,0.16426082,-0.07969546,0.1601609]::REAL[]),
        |(8, 0, [-0.28215024,-0.10965667,0.026803192,0.015457802]::REAL[]),
        |(8, 1, [-0.10406911,-0.20582919,-0.10633665,0.019902656]::REAL[]),
        |(8, 2, [-0.023556586,-0.18659192,0.16604947,0.056755185]::REAL[]),
        |(8, 3, [-0.023141228,0.08207965,0.031986848,-0.17791437]::REAL[]),
        |(8, 4, [0.16461965,0.025844684,-0.035288993,0.07646061]::REAL[]),
        |(8, 5, [-4.5464147E-4,-0.07895188,0.13042717,0.12653531]::REAL[]),
        |(8, 6, [-0.21565995,0.08673902,-0.05285582,0.18299818]::REAL[]),
        |(8, 7, [0.036162026,-0.1633865,-0.0027056236,0.13777658]::REAL[]),
        |(8, 8, [-0.12898362,-0.0030508486,0.051758185,0.13577633]::REAL[]),
        |(8, 9, [-0.09973408,-0.02542124,0.10679993,-0.06732856]::REAL[]),
        |(8, 10, [-0.14202023,-0.028510874,-0.076526895,0.12309914]::REAL[]),
        |(8, 11, [0.12175161,-0.024742628,0.07682569,-0.08314151]::REAL[]),
        |(8, 12, [0.07022812,0.09401219,0.007115565,-0.024922393]::REAL[]),
        |(8, 13, [0.079256475,-0.045506645,0.029050477,0.31617483]::REAL[]),
        |(8, 14, [0.040565003,-0.12098799,0.049259126,-0.1637991]::REAL[]),""".stripMargin,
      """(8, 15, [0.16019668,0.16132198,0.01922901,0.17438515]::REAL[]),
        |(8, 16, [-0.038722903,-0.12885675,0.27877986,-0.22871791]::REAL[]),
        |(8, 17, [-0.10017204,-0.12269085,-0.0403579,-0.13753831]::REAL[]),
        |(8, 18, [-0.059709866,0.04554324,-0.16346139,0.28386986]::REAL[]),
        |(8, 19, [0.069751486,-0.077697024,0.0019187776,0.027510637]::REAL[]),
        |(8, 20, [-0.38186485,0.11933218,-0.094621085,-0.20417443]::REAL[]),
        |(8, 21, [-0.024163373,-0.027394671,-0.20623226,-0.22058731]::REAL[]),
        |(8, 22, [0.07562243,-0.14263904,-0.19034797,-0.03506652]::REAL[]),
        |(8, 23, [-0.18145932,0.06332611,-0.032710653,0.020341324]::REAL[]),
        |(8, 24, [0.1191921,0.038358755,0.19897611,0.1968841]::REAL[]),
        |(8, 25, [0.12973596,0.07567849,-0.09462325,-0.033712246]::REAL[]),
        |(8, 26, [-0.08805728,-0.09284335,0.014960169,0.26506084]::REAL[]),
        |(8, 27, [-0.03275829,0.0021802206,-0.06686273,-0.22150125]::REAL[]),
        |(8, 28, [0.1782413,0.09663727,0.047290836,-0.07214649]::REAL[]),
        |(8, 29, [0.07415104,-0.22491841,0.07087123,-0.019601403]::REAL[]),
        |(8, 30, [0.22314967,-0.13220142,0.06849119,-0.19011295]::REAL[]),
        |(8, 31, [0.07514299,0.1187446,0.12803884,0.0046422267]::REAL[]),
        |(8, 32, [0.04435147,0.13661969,-0.10718166,0.11341666]::REAL[]),
        |(8, 33, [0.11440023,-0.11940489,0.23942259,-0.040096216]::REAL[]),
        |(8, 34, [-0.015039681,0.13772646,-0.106629886,-0.043116465]::REAL[]),
        |(8, 35, [0.11203803,0.25505558,0.12906374,-0.03817929]::REAL[]),
        |(8, 36, [0.15519935,0.2621179,-0.13130493,-0.012761392]::REAL[]),
        |(8, 37, [-0.1786506,-0.052922662,0.28841016,0.029611634]::REAL[]),
        |(8, 38, [0.013466793,0.0733905,0.23511548,-0.15690835]::REAL[]),
        |(8, 39, [0.09006204,-0.07032738,0.18268123,-0.185907]::REAL[]),
        |(8, 40, [-0.026466068,0.023697544,0.2290687,0.06468298]::REAL[]),
        |(8, 41, [0.19581473,-0.058291756,-0.19581082,0.12179835]::REAL[]),
        |(8, 42, [0.22283927,-0.13311659,0.01822609,0.02871279]::REAL[]),
        |(8, 43, [-0.022428622,0.13979954,0.10375921,0.14218219]::REAL[]),
        |(8, 44, [-0.07444363,0.11193923,-0.20206207,-0.034248434]::REAL[]),
        |(8, 45, [-0.124359235,-0.017867165,-0.12075312,-0.07964415]::REAL[]),
        |(8, 46, [-0.15967047,-0.06903648,0.059929073,-0.20500737]::REAL[]),
        |(8, 47, [-0.24909332,0.09522887,0.09119382,-0.09789785]::REAL[]),
        |(8, 48, [0.2853676,0.0036259922,-0.09039344,-0.19953603]::REAL[]),
        |(8, 49, [0.10134397,-0.085051216,0.12704027,0.08570349]::REAL[]),
        |(8, 50, [0.21655132,0.047641598,0.101978965,0.10470765]::REAL[]),
        |(8, 51, [-0.024823723,-0.029742401,0.049767602,0.09287041]::REAL[]),
        |(8, 52, [0.07161607,0.245361,0.0050646476,-0.068518415]::REAL[]),
        |(8, 53, [0.11030304,-0.09948927,-0.082406305,-0.078674905]::REAL[]),
        |(8, 54, [0.14026591,-0.088300064,0.09950275,0.011995329]::REAL[]),
        |(8, 55, [0.10486698,0.0089599,-0.019668356,-0.27690244]::REAL[]),
        |(8, 56, [-0.04898131,-0.13473922,0.008156607,0.015122481]::REAL[]),
        |(8, 57, [-0.056466416,0.079515524,0.03488372,-0.04992885]::REAL[]),
        |(8, 58, [0.12354521,-0.053519957,-0.07026848,0.19323672]::REAL[]),
        |(8, 59, [-0.022716012,-0.019939713,-0.1906325,0.1319666]::REAL[]),
        |(8, 60, [-0.002950866,-0.0026764038,-0.04609096,0.12147525]::REAL[]),
        |(8, 61, [-0.0055303895,-0.04216962,-0.02765492,-0.046370868]::REAL[]),
        |(8, 62, [-0.11569012,0.19198628,-0.027632097,-0.02685461]::REAL[]),
        |(8, 63, [-0.019240731,-0.33084607,-0.036392696,-0.098995045]::REAL[]),
        |(9, 0, [-0.081088215,0.064491265,-0.117598325,0.23657908]::REAL[]),
        |(9, 1, [0.0604496,-0.0948883,-0.17196375,0.2493579]::REAL[]),
        |(9, 2, [-0.00296224,-0.07180443,-0.107724816,0.16696686]::REAL[]),
        |(9, 3, [0.05181311,0.10058593,0.12207039,-0.15196459]::REAL[]),
        |(9, 4, [0.009128627,-0.1869677,-0.047677856,-0.13837497]::REAL[]),
        |(9, 5, [-0.05980236,-0.18578854,-0.24552625,0.062259264]::REAL[]),
        |(9, 6, [0.028376028,0.105870925,0.11449275,0.27437243]::REAL[]),
        |(9, 7, [-0.2283924,0.031936493,-2.8239042E-4,0.08044916]::REAL[]),
        |(9, 8, [-0.008446019,-0.014072298,0.0065122745,0.022063576]::REAL[]),
        |(9, 9, [0.16654263,0.023517136,-0.09959952,0.20739558]::REAL[]),
        |(9, 10, [0.26944277,-0.07824284,0.16124481,-0.03250367]::REAL[]),
        |(9, 11, [-0.114900455,0.08698453,0.016509779,-0.13220076]::REAL[]),
        |(9, 12, [-0.12820186,-0.24680342,-0.06003205,-0.054287687]::REAL[]),
        |(9, 13, [-0.19677512,-0.18210208,-0.15646937,-0.10792144]::REAL[]),
        |(9, 14, [0.1548349,-0.28357974,-0.14350092,0.108098805]::REAL[]),
        |(9, 15, [0.12617685,-0.021917026,0.13128704,0.05138915]::REAL[]),
        |(9, 16, [0.053065427,-0.10817728,0.11202875,-0.03173846]::REAL[]),
        |(9, 17, [-0.24124956,-0.1853591,-0.020269752,0.18146291]::REAL[]),
        |(9, 18, [-0.06545182,0.009268091,-0.067677535,0.11009067]::REAL[]),
        |(9, 19, [0.047448024,0.17487466,0.023408486,0.09701629]::REAL[]),
        |(9, 20, [-0.16620126,-0.113551,0.10381284,0.024525803]::REAL[]),
        |(9, 21, [0.20272464,0.14026,0.099503614,-0.25078633]::REAL[]),
        |(9, 22, [-0.0713986,-0.24446625,-0.008915845,0.12823199]::REAL[]),
        |(9, 23, [-0.11974338,-0.1474718,0.2824562,0.0720676]::REAL[]),
        |(9, 24, [-0.14665784,0.12954418,-0.050950702,-0.01236111]::REAL[]),
        |(9, 25, [0.07515925,-0.0015290702,0.046507683,0.16193461]::REAL[]),
        |(9, 26, [-0.04140587,-0.17279044,0.076887876,0.062143102]::REAL[]),
        |(9, 27, [0.034045666,0.008815095,0.22827418,0.19022655]::REAL[]),
        |(9, 28, [-0.10667728,-0.114452966,0.03691867,-0.108475]::REAL[]),
        |(9, 29, [0.023459226,0.06964235,0.23720059,0.0053694462]::REAL[]),
        |(9, 30, [-0.30992502,0.16791454,-0.018297074,-0.12423021]::REAL[]),
        |(9, 31, [-0.024315547,-0.16838014,0.13369483,-0.1990984]::REAL[]),
        |(9, 32, [0.12139014,-0.16451108,0.010109318,0.060978875]::REAL[]),
        |(9, 33, [0.16431591,-0.08530591,-0.25139284,-0.03272693]::REAL[]),
        |(9, 34, [-0.06439656,0.2097531,0.06763391,0.0335475]::REAL[]),
        |(9, 35, [0.1927592,0.11275995,0.045029517,0.065948874]::REAL[]),
        |(9, 36, [-0.07148226,0.004093915,0.106679,0.03089714]::REAL[]),
        |(9, 37, [0.032915577,-0.0886,0.081268,0.057595093]::REAL[]),
        |(9, 38, [0.20655826,0.025723306,0.008861172,-0.047687013]::REAL[]),
        |(9, 39, [0.038095213,0.2618109,-0.097388804,-0.09667344]::REAL[]),
        |(9, 40, [0.119752444,-0.24897742,0.02834807,0.002339432]::REAL[]),
        |(9, 41, [-0.17480467,-0.06842455,-0.22565542,0.120375134]::REAL[]),
        |(9, 42, [0.099634334,0.025843501,-0.1047419,-0.08789088]::REAL[]),
        |(9, 43, [0.02937546,0.022081133,-0.0651722,0.104389384]::REAL[]),
        |(9, 44, [0.15302715,-0.19383326,-0.10671452,-0.0607109]::REAL[]),
        |(9, 45, [0.03394664,-0.16455868,-0.30570167,0.09170359]::REAL[]),
        |(9, 46, [0.047100257,-0.071368374,-0.18836424,0.03989496]::REAL[]),
        |(9, 47, [-0.13955103,0.018731829,-0.17096795,-0.04729949]::REAL[]),
        |(9, 48, [-0.15861183,0.16185811,-0.025148582,0.1705276]::REAL[]),
        |(9, 49, [0.04239101,0.067063905,0.089023225,0.017375715]::REAL[]),
        |(9, 50, [0.122278765,-0.08933687,0.29887256,-0.09812463]::REAL[]),
        |(9, 51, [0.12608242,-0.052547716,-0.03754036,0.077617854]::REAL[]),
        |(9, 52, [-0.16275023,-0.037672706,0.23998661,-0.13267967]::REAL[]),
        |(9, 53, [0.078100994,0.14781593,-0.20450589,0.024422549]::REAL[]),
        |(9, 54, [-0.31125927,0.0417732,0.16603974,0.058681857]::REAL[]),
        |(9, 55, [-0.057638478,-0.014780893,-0.084673814,-0.029056894]::REAL[]),
        |(9, 56, [-0.062005255,-0.17890918,0.014204253,0.20964138]::REAL[]),
        |(9, 57, [-0.14116442,-0.014177087,-0.025937578,-0.30204856]::REAL[]),
        |(9, 58, [-0.07486616,0.047698658,-0.26827276,-0.15339479]::REAL[]),
        |(9, 59, [-0.062200233,0.09955358,-0.090186045,0.02352068]::REAL[]),
        |(9, 60, [0.094028175,-0.050021384,0.011829182,-0.12710539]::REAL[]),
        |(9, 61, [0.013717935,-0.051175345,-0.121297464,-0.16831239]::REAL[]),
        |(9, 62, [-0.020794487,-0.12697564,-0.034470435,-0.02839984]::REAL[]),
        |(9, 63, [-0.0222145,-0.0429019,0.054266416,-0.09071496]::REAL[]),
        |(10, 0, [0.11744736,0.010072717,0.13588046,0.21838862]::REAL[]),
        |(10, 1, [0.07054207,-0.025996797,-0.00946126,-0.14785591]::REAL[]),
        |(10, 2, [-0.145892,-0.16510183,0.11345978,0.06374485]::REAL[]),
        |(10, 3, [0.028367002,-0.215014,-0.2008979,-0.11972495]::REAL[]),
        |(10, 4, [-0.12850499,0.13371508,-7.3408085E-4,0.006592979]::REAL[]),
        |(10, 5, [0.067115866,0.13319537,-0.11567684,0.27115205]::REAL[]),
        |(10, 6, [0.060774494,-0.18816906,-0.01737032,-0.17807649]::REAL[]),
        |(10, 7, [0.072993696,-0.09202127,0.25372863,0.0086551495]::REAL[]),
        |(10, 8, [-0.06956194,-0.19701384,-0.07448334,0.036230896]::REAL[]),
        |(10, 9, [-0.10166579,-0.10043573,-0.11655513,-0.02853628]::REAL[]),
        |(10, 10, [-0.22044978,-0.056550574,-0.13396521,0.12796177]::REAL[]),
        |(10, 11, [0.03542222,0.065073565,0.1768226,0.08876266]::REAL[]),
        |(10, 12, [0.04465192,0.10709808,-0.16294914,0.08070066]::REAL[]),
        |(10, 13, [0.16006884,-0.14075655,0.103558406,0.12444698]::REAL[]),
        |(10, 14, [-0.13156904,0.0076537146,-0.08684517,-0.0018807735]::REAL[]),
        |(10, 15, [-0.10295001,-0.04599488,0.022037184,0.09751142]::REAL[]),
        |(10, 16, [0.09799863,0.103668824,-0.10320338,-0.07947079]::REAL[]),
        |(10, 17, [-0.2181657,0.08406811,0.049011223,0.10635966]::REAL[]),
        |(10, 18, [-0.058269385,-0.035270326,-0.019995024,-0.24962176]::REAL[]),
        |(10, 19, [-0.027124088,-0.084972635,0.17048115,0.14750527]::REAL[]),
        |(10, 20, [-0.05187056,0.32018486,-0.011991579,0.052012745]::REAL[]),
        |(10, 21, [0.13287595,0.03421232,0.022988573,0.005909232]::REAL[]),
        |(10, 22, [-0.009536473,-0.10823262,-0.21424778,0.16465397]::REAL[]),
        |(10, 23, [0.09265115,0.15292756,-0.065010265,0.031743746]::REAL[]),
        |(10, 24, [0.054956608,-0.13190362,0.15834863,-0.17603256]::REAL[]),
        |(10, 25, [0.2867105,-0.08359852,-0.017732184,-0.067036025]::REAL[]),
        |(10, 26, [-0.27493635,0.02292087,-0.12689276,-0.10354361]::REAL[]),
        |(10, 27, [0.034408506,0.16483161,0.078600876,0.06438572]::REAL[]),
        |(10, 28, [0.10373567,0.08224029,-0.055137668,0.17628652]::REAL[]),
        |(10, 29, [0.1281261,-0.2336139,-0.06649362,0.06635382]::REAL[]),
        |(10, 30, [-0.10206323,-0.12544172,-0.042960368,0.24054247]::REAL[]),
        |(10, 31, [0.26553574,-0.22034658,0.06870545,-0.071625955]::REAL[]),
        |(10, 32, [0.00321799,0.19213033,-0.09434785,-0.16210425]::REAL[]),
        |(10, 33, [0.28862008,0.281002,0.092155136,0.035444316]::REAL[]),
        |(10, 34, [0.073544875,-0.012566603,-0.120913416,0.19131753]::REAL[]),
        |(10, 35, [-0.111301474,0.14180909,-0.13327275,0.121026166]::REAL[]),
        |(10, 36, [-0.18277018,0.16844326,0.088078804,-0.12263182]::REAL[]),
        |(10, 37, [-0.024201002,0.1442235,-0.2000535,-0.028174223]::REAL[]),
        |(10, 38, [-0.30204684,-0.032535255,0.12808856,0.10154501]::REAL[]),
        |(10, 39, [-0.06267199,0.13390326,-0.031481884,-0.07956766]::REAL[]),
        |(10, 40, [-0.02187991,3.4075865E-4,-0.17457785,-0.12740162]::REAL[]),
        |(10, 41, [0.1686165,0.17687304,0.23300621,-0.05749352]::REAL[]),
        |(10, 42, [0.302368,0.04685799,-0.065528765,-0.008443311]::REAL[]),
        |(10, 43, [-0.0048776474,0.14969227,0.15818305,-0.08470508]::REAL[]),
        |(10, 44, [0.12175209,-0.083661616,0.064483814,0.013138723]::REAL[]),
        |(10, 45, [0.23857985,0.12712434,0.0068048616,-0.102613986]::REAL[]),
        |(10, 46, [0.005725163,-0.0619765,-0.14900146,0.049231537]::REAL[]),
        |(10, 47, [-0.19851822,-0.006442176,0.017765855,0.016448984]::REAL[]),
        |(10, 48, [-0.0718473,0.011389122,-0.20396686,0.045491446]::REAL[]),
        |(10, 49, [0.09038371,-0.09635285,-0.10504673,-0.06567002]::REAL[]),
        |(10, 50, [0.03951688,0.042993624,0.08108496,-0.101680025]::REAL[]),
        |(10, 51, [-0.1445257,0.15852502,0.27452847,0.2985256]::REAL[]),
        |(10, 52, [-0.038464885,0.003842308,-0.011210902,-0.008983574]::REAL[]),
        |(10, 53, [-0.198751,-0.061287005,-0.033067513,-0.14148167]::REAL[]),
        |(10, 54, [0.07815332,-0.06591122,-0.010486164,0.094183095]::REAL[]),
        |(10, 55, [-0.15043162,0.12971275,-0.18335016,-0.16280928]::REAL[]),
        |(10, 56, [0.10067516,-0.08853923,0.044638228,0.30945534]::REAL[]),
        |(10, 57, [-0.1007751,-0.0056458963,0.15242586,-0.019473018]::REAL[]),
        |(10, 58, [-0.026550122,0.025115892,0.33321106,-0.057925876]::REAL[]),
        |(10, 59, [0.1633291,-0.17063485,0.029790005,0.019042147]::REAL[]),
        |(10, 60, [0.0031015258,0.04058773,-0.008691601,0.13522212]::REAL[]),
        |(10, 61, [0.011943497,-0.19569457,0.051260278,-0.045622256]::REAL[]),
        |(10, 62, [0.1584716,-0.0035707238,-0.109014906,-0.2819485]::REAL[]),
        |(10, 63, [0.22662877,-0.034517277,-0.074060895,0.20576783]::REAL[]),
        |(11, 0, [-0.18208905,-0.06595416,-0.1863638,0.005097085]::REAL[]),
        |(11, 1, [-0.03917927,-0.32347435,0.08545907,0.04345219]::REAL[]),
        |(11, 2, [-0.07471462,0.022947542,-0.07308947,-0.054357756]::REAL[]),
        |(11, 3, [0.15595222,-0.022637045,-0.11598908,0.21272075]::REAL[]),
        |(11, 4, [-0.0526144,0.12700088,-0.11403952,0.05879771]::REAL[]),
        |(11, 5, [0.11404312,0.012455276,0.20295596,-0.06938286]::REAL[]),
        |(11, 6, [0.03963289,0.21083745,0.11311365,-0.056623343]::REAL[]),
        |(11, 7, [-0.0324727,-0.16427052,-0.12254076,0.15046859]::REAL[]),
        |(11, 8, [-0.026179822,-0.117235795,0.08391087,-0.08868092]::REAL[]),
        |(11, 9, [-0.12545852,0.18160118,-0.025467154,-0.08469173]::REAL[]),
        |(11, 10, [0.13678801,-0.0050438093,0.046635102,-0.16615272]::REAL[]),
        |(11, 11, [-0.050589126,0.0851465,-0.09078451,-0.2207608]::REAL[]),
        |(11, 12, [0.046339698,-0.19560741,-0.13026088,-0.0209832]::REAL[]),
        |(11, 13, [-0.046111125,-0.28500685,-0.11437169,0.038002726]::REAL[]),
        |(11, 14, [-0.23585816,0.10815018,0.20300321,-0.0842068]::REAL[]),
        |(11, 15, [0.05650056,0.23600024,-0.05321275,0.10760394]::REAL[]),
        |(11, 16, [0.27106908,0.08978732,-0.042820506,-0.034919992]::REAL[]),
        |(11, 17, [-0.18112113,-0.054241862,0.15923136,0.14958927]::REAL[]),
        |(11, 18, [0.0051915105,-0.1801221,-0.041654132,-0.17114371]::REAL[]),
        |(11, 19, [0.018901521,-0.020288302,-0.0047529982,-0.0026259278]::REAL[]),
        |(11, 20, [0.18366459,-0.07359846,-0.072307274,-0.09387361]::REAL[]),
        |(11, 21, [-0.010626407,-0.16551995,0.016515557,0.07422448]::REAL[]),
        |(11, 22, [0.09387473,-8.3245675E-4,-0.1801639,-0.06384828]::REAL[]),
        |(11, 23, [-0.15257245,0.061624553,-0.04435319,0.02781664]::REAL[]),
        |(11, 24, [-0.21230122,0.054297682,-0.2782715,-0.18442215]::REAL[]),
        |(11, 25, [0.1865299,-0.18002564,-0.070624456,-0.19174379]::REAL[]),
        |(11, 26, [-0.0094810985,-0.076284185,-0.024191458,-0.1268134]::REAL[]),
        |(11, 27, [0.1872604,-0.06519601,0.11348267,0.135251]::REAL[]),
        |(11, 28, [-0.016180638,-0.057175957,0.06315668,0.12837054]::REAL[]),
        |(11, 29, [0.2513863,-0.06639037,-0.0074231373,-0.15041389]::REAL[]),
        |(11, 30, [-0.3355331,0.18678798,-0.024311662,-0.0069506466]::REAL[]),
        |(11, 31, [-0.1670176,-0.10247069,0.056530055,-0.2189499]::REAL[]),
        |(11, 32, [-0.043701164,0.18739885,-0.12584044,0.29249424]::REAL[]),
        |(11, 33, [0.12049558,-0.093858615,-0.08268533,0.06653245]::REAL[]),
        |(11, 34, [0.078014314,0.012769847,0.043791916,0.06468431]::REAL[]),
        |(11, 35, [0.10213674,0.12949984,0.0074291253,-0.22143771]::REAL[]),
        |(11, 36, [-0.11360782,0.042604066,-0.124438435,0.21048148]::REAL[]),
        |(11, 37, [-0.0026668191,0.09388859,-0.0067745554,0.124077216]::REAL[]),
        |(11, 38, [0.19148651,0.070996486,0.034734886,0.046041436]::REAL[]),
        |(11, 39, [0.1299902,0.09063581,-0.07054944,0.103286125]::REAL[]),
        |(11, 40, [-0.12037016,-0.21026528,0.075692244,-0.042076573]::REAL[]),
        |(11, 41, [-0.101631865,0.09206384,0.053003516,0.12952973]::REAL[]),
        |(11, 42, [-0.2401397,-0.21238238,-0.04233767,-0.12516314]::REAL[]),
        |(11, 43, [8.141927E-4,-0.018858984,-0.10682921,0.09326651]::REAL[]),
        |(11, 44, [-0.302799,0.06140503,-0.12175435,0.026961938]::REAL[]),
        |(11, 45, [-0.20122914,-0.030925533,0.033243705,0.065362886]::REAL[]),
        |(11, 46, [-0.05936202,-0.10447888,-0.1803509,-0.06203514]::REAL[]),
        |(11, 47, [-0.053599045,0.012815905,0.027500678,0.34902912]::REAL[]),
        |(11, 48, [-0.007340364,0.17803618,0.12326376,0.11673047]::REAL[]),
        |(11, 49, [-0.1084481,0.04943979,-0.27674353,0.18333986]::REAL[]),
        |(11, 50, [0.07922611,0.009635603,-0.24034296,0.07907701]::REAL[]),
        |(11, 51, [-0.08029114,-0.19580767,0.020382637,0.25283855]::REAL[]),
        |(11, 52, [0.14324637,0.100309946,0.12929182,0.15146828]::REAL[]),
        |(11, 53, [-0.048895467,0.0905457,0.109743044,-0.20239988]::REAL[]),
        |(11, 54, [0.049585305,0.20803165,0.0066255108,-0.0021399166]::REAL[]),
        |(11, 55, [-0.068216264,0.027065087,0.17375843,0.015410306]::REAL[]),
        |(11, 56, [0.1714012,0.113952376,-0.22012211,-0.0064864187]::REAL[]),
        |(11, 57, [0.0720584,-0.16897525,-0.29273224,0.02144903]::REAL[]),
        |(11, 58, [-0.14490642,-0.029121844,0.02914822,-0.06057663]::REAL[]),
        |(11, 59, [0.08901004,0.09070258,-0.09529171,-0.060583625]::REAL[]),
        |(11, 60, [-0.0676285,0.0644343,-0.19180013,0.0062295683]::REAL[]),
        |(11, 61, [0.11899831,-0.176267,0.071660966,0.00395374]::REAL[]),
        |(11, 62, [-0.12755279,-0.05856279,-0.040268034,0.057834085]::REAL[]),
        |(11, 63, [0.071808726,-0.17359349,0.11207516,-0.15385652]::REAL[]),
        |(12, 0, [0.0144824525,0.05050382,-0.17444971,-0.040417366]::REAL[]),
        |(12, 1, [0.006892065,-0.19468145,-0.04499688,-0.1358187]::REAL[]),
        |(12, 2, [0.051926482,-0.26408923,-0.04900135,0.09724883]::REAL[]),
        |(12, 3, [0.07485292,0.073984146,0.054261874,0.06837818]::REAL[]),
        |(12, 4, [0.2927952,-0.22740768,-0.04617454,0.0074535054]::REAL[]),
        |(12, 5, [-0.21675794,-0.040086456,0.15557547,0.069441706]::REAL[]),
        |(12, 6, [0.07603646,-0.118895076,0.041221432,0.018664476]::REAL[]),
        |(12, 7, [-0.07130047,0.10447298,-0.059182536,0.17080817]::REAL[]),
        |(12, 8, [0.004393171,0.10858857,0.1766663,0.15232427]::REAL[]),
        |(12, 9, [-0.17475489,-0.12713018,-0.10941841,0.17699003]::REAL[]),
        |(12, 10, [-0.1588539,-0.0775989,0.013312764,-0.14334129]::REAL[]),
        |(12, 11, [-0.0686375,-0.13209352,0.07246542,-0.0054526436]::REAL[]),
        |(12, 12, [0.18089102,0.15238273,-0.13960584,-0.06285701]::REAL[]),
        |(12, 13, [0.15044138,0.043843348,0.028940422,-0.021013148]::REAL[]),
        |(12, 14, [-0.07743965,-0.0046028304,-0.01647151,0.20127974]::REAL[]),
        |(12, 15, [-0.22348133,-0.13098305,-0.12665507,0.0039733667]::REAL[]),
        |(12, 16, [0.04288478,0.046541028,-0.056507464,0.043313462]::REAL[]),
        |(12, 17, [-0.027644701,0.035436917,0.13165267,-0.23373514]::REAL[]),
        |(12, 18, [0.09988883,-0.059247565,0.18528464,-0.09537724]::REAL[]),
        |(12, 19, [0.20359069,-0.035980087,0.12113178,-0.2382648]::REAL[]),
        |(12, 20, [-0.11285787,0.047213364,0.029833898,0.02782084]::REAL[]),
        |(12, 21, [3.4682988E-4,-0.028931033,0.10136802,-0.029461896]::REAL[]),
        |(12, 22, [0.16372721,-0.15849677,0.11127522,0.23684628]::REAL[]),
        |(12, 23, [0.018671745,-0.04429462,-0.18421525,0.17317355]::REAL[]),
        |(12, 24, [0.058237087,0.023563733,0.03709459,-0.1691329]::REAL[]),
        |(12, 25, [0.16606753,0.12987748,-0.1429721,0.13101782]::REAL[]),
        |(12, 26, [0.09329305,-0.013648115,-0.088332355,-0.22635087]::REAL[]),
        |(12, 27, [-0.06388171,-0.20559855,-0.1605476,-0.05564601]::REAL[]),
        |(12, 28, [-0.024890494,0.005272908,-0.028155154,-0.11468436]::REAL[]),
        |(12, 29, [-0.20481753,0.108207636,-0.0020794189,0.012137907]::REAL[]),
        |(12, 30, [-0.21946709,0.10354689,0.037857402,-0.17320418]::REAL[]),
        |(12, 31, [-0.035812587,0.27137893,0.12904947,0.004002224]::REAL[]),
        |(12, 32, [0.15781446,-0.060410913,-0.2073789,-0.0067894706]::REAL[]),
        |(12, 33, [0.017876683,-0.19998464,0.30075908,0.13478479]::REAL[]),
        |(12, 34, [0.14439772,-0.058103103,0.0047792657,-0.04557373]::REAL[]),
        |(12, 35, [0.087747365,-0.17966536,0.08813,-0.12152888]::REAL[]),
        |(12, 36, [0.052738488,0.14574054,-0.06315559,-0.27284235]::REAL[]),
        |(12, 37, [-1.9385909E-4,0.07738949,-0.0030796279,0.15482163]::REAL[]),
        |(12, 38, [-0.06544483,-0.050076064,-0.13916482,-0.0035580609]::REAL[]),
        |(12, 39, [-0.0043236297,-0.06710585,-0.06287522,-0.098542675]::REAL[]),
        |(12, 40, [0.1534307,-0.028990673,-0.094030686,0.19112195]::REAL[]),
        |(12, 41, [-0.011194015,0.17391178,0.038201064,0.036374368]::REAL[]),
        |(12, 42, [0.1970235,0.034251153,0.13948618,0.041899465]::REAL[]),
        |(12, 43, [-0.014210553,-0.08739502,-0.013826503,0.08840787]::REAL[]),
        |(12, 44, [-0.04436573,-0.11285686,0.13003139,0.22321834]::REAL[]),
        |(12, 45, [0.063775346,-0.01737662,0.07988955,0.14711837]::REAL[]),
        |(12, 46, [-0.20764324,0.08640336,-0.12531918,-0.047620814]::REAL[]),
        |(12, 47, [0.1925408,0.1404174,0.09493041,-0.1200552]::REAL[]),
        |(12, 48, [-0.0196082,-0.06764216,0.21228829,0.025489893]::REAL[]),
        |(12, 49, [-0.24133852,0.05063933,0.031407785,0.20763402]::REAL[]),
        |(12, 50, [-0.09281406,0.070520304,-0.063356884,-0.020744191]::REAL[]),
        |(12, 51, [0.034416877,-0.08581277,-0.20512801,-0.1479848]::REAL[]),
        |(12, 52, [-0.017158207,0.17456791,-0.24910502,-0.020863935]::REAL[]),
        |(12, 53, [0.085186325,0.22321387,0.03756679,-0.021276373]::REAL[]),
        |(12, 54, [0.054326173,0.10145534,0.090184115,-0.044710726]::REAL[]),
        |(12, 55, [0.3214108,-0.17683372,0.15186949,-0.08563414]::REAL[]),
        |(12, 56, [-0.16886917,-0.08112508,0.0019149124,0.048130732]::REAL[]),
        |(12, 57, [-0.019014655,0.135988,0.289271,-0.25483245]::REAL[]),
        |(12, 58, [-0.095170185,0.11786829,0.153506,0.057636745]::REAL[]),
        |(12, 59, [0.19250831,0.054308224,-0.0838459,-0.09136224]::REAL[]),
        |(12, 60, [-0.1699746,-0.2569167,0.08251356,-0.03470724]::REAL[]),
        |(12, 61, [-0.032197032,0.13718365,0.15763693,-0.08819603]::REAL[]),
        |(12, 62, [-0.12386282,0.11133808,-0.16539696,0.08717655]::REAL[]),
        |(12, 63, [-0.121285416,0.024884803,-0.1710594,-0.16946556]::REAL[]),
        |(13, 0, [0.21672463,0.008104637,0.2022971,-0.09925767]::REAL[]),
        |(13, 1, [0.027627446,0.20482771,-0.0840693,0.05549041]::REAL[]),
        |(13, 2, [0.05530688,0.018056408,0.07173551,0.20472564]::REAL[]),
        |(13, 3, [0.023161395,0.10934954,-0.025752638,-0.14536642]::REAL[]),
        |(13, 4, [-0.07215273,0.19730899,-0.14873213,-0.21419752]::REAL[]),
        |(13, 5, [0.02808882,0.25186655,0.12434646,0.046141297]::REAL[]),
        |(13, 6, [0.2203804,-0.13563547,-0.12975018,0.14954934]::REAL[]),
        |(13, 7, [-0.089777894,0.050828427,0.19707192,0.104444146]::REAL[]),
        |(13, 8, [-0.051046424,-0.2672615,-0.121279255,-0.040416323]::REAL[]),
        |(13, 9, [-0.02054348,0.016625095,-0.075823,-0.04857235]::REAL[]),
        |(13, 10, [-0.19223723,-0.09588399,0.1625569,-0.003920991]::REAL[]),
        |(13, 11, [0.2580953,-0.021079399,0.17984292,0.049943693]::REAL[]),
        |(13, 12, [0.07795841,-0.08834717,-0.12537311,-0.12447088]::REAL[]),
        |(13, 13, [0.14026198,-0.032039795,0.07054031,0.114973284]::REAL[]),
        |(13, 14, [0.044234343,0.1303983,0.17001319,-0.017695442]::REAL[]),
        |(13, 15, [-0.078575574,0.1166587,0.06287565,0.12234961]::REAL[]),
        |(13, 16, [-0.030727435,-0.13906206,0.10114227,0.20026144]::REAL[]),
        |(13, 17, [0.08755869,0.19665967,0.057864156,-0.056399122]::REAL[]),
        |(13, 18, [-0.09309848,0.09414847,0.17669946,-0.011809425]::REAL[]),
        |(13, 19, [0.055232555,-0.036902357,0.016977193,-0.036307298]::REAL[]),
        |(13, 20, [-0.092909925,0.05567983,0.03564576,-0.11588437]::REAL[]),
        |(13, 21, [0.12790869,0.07046001,-0.040772606,0.031617027]::REAL[]),
        |(13, 22, [0.10075182,0.03471339,-0.18486503,0.042179167]::REAL[]),
        |(13, 23, [-0.03875756,-0.147815,0.020271273,-0.037509467]::REAL[]),
        |(13, 24, [0.07565914,-0.104396366,0.1467264,-0.21170862]::REAL[]),
        |(13, 25, [0.214015,-0.111287504,0.094138786,-0.22626962]::REAL[]),
        |(13, 26, [-0.0014781695,-0.09752727,-0.17300797,0.020037508]::REAL[]),
        |(13, 27, [-0.28086615,0.0056844377,-0.10470699,-0.094735704]::REAL[]),
        |(13, 28, [0.2015101,0.091817334,0.1087426,-0.04334659]::REAL[]),
        |(13, 29, [0.055179935,0.0702085,-0.063897796,0.20949487]::REAL[]),
        |(13, 30, [-0.21767426,0.1096949,0.28737143,0.009916044]::REAL[]),
        |(13, 31, [-0.009127821,-0.12537688,0.01963828,-0.18060431]::REAL[]),
        |(13, 32, [-0.049627014,-0.13048528,-0.18087609,0.16780682]::REAL[]),
        |(13, 33, [-0.01976075,0.013965513,-0.22957087,-0.32844406]::REAL[]),
        |(13, 34, [0.015544478,0.039201185,-0.06519903,0.087090895]::REAL[]),
        |(13, 35, [-0.08533462,-0.00507075,-0.12730761,-0.25526053]::REAL[]),
        |(13, 36, [0.11374679,-0.21339421,0.20512378,-0.06349368]::REAL[]),
        |(13, 37, [-0.09705032,-0.030528242,0.012491106,0.11559738]::REAL[]),
        |(13, 38, [-0.043945,0.095146,-0.2044935,-0.07577828]::REAL[]),
        |(13, 39, [-0.065746896,0.02979792,-0.13152853,0.14021313]::REAL[]),
        |(13, 40, [0.23211579,0.1126918,-0.11546028,-0.01880366]::REAL[]),
        |(13, 41, [-0.17333314,-0.09530653,0.035215005,-0.20426448]::REAL[]),
        |(13, 42, [-0.17152785,-0.122348696,-0.075596005,0.039893966]::REAL[]),
        |(13, 43, [-0.22070469,0.112883456,-0.12647441,0.057144158]::REAL[]),
        |(13, 44, [0.12772436,-0.105909884,0.3670001,0.080993645]::REAL[]),
        |(13, 45, [0.044780552,-0.08704734,0.01334202,0.098039165]::REAL[]),
        |(13, 46, [0.0024947538,-0.09931878,0.20029798,0.019453803]::REAL[]),
        |(13, 47, [-0.19029453,0.11194493,0.3057669,-0.080147415]::REAL[]),
        |(13, 48, [0.10906606,-0.14181408,0.032906916,-0.03982058]::REAL[]),
        |(13, 49, [0.0077805077,-0.013245518,0.0901792,0.04736608]::REAL[]),
        |(13, 50, [0.2552464,-0.039047483,-0.04035354,-0.042092826]::REAL[]),
        |(13, 51, [0.17703691,-0.070620686,0.09784441,0.011734936]::REAL[]),
        |(13, 52, [-0.16478053,0.028903529,0.03210532,0.034831032]::REAL[]),
        |(13, 53, [0.0911974,0.053352006,0.0891664,-0.06892835]::REAL[]),
        |(13, 54, [-0.28366184,0.102511935,0.06695647,-0.014481962]::REAL[]),
        |(13, 55, [0.09026983,-0.13583966,0.16012342,0.120767854]::REAL[]),
        |(13, 56, [0.09356622,-0.17625771,-0.042887002,0.032811992]::REAL[]),
        |(13, 57, [0.20669304,-0.120527595,0.18229277,0.21963401]::REAL[]),
        |(13, 58, [0.15022951,0.030067738,-0.016527746,-0.10598144]::REAL[]),
        |(13, 59, [-0.013497702,0.09640694,0.023998594,-0.0016611995]::REAL[]),
        |(13, 60, [-0.073164105,0.1743888,0.07617125,-0.14522576]::REAL[]),
        |(13, 61, [-0.029866321,0.015556913,0.19495314,-0.14028576]::REAL[]),
        |(13, 62, [-0.18696557,0.2196879,0.032344494,0.17650576]::REAL[]),
        |(13, 63, [0.04358692,0.15447722,0.13849682,0.15461695]::REAL[]),
        |(14, 0, [0.15334308,-0.10622833,0.047019754,0.17170851]::REAL[]),
        |(14, 1, [-0.09360562,-0.06487863,0.22412063,-0.043208662]::REAL[]),
        |(14, 2, [-0.07987342,-0.032063354,-0.04608042,0.12055781]::REAL[]),
        |(14, 3, [0.1388025,-0.14434585,-0.110357285,0.10822202]::REAL[]),
        |(14, 4, [0.17286532,-0.011721005,0.21059272,-0.11478043]::REAL[]),
        |(14, 5, [0.10311422,0.0847427,0.18447462,0.05027177]::REAL[]),
        |(14, 6, [0.10405039,0.03915464,-0.009054851,-0.10278258]::REAL[]),
        |(14, 7, [0.0038279316,-0.067774855,0.12310647,0.18098108]::REAL[]),
        |(14, 8, [-0.17559084,0.07927671,-0.13515824,0.14756492]::REAL[]),
        |(14, 9, [-0.04774912,-0.148317,7.249618E-4,0.069801986]::REAL[]),
        |(14, 10, [-0.1581926,0.195185,0.09514152,0.12388445]::REAL[]),
        |(14, 11, [-0.09131634,-0.01728522,-0.27213115,-0.026449988]::REAL[]),
        |(14, 12, [0.100341804,0.023033803,-0.10318832,-0.25874168]::REAL[]),
        |(14, 13, [0.05826813,0.03312157,-0.105531916,0.053311486]::REAL[]),
        |(14, 14, [0.13243699,0.1687428,0.087506376,0.183587]::REAL[]),
        |(14, 15, [-0.05507896,0.0029877315,0.3970073,0.15936254]::REAL[]),
        |(14, 16, [0.093171224,0.16464375,-0.26411602,-0.09859273]::REAL[]),
        |(14, 17, [-0.060545776,-0.049804997,-0.2482509,0.10224959]::REAL[]),
        |(14, 18, [0.04478224,-0.23895535,-0.19566955,-0.047214612]::REAL[]),
        |(14, 19, [-0.039425917,-0.09458829,-0.12500176,-0.036293402]::REAL[]),
        |(14, 20, [0.014078953,-0.008347737,0.27028984,0.028001143]::REAL[]),
        |(14, 21, [0.07409665,0.19193648,-0.062094845,0.03268813]::REAL[]),
        |(14, 22, [0.022282489,-0.1940442,-0.13041598,0.084531635]::REAL[]),
        |(14, 23, [0.08662187,0.05648439,0.009706053,0.11894914]::REAL[]),
        |(14, 24, [-0.08398873,-0.023632765,-0.115155,-0.23674478]::REAL[]),
        |(14, 25, [0.18446265,0.041278165,-0.12785406,0.045906216]::REAL[]),
        |(14, 26, [-0.2786287,0.05453548,0.12783116,-0.03158678]::REAL[]),
        |(14, 27, [0.09983096,-0.045334,7.865769E-4,0.02092746]::REAL[]),
        |(14, 28, [-0.08997303,0.21490282,-0.20579706,-0.1345652]::REAL[]),
        |(14, 29, [-0.043485407,0.044500124,0.2563136,0.26667905]::REAL[]),
        |(14, 30, [-0.119132474,0.037744567,0.108274624,-0.03923844]::REAL[]),
        |(14, 31, [-0.10846737,-0.16136399,-0.17994533,0.08958338]::REAL[]),
        |(14, 32, [-0.011251627,0.08152295,-0.22601165,0.17724703]::REAL[]),
        |(14, 33, [0.045940913,0.12719701,0.3910592,-0.10861357]::REAL[]),
        |(14, 34, [-0.20198828,-0.0038811865,-0.023287663,0.04776256]::REAL[]),
        |(14, 35, [-0.06602175,-0.17600468,-0.07577326,-0.1467519]::REAL[]),
        |(14, 36, [0.050946884,-0.20868112,0.0934356,0.0139153]::REAL[]),
        |(14, 37, [-0.05699874,0.07858533,0.00762485,-0.14589079]::REAL[]),
        |(14, 38, [0.16680324,-0.060556218,0.12019814,0.023432992]::REAL[]),
        |(14, 39, [0.18361838,-0.09235264,0.053862557,-0.12336444]::REAL[]),
        |(14, 40, [0.091988556,-0.24207145,-0.02471719,-0.07477027]::REAL[]),
        |(14, 41, [-0.07555961,-0.13728535,0.11240482,0.1282481]::REAL[]),
        |(14, 42, [-0.1554281,0.17646548,0.248456,-0.1403273]::REAL[]),
        |(14, 43, [0.10036362,0.121759996,0.09849135,-0.23235652]::REAL[]),
        |(14, 44, [-0.124688566,-0.095871426,-0.010721065,-0.032355618]::REAL[]),
        |(14, 45, [-0.06822372,0.060125403,0.10182962,0.18475632]::REAL[]),
        |(14, 46, [0.25716415,-0.05681181,-0.015684908,0.023605695]::REAL[]),
        |(14, 47, [-0.0083612455,-0.1929733,0.109933116,-0.19113994]::REAL[]),
        |(14, 48, [0.042747624,-0.09225573,-0.24593146,-0.015098814]::REAL[]),
        |(14, 49, [-0.19077633,-0.15069619,-0.1445924,-0.06673995]::REAL[]),
        |(14, 50, [-0.2548859,-0.10474236,0.03361787,-0.20226966]::REAL[]),
        |(14, 51, [0.023468742,-0.022582235,-0.07879484,-0.12723301]::REAL[]),
        |(14, 52, [-0.18246464,-0.019839033,0.12957622,-0.15065205]::REAL[]),
        |(14, 53, [0.13874823,0.3692582,0.012115795,-0.1796198]::REAL[]),
        |(14, 54, [-0.010438431,0.065461926,-0.02173219,0.22137234]::REAL[]),
        |(14, 55, [0.044672757,-0.104141995,-0.079681195,0.26852235]::REAL[]),
        |(14, 56, [-0.07291596,0.08819019,0.064929344,0.10208925]::REAL[]),
        |(14, 57, [0.16335803,-0.07268518,-0.24517274,-0.07329037]::REAL[]),
        |(14, 58, [-0.020753978,-0.07036832,0.08644892,-0.07213277]::REAL[]),
        |(14, 59, [-0.19831766,0.058005486,-0.08500259,-0.09484664]::REAL[]),
        |(14, 60, [-0.06802402,0.036282215,-0.1520559,-0.0060511897]::REAL[]),
        |(14, 61, [-0.032262813,0.18079337,0.01654831,-0.03244577]::REAL[]),
        |(14, 62, [-0.01840608,0.061249048,0.0030243928,0.017719002]::REAL[]),
        |(14, 63, [0.18576999,0.18202047,0.10174782,-0.03635736]::REAL[]),
        |(15, 0, [0.20400304,-0.07981866,-0.064217485,0.028778298]::REAL[]),
        |(15, 1, [-0.043800138,0.031969097,0.06747122,0.15666473]::REAL[]),
        |(15, 2, [0.112973236,0.021335812,-0.1782901,-0.11083993]::REAL[]),
        |(15, 3, [-0.10135547,0.022676302,0.08689794,0.05020842]::REAL[]),
        |(15, 4, [-0.002837043,-0.0037133675,-0.10554362,-0.03887035]::REAL[]),
        |(15, 5, [-0.19160725,0.15160988,-0.09112802,-0.04922519]::REAL[]),
        |(15, 6, [0.007968958,0.13609363,-0.051126786,0.038652223]::REAL[]),
        |(15, 7, [-0.0059299786,-0.077617325,-0.0887952,0.15566197]::REAL[]),
        |(15, 8, [-0.06226316,-0.27600712,0.07219498,-0.11696547]::REAL[]),
        |(15, 9, [-0.12833714,0.15431915,0.20595215,-0.022407755]::REAL[]),
        |(15, 10, [-0.013007921,0.18865347,-0.17128848,-0.077378914]::REAL[]),
        |(15, 11, [0.18735251,0.03532086,-0.02411509,0.32059845]::REAL[]),
        |(15, 12, [0.0804442,-0.015058642,0.11893446,0.08717363]::REAL[]),
        |(15, 13, [0.14072987,0.23514494,0.19080018,0.13398007]::REAL[]),
        |(15, 14, [-0.10309758,0.10229679,-0.21117869,0.058893614]::REAL[]),
        |(15, 15, [-0.1898409,-0.02488252,-0.13146909,-0.04835788]::REAL[]),
        |(15, 16, [0.07043891,0.12387402,0.089081585,0.118040316]::REAL[]),
        |(15, 17, [-2.4820413E-4,-0.15972582,0.013046095,-0.17572507]::REAL[]),
        |(15, 18, [0.14013922,0.03682154,-0.20306046,0.0747964]::REAL[]),
        |(15, 19, [0.027672876,0.07734642,0.18212897,-0.018074648]::REAL[]),
        |(15, 20, [0.0049750535,-0.0032967469,0.25915584,0.09641153]::REAL[]),
        |(15, 21, [-0.069001906,-0.10559581,0.16946848,0.034167103]::REAL[]),
        |(15, 22, [0.18212798,-0.09895588,-0.0524063,-0.090321764]::REAL[]),
        |(15, 23, [0.10005282,0.13796152,0.103968754,-0.26881638]::REAL[]),
        |(15, 24, [-0.10673468,-0.07818159,0.08737748,-0.1393808]::REAL[]),
        |(15, 25, [0.17066786,-0.11964902,0.19884746,0.085628934]::REAL[]),
        |(15, 26, [-0.2088412,-0.2493124,-0.008765101,0.17393202]::REAL[]),
        |(15, 27, [-0.064244695,0.04319378,-0.01494128,-0.097119085]::REAL[]),
        |(15, 28, [0.026955567,0.24345766,0.021050582,-0.18532434]::REAL[]),
        |(15, 29, [-0.042439025,-0.0029328344,0.08951151,-0.3183884]::REAL[]),
        |(15, 30, [-0.085533425,-0.0136106,-0.024758928,0.08960255]::REAL[]),
        |(15, 31, [0.053163927,0.01983045,0.043137025,-0.01369872]::REAL[]),
        |(15, 32, [-0.0098168235,-0.13645756,0.08938097,0.1691143]::REAL[]),
        |(15, 33, [0.02947297,-0.17330658,-0.015966184,0.01611509]::REAL[]),
        |(15, 34, [-0.14305547,0.10186469,0.08026194,0.22830245]::REAL[]),
        |(15, 35, [0.12215434,-0.21933755,-0.03922808,-0.090045296]::REAL[]),
        |(15, 36, [-0.1691031,0.12808797,-0.008016394,-0.19770426]::REAL[]),
        |(15, 37, [-0.053812124,-0.06937383,0.24884114,-0.10149802]::REAL[]),
        |(15, 38, [0.074335754,0.008361369,0.010744013,-0.17095068]::REAL[]),
        |(15, 39, [-0.05646702,-0.08245778,-0.013786762,0.011510341]::REAL[]),
        |(15, 40, [0.061914463,-0.17145048,-0.16456611,-0.07170587]::REAL[]),
        |(15, 41, [0.11927516,-0.09240354,-0.023504611,0.11666989]::REAL[]),
        |(15, 42, [0.14687903,0.22492684,0.050115176,0.029632477]::REAL[]),
        |(15, 43, [0.05146509,-0.16682597,0.11280208,-0.0132397665]::REAL[]),
        |(15, 44, [-0.010430947,0.033064906,-0.15634815,-0.21873741]::REAL[]),
        |(15, 45, [0.08866623,0.033394817,-0.029453024,0.17362636]::REAL[]),
        |(15, 46, [0.018644316,-0.22776811,-0.12860453,0.09892772]::REAL[]),
        |(15, 47, [0.23158307,-0.07273661,0.11506749,-0.09244647]::REAL[]),
        |(15, 48, [-0.13964462,0.053008147,-0.1013895,0.14178051]::REAL[]),
        |(15, 49, [-0.086181946,0.26557514,0.035977297,0.0642685]::REAL[]),
        |(15, 50, [-0.020736197,0.22643909,0.11298104,-0.013959461]::REAL[]),
        |(15, 51, [-0.2336144,0.013953751,0.009502731,0.0151607515]::REAL[]),
        |(15, 52, [-0.055963725,-0.23674543,0.11223698,0.002911524]::REAL[]),
        |(15, 53, [-0.23068044,-0.08032554,0.16451527,-0.09100689]::REAL[]),
        |(15, 54, [-0.0783988,-0.2025619,-0.07986276,-0.0938776]::REAL[]),
        |(15, 55, [0.073894195,0.15537536,0.0042792815,-0.061977144]::REAL[]),
        |(15, 56, [0.08160225,-0.00905889,0.19755815,-0.088003024]::REAL[]),
        |(15, 57, [0.21616778,0.08893188,0.009107959,-0.016016956]::REAL[]),
        |(15, 58, [0.070739925,-0.17164263,0.028002245,-0.29036236]::REAL[]),
        |(15, 59, [0.057155542,0.14749742,-0.10227165,-0.099358216]::REAL[]),
        |(15, 60, [-0.15472877,-0.16504726,-0.10993759,-0.04151718]::REAL[]),
        |(15, 61, [-0.06232523,-0.009701152,0.19184051,0.2933486]::REAL[]),
        |(15, 62, [-0.16875386,0.0046620155,0.022457397,-0.07102474]::REAL[]),
        |(15, 63, [-0.10909046,-0.17850286,-0.25513527,0.030705906]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |codes AS (
        |  SELECT id, sub, cent AS code FROM (
        |    SELECT b.id, c.sub, c.cent, row_number() OVER (PARTITION BY b.id, c.sub ORDER BY
        |      list_sum(list_transform(list_zip(b.v[c.sub*4+1:c.sub*4+4], c.cb),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cent) AS rn
        |    FROM b, cbs c) t WHERE rn = 1),
        |lut AS ( -- per (qid, sub, cent): double ||q_j - cb||^2
        |  SELECT q.vec_id AS qid, c.sub, c.cent,
        |    list_sum(list_transform(list_zip(q.embedding[c.sub*4+1:c.sub*4+4], c.cb),
        |      x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))) AS sd
        |  FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cbs c),
        |cd AS (
        |  SELECT l.qid, co.id, sqrt(list_sum(list(l.sd ORDER BY l.sub))) AS dist
        |  FROM codes co JOIN lut l ON co.sub = l.sub AND co.code = l.cent
        |  GROUP BY l.qid, co.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,""".stripMargin,
      """    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'pq' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.50""".stripMargin).mkString("\n"),
    // IVF x PQ composition: centroid literals + codebook literals,
    // nprobe=8 pruning over ADC scores.
    // (literal VALUES exceed the JVM 64KB string-constant cap → chunked)
    "j10_ivf_pq" -> Seq(
      """WITH cbs(sub, cent, cb) AS (VALUES
        |(0, 0, [-0.043593742,0.08088863,-0.11473521,0.14193934]::REAL[]),
        |(0, 1, [-0.17323919,0.15227182,-0.02456348,0.08914925]::REAL[]),
        |(0, 2, [-0.28098592,-0.030852742,0.037227683,0.039334387]::REAL[]),
        |(0, 3, [0.31740013,0.02662396,0.10351039,-0.10243415]::REAL[]),
        |(0, 4, [-0.12346822,0.010013214,-0.06025412,0.051193465]::REAL[]),
        |(0, 5, [-0.11680386,-0.23777816,0.038642574,0.18110134]::REAL[]),
        |(0, 6, [-0.015309364,-0.21241014,0.11702346,0.061689693]::REAL[]),
        |(0, 7, [0.08722604,0.04881913,0.029513258,0.18343596]::REAL[]),
        |(0, 8, [-0.015591847,0.013434055,0.1868072,0.08273416]::REAL[]),
        |(0, 9, [-0.16149251,0.036659025,-0.1699885,-0.07847739]::REAL[]),
        |(0, 10, [0.12190995,-0.15360722,-0.051703736,-0.09481296]::REAL[]),
        |(0, 11, [0.016755933,-0.0410688,-0.094438724,0.2403554]::REAL[]),
        |(0, 12, [0.04677964,-0.100190006,0.12155037,0.17512433]::REAL[]),
        |(0, 13, [0.1318196,0.11339954,0.17139545,0.021967348]::REAL[]),
        |(0, 14, [-0.14835079,-0.037937827,-0.12693565,0.1409565]::REAL[]),
        |(0, 15, [-0.20716532,0.05783614,0.04123796,-0.399964]::REAL[]),
        |(0, 16, [-0.12931678,0.027933793,0.23777398,-0.101595834]::REAL[]),
        |(0, 17, [0.11983462,0.10669674,-0.075606704,-0.07903569]::REAL[]),
        |(0, 18, [-0.13303271,-0.05309974,0.06389533,-0.00819455]::REAL[]),
        |(0, 19, [0.140326,-0.12776384,-0.1780087,-0.079895295]::REAL[]),
        |(0, 20, [-0.033636328,-0.018775845,0.024441328,-0.1537754]::REAL[]),
        |(0, 21, [0.04237551,0.2063829,0.019591242,0.11015019]::REAL[]),
        |(0, 22, [0.10153141,-0.050300404,-0.08524027,0.015220494]::REAL[]),
        |(0, 23, [0.10296684,-0.14206584,0.10303248,-0.20805041]::REAL[]),
        |(0, 24, [0.065708466,-3.3043613E-4,-0.015157521,-0.04321124]::REAL[]),
        |(0, 25, [-0.18965551,-0.20289557,-0.054842763,-0.0028527132]::REAL[]),
        |(0, 26, [-0.09482341,-0.19982241,0.1177755,-0.087409854]::REAL[]),
        |(0, 27, [0.036176838,0.13971539,-0.19128028,0.06921299]::REAL[]),
        |(0, 28, [0.18397993,-0.0739813,0.097227104,-0.04155042]::REAL[]),
        |(0, 29, [-0.04782419,-0.13102363,-0.22513473,-0.17006952]::REAL[]),
        |(0, 30, [-0.28164053,0.014319441,-0.020582339,-0.11859045]::REAL[]),
        |(0, 31, [-0.033923514,-0.010629465,-0.12193316,-0.11985125]::REAL[]),
        |(0, 32, [-0.0029276204,-0.014070492,0.18958569,-0.18773532]::REAL[]),
        |(0, 33, [-0.21864702,-0.17710334,-0.04134187,-0.20422547]::REAL[]),
        |(0, 34, [0.11672403,0.116096556,-0.2861655,-0.07189017]::REAL[]),
        |(0, 35, [-0.030711047,0.057855844,-0.05140743,0.016678533]::REAL[]),
        |(0, 36, [-0.10525788,0.21125378,0.08677356,0.0031509493]::REAL[]),
        |(0, 37, [0.19250375,-0.04014027,-0.040639266,-0.1485124]::REAL[]),
        |(0, 38, [-0.065602,-0.12638167,-0.037225083,-0.231957]::REAL[]),
        |(0, 39, [0.06747908,-0.0067077577,0.021984538,0.07942653]::REAL[]),
        |(0, 40, [-0.044986352,-0.020681562,0.11314056,-0.024587335]::REAL[]),
        |(0, 41, [0.10990637,-0.3158094,-0.01412577,-0.024980318]::REAL[]),
        |(0, 42, [-0.044140644,0.1714609,-0.098125584,-0.09285]::REAL[]),
        |(0, 43, [-0.09647313,-0.09261194,-0.0073243543,-0.085512675]::REAL[]),
        |(0, 44, [0.23040852,-0.09928374,0.040047675,0.11462741]::REAL[]),
        |(0, 45, [-0.08252778,0.071363606,-0.026702357,0.24980712]::REAL[]),
        |(0, 46, [-0.18610296,-0.060980726,-0.1899076,-0.010012981]::REAL[]),
        |(0, 47, [0.016692441,-0.037961643,-0.19184598,0.11357426]::REAL[]),
        |(0, 48, [0.23112431,0.12828836,-0.090363264,0.15529446]::REAL[]),
        |(0, 49, [0.101361535,-0.13593975,-0.053793926,0.11397825]::REAL[]),
        |(0, 50, [0.008725128,-0.13765056,-0.14508829,-0.03170758]::REAL[]),
        |(0, 51, [0.20209317,0.14324842,0.087425865,-0.1962451]::REAL[]),
        |(0, 52, [0.029012425,0.1666009,-0.06752686,-0.23601124]::REAL[]),
        |(0, 53, [-0.038153455,-0.11333925,0.025751712,0.104262955]::REAL[]),
        |(0, 54, [-0.025061714,0.09307076,0.10490525,-0.1543029]::REAL[]),
        |(0, 55, [-0.17069873,0.093754925,0.11292264,0.078626215]::REAL[]),
        |(0, 56, [-0.11909024,0.08486302,0.0067683784,-0.12487683]::REAL[]),
        |(0, 57, [0.22782542,6.053246E-4,-0.12510069,0.07567727]::REAL[]),
        |(0, 58, [0.10360361,0.028124148,0.05212209,-0.14671285]::REAL[]),
        |(0, 59, [-0.003910831,-0.056121346,0.28312686,-0.056580085]::REAL[]),
        |(0, 60, [-0.13305706,-0.042507052,0.043776117,0.18984437]::REAL[]),
        |(0, 61, [0.0070954016,0.13077244,0.13897538,-0.061308168]::REAL[]),
        |(0, 62, [0.0052924915,0.2749364,0.08473751,-0.081229515]::REAL[]),
        |(0, 63, [0.036265388,-0.14546958,0.034191966,-0.03816755]::REAL[]),
        |(1, 0, [-0.020916566,-0.11228697,-0.13549766,0.10125761]::REAL[]),
        |(1, 1, [-0.08848922,-0.16062857,0.023633072,-0.0089803515]::REAL[]),
        |(1, 2, [0.0760619,-0.06584992,-0.13973308,-0.2377998]::REAL[]),
        |(1, 3, [0.19830266,0.18587823,-0.2836686,-0.06564591]::REAL[]),
        |(1, 4, [-0.054028135,0.019185575,-0.07952816,0.035153933]::REAL[]),
        |(1, 5, [0.20901151,0.14550778,0.10226109,0.15394896]::REAL[]),
        |(1, 6, [-0.036477305,0.32516658,0.114673674,-0.2545679]::REAL[]),
        |(1, 7, [-0.16185878,-0.008282649,0.15996568,0.09354934]::REAL[]),
        |(1, 8, [-0.084415555,0.17720962,-0.052651405,0.038405813]::REAL[]),
        |(1, 9, [-0.2927839,-0.13209192,-0.061137587,0.027874596]::REAL[]),
        |(1, 10, [-0.06963802,0.08023068,0.044364266,-0.054580744]::REAL[]),
        |(1, 11, [0.2035928,0.050950464,-0.08638708,0.09738012]::REAL[]),
        |(1, 12, [0.072462305,-0.06414465,-0.23577371,-0.111096]::REAL[]),
        |(1, 13, [-0.11515005,-0.034955934,-0.2225672,0.101318486]::REAL[]),
        |(1, 14, [0.114098325,-0.05233264,-0.0726192,-0.013087267]::REAL[]),
        |(1, 15, [-0.041803867,-0.06610469,0.013938699,-0.039130688]::REAL[]),
        |(1, 16, [0.21050249,-0.19717541,-0.123787925,0.1361214]::REAL[]),
        |(1, 17, [0.08742176,-0.035338916,0.06272807,0.030004852]::REAL[]),
        |(1, 18, [0.1599717,0.047960293,0.09951403,-0.08265662]::REAL[]),
        |(1, 19, [-0.048446726,0.14147285,-0.18568471,0.018600289]::REAL[]),
        |(1, 20, [-0.10663296,-0.036806963,0.0018844364,0.15561396]::REAL[]),
        |(1, 21, [-0.022819908,0.027512712,-0.0760499,0.12299847]::REAL[]),
        |(1, 22, [0.02173941,-0.02396257,-0.09217004,0.012138321]::REAL[]),
        |(1, 23, [0.09162902,0.0647589,-0.123423494,0.16137946]::REAL[]),
        |(1, 24, [0.25096545,0.26359057,0.11865637,-0.1873604]::REAL[]),
        |(1, 25, [-0.22817111,0.15530464,0.032544322,0.03326369]::REAL[]),
        |(1, 26, [0.16875866,-0.009149588,0.025031645,-0.23441288]::REAL[]),
        |(1, 27, [-0.11001271,-0.22060962,0.16388898,0.17116977]::REAL[]),
        |(1, 28, [0.055114273,0.06155917,-0.05587048,0.29043686]::REAL[]),
        |(1, 29, [-0.30589253,0.07413175,-0.055485666,0.18202318]::REAL[]),
        |(1, 30, [0.035067014,0.106950626,0.124066725,-0.15720545]::REAL[]),
        |(1, 31, [0.13631082,0.28630626,-0.13272595,0.07750905]::REAL[]),
        |(1, 32, [0.12975186,0.0887095,-0.16294383,0.0033421682]::REAL[]),
        |(1, 33, [0.13539657,-0.21028724,0.07411215,0.049504727]::REAL[]),
        |(1, 34, [-0.039326645,0.17583874,0.19089544,0.06237469]::REAL[]),
        |(1, 35, [0.06195685,-0.0015289753,-0.096973106,-0.3668924]::REAL[]),
        |(1, 36, [0.08298477,-0.20377412,-0.13445716,0.025604261]::REAL[]),
        |(1, 37, [-0.023208328,-0.12713541,-0.08479423,-0.16150428]::REAL[]),
        |(1, 38, [0.21116644,-0.04087279,0.054934576,0.10249251]::REAL[]),
        |(1, 39, [0.11972917,0.06329637,0.037671134,0.14451182]::REAL[]),
        |(1, 40, [-0.025666183,0.11084364,-0.21989639,-0.13484356]::REAL[]),
        |(1, 41, [0.08745593,0.13425027,-0.03345783,-0.106793165]::REAL[]),
        |(1, 42, [0.09100074,0.23470476,0.09565029,0.07746596]::REAL[]),
        |(1, 43, [0.012306971,-0.16429311,0.3150901,-0.020599645]::REAL[]),
        |(1, 44, [-0.17079891,-0.045730222,0.0074521187,0.029358461]::REAL[]),
        |(1, 45, [0.0548354,0.11804291,-0.029912133,0.03458901]::REAL[]),
        |(1, 46, [-0.13649413,-0.29396522,-0.043079875,-0.1290296]::REAL[]),
        |(1, 47, [-0.10585415,0.09276225,0.018079678,0.26700637]::REAL[]),
        |(1, 48, [-0.061078295,0.05178283,-0.0027178987,0.10019508]::REAL[]),
        |(1, 49, [0.23154631,-0.08388678,-0.17726903,0.08353303]::REAL[]),
        |(1, 50, [-0.06833434,-0.051489964,0.05972215,0.089015454]::REAL[]),
        |(1, 51, [-0.033990394,0.018626785,-0.047519423,-0.07549607]::REAL[]),
        |(1, 52, [-0.18940222,0.09212224,-0.1251392,-0.046071198]::REAL[]),
        |(1, 53, [-0.107305914,-0.041583646,0.013746146,-0.22247498]::REAL[]),
        |(1, 54, [0.20288946,-0.08468564,-0.11749316,-0.08394266]::REAL[]),
        |(1, 55, [0.049766757,0.06337189,0.2975619,-0.064813375]::REAL[]),
        |(1, 56, [0.014812367,-0.0054334635,0.14231804,0.16078445]::REAL[]),
        |(1, 57, [0.04178249,-0.06849321,0.08221277,-0.15780893]::REAL[]),
        |(1, 58, [9.09206E-5,0.2060021,-0.036822703,0.17299303]::REAL[]),
        |(1, 59, [-0.022878986,-0.27675584,-0.03187976,0.18896718]::REAL[]),
        |(1, 60, [-0.18893324,0.032066114,0.10866943,-0.03556808]::REAL[]),
        |(1, 61, [-0.05177161,-0.062149104,0.1780155,0.027752511]::REAL[]),
        |(1, 62, [-0.015912293,0.10721168,0.045279242,0.194697]::REAL[]),
        |(1, 63, [0.11178372,-0.1415893,-0.031776402,0.21860293]::REAL[]),
        |(2, 0, [-0.029308053,-0.1491422,0.12968884,-0.037323732]::REAL[]),
        |(2, 1, [-0.05841477,-0.004526396,-0.25326943,0.011370818]::REAL[]),
        |(2, 2, [0.12495161,0.017941685,0.10797664,0.080517195]::REAL[]),
        |(2, 3, [0.039558645,-0.1128621,-0.10006681,-0.122506686]::REAL[]),
        |(2, 4, [0.001548702,-0.15350299,-0.091784775,0.066978425]::REAL[]),
        |(2, 5, [-0.01409041,0.14888313,0.1780437,0.0897021]::REAL[]),
        |(2, 6, [0.16090946,-0.09223176,0.06820364,-0.28132716]::REAL[]),
        |(2, 7, [0.27315465,-0.17763945,0.10127545,0.32589763]::REAL[]),
        |(2, 8, [0.2420379,0.22698684,0.10090103,-0.006371664]::REAL[]),
        |(2, 9, [0.1598138,-0.16780646,0.27297947,-0.00999567]::REAL[]),
        |(2, 10, [0.07575461,0.2546092,-0.072477266,0.09248737]::REAL[]),
        |(2, 11, [0.08461466,-0.05040413,-0.13090102,0.16725926]::REAL[]),
        |(2, 12, [-0.033059027,-0.016153023,0.067178,-0.0051519657]::REAL[]),
        |(2, 13, [0.14300464,0.15411277,-0.012724151,-0.11860126]::REAL[]),
        |(2, 14, [-0.06572724,-0.098833166,0.11456302,0.16069604]::REAL[]),
        |(2, 15, [-0.032269213,0.11884915,-0.04086376,-0.3111091]::REAL[]),
        |(2, 16, [-0.084152386,0.3626035,0.17430753,-0.05681667]::REAL[]),
        |(2, 17, [-0.054986697,0.26339665,-0.09849809,-0.056476373]::REAL[]),
        |(2, 18, [-0.23293711,0.091061436,0.10271237,-0.055823907]::REAL[]),
        |(2, 19, [-0.0361985,-0.009298239,-0.06569659,0.035088837]::REAL[]),
        |(2, 20, [0.15030585,-0.045131147,-0.19016053,-0.1424623]::REAL[]),
        |(2, 21, [0.014551165,0.0902861,0.21662451,-0.121924795]::REAL[]),
        |(2, 22, [-0.23653515,-0.15808295,0.16928741,-0.0698962]::REAL[]),
        |(2, 23, [-0.12763947,0.2573695,0.08026605,0.08058808]::REAL[]),
        |(2, 24, [-0.10225808,0.06827024,0.10741117,-0.09867128]::REAL[]),
        |(2, 25, [0.21655864,0.037505683,0.048887417,0.02627607]::REAL[]),
        |(2, 26, [-0.22772166,-0.20998123,-0.09683286,0.10065521]::REAL[]),
        |(2, 27, [0.011538862,0.19512907,0.076718375,-0.019170063]::REAL[]),
        |(2, 28, [0.16717409,-0.2413163,-0.09093532,-0.04356013]::REAL[]),
        |(2, 29, [-0.13239884,0.16487129,-0.150723,0.18098593]::REAL[]),
        |(2, 30, [0.011311087,-0.21376988,0.034643415,-0.03100942]::REAL[]),
        |(2, 31, [-0.12583365,-0.1683804,-0.19431351,0.03290839]::REAL[]),
        |(2, 32, [0.0943239,-0.16949517,0.03438625,0.08533938]::REAL[]),
        |(2, 33, [0.10560353,0.07193939,-0.12949196,0.082014635]::REAL[]),
        |(2, 34, [-0.17383467,2.2015843E-4,0.19872247,0.021376103]::REAL[]),
        |(2, 35, [0.024891395,-0.06300591,-0.07976252,-0.042996015]::REAL[]),
        |(2, 36, [0.07510606,-0.054829966,-0.14788173,0.025026223]::REAL[]),
        |(2, 37, [0.041242,-0.20190766,0.07669418,-0.1464619]::REAL[]),
        |(2, 38, [0.07506059,-0.054236498,0.02550826,0.007342306]::REAL[]),
        |(2, 39, [0.14057109,-0.07781499,0.17976436,0.0070845024]::REAL[]),
        |(2, 40, [0.025215778,-0.0496174,0.24107197,0.11664845]::REAL[]),
        |(2, 41, [-0.11071911,-0.1957526,-0.041621406,-0.030235557]::REAL[]),
        |(2, 42, [0.11021955,0.12172741,-0.11300874,-0.07215514]::REAL[]),
        |(2, 43, [-0.030052118,-0.11054047,0.026654601,0.04427686]::REAL[]),
        |(2, 44, [-0.14054954,-0.04987134,0.037610058,0.030046053]::REAL[]),
        |(2, 45, [-0.07431093,0.005761734,-0.031897437,-0.13597855]::REAL[]),
        |(2, 46, [-0.097349934,-0.20375015,-0.014196472,0.18166424]::REAL[]),
        |(2, 47, [0.119449,0.09880923,0.017578203,0.09104867]::REAL[]),
        |(2, 48, [-0.16240312,0.09259317,-0.0356936,0.05812937]::REAL[]),
        |(2, 49, [-0.093937755,-0.2025966,-0.06256176,-0.22039278]::REAL[]),
        |(2, 50, [-0.0044953013,-0.06138674,-0.34411904,0.26954743]::REAL[]),
        |(2, 51, [-0.031802572,0.021325072,-0.013008402,0.16016975]::REAL[]),
        |(2, 52, [-0.012929858,0.088815406,0.062096305,0.28962082]::REAL[]),
        |(2, 53, [-0.029401843,-0.06947657,0.18618557,-0.10940528]::REAL[]),
        |(2, 54, [-0.06313181,-0.085233085,0.16903968,-0.25774997]::REAL[]),
        |(2, 55, [0.3285826,0.09965618,-0.1177867,0.07160408]::REAL[]),
        |(2, 56, [-0.09474563,0.11755357,-0.01549627,-0.040985223]::REAL[]),
        |(2, 57, [0.054600142,-0.025625655,0.09477903,-0.09669687]::REAL[]),
        |(2, 58, [0.12043667,-0.025148325,-0.055333022,-0.043082163]::REAL[]),
        |(2, 59, [0.12768397,0.07380581,0.14607133,-0.048469182]::REAL[]),
        |(2, 60, [-0.15315643,-0.022288803,-0.16559286,-0.104476534]::REAL[]),
        |(2, 61, [0.102196455,0.02796456,0.0048300177,-0.16031411]::REAL[]),
        |(2, 62, [-0.022567073,0.06520046,0.14019209,-0.024460142]::REAL[]),
        |(2, 63, [0.25111693,-0.06749378,-0.006975557,-0.07718837]::REAL[]),
        |(3, 0, [-0.21537238,-0.091514796,-0.1499901,-0.16267169]::REAL[]),
        |(3, 1, [0.1813979,-0.21135521,0.0029551862,0.056423556]::REAL[]),
        |(3, 2, [-0.12937844,0.22690508,0.10030003,-0.087292515]::REAL[]),
        |(3, 3, [-0.081143714,-0.20601057,-0.10545359,-0.14472762]::REAL[]),
        |(3, 4, [0.0042655864,-0.11036034,-0.1614346,-0.020166703]::REAL[]),
        |(3, 5, [-0.055788793,-0.024350544,-0.061045457,0.0060913465]::REAL[]),
        |(3, 6, [-0.1667009,0.03091006,0.10337253,0.06866215]::REAL[]),
        |(3, 7, [0.039263003,-0.104528114,-0.006575853,-0.2027359]::REAL[]),
        |(3, 8, [0.09331376,0.05156901,0.048711248,0.08538323]::REAL[]),
        |(3, 9, [-0.12722015,-0.090239376,0.18878733,-0.058191508]::REAL[]),
        |(3, 10, [-0.15869734,-0.07181873,0.014820438,-0.12109618]::REAL[]),
        |(3, 11, [-0.17542206,0.15362771,0.18127738,0.06273572]::REAL[]),
        |(3, 12, [0.164962,0.21475707,-0.033357896,-0.05582962]::REAL[]),
        |(3, 13, [0.26069212,0.015173153,0.100246914,0.19818665]::REAL[]),
        |(3, 14, [-0.022544298,0.1877918,0.03516442,0.1503538]::REAL[]),
        |(3, 15, [0.2333296,-0.1830772,0.3617298,-0.024819275]::REAL[]),
        |(3, 16, [0.061769765,-0.15304635,0.09365638,-0.080347806]::REAL[]),
        |(3, 17, [-0.11570596,0.03583399,-0.23557532,6.757023E-4]::REAL[]),
        |(3, 18, [0.0013866187,0.09088896,0.20612757,0.07054369]::REAL[]),
        |(3, 19, [0.07247791,0.13889031,-0.2302668,0.12831847]::REAL[]),
        |(3, 20, [-0.17078382,-0.15557992,-0.13219312,0.035656724]::REAL[]),
        |(3, 21, [-0.16308424,0.015531138,-0.22721966,0.19786969]::REAL[]),
        |(3, 22, [0.016206147,-0.05076888,0.07703677,-0.02620063]::REAL[]),
        |(3, 23, [-0.27207527,-0.05278198,-0.014737565,-0.004756819]::REAL[]),
        |(3, 24, [0.113560244,0.15833467,0.10733848,-0.12781705]::REAL[]),
        |(3, 25, [0.057570927,-0.014907328,0.1859703,0.15748087]::REAL[]),
        |(3, 26, [-0.25694022,-0.082363054,0.1622361,0.01811767]::REAL[]),
        |(3, 27, [-0.20920542,0.12876076,-0.056131817,-0.06428219]::REAL[]),
        |(3, 28, [-0.016207451,0.08298439,0.016074602,-0.06960865]::REAL[]),
        |(3, 29, [-0.04498702,0.017096536,0.11354377,-0.16348445]::REAL[]),
        |(3, 30, [-0.08630076,1.9180495E-4,-0.19221216,-0.2176472]::REAL[]),
        |(3, 31, [0.1713389,0.020595087,0.19732745,-0.09432724]::REAL[]),
        |(3, 32, [0.19802067,-0.069233306,0.11462085,-0.06259569]::REAL[]),
        |(3, 33, [0.07310109,-0.02516644,-0.04344589,0.2490863]::REAL[]),
        |(3, 34, [0.024018303,-0.11973554,0.06740435,0.10469541]::REAL[]),
        |(3, 35, [0.19682106,0.2538164,0.03591117,0.0663093]::REAL[]),
        |(3, 36, [-0.17711231,0.005272301,-0.07666219,0.22052428]::REAL[]),
        |(3, 37, [-0.037104234,0.2966736,8.711033E-4,-0.028856132]::REAL[]),
        |(3, 38, [0.11875501,0.012384768,0.0070985556,-0.047351632]::REAL[]),
        |(3, 39, [0.083813176,-0.005631969,-0.05406799,0.06243608]::REAL[]),
        |(3, 40, [-0.019105725,0.15218396,-0.09374586,-0.08683204]::REAL[]),
        |(3, 41, [-0.048460886,0.090199575,0.1273791,-0.04464468]::REAL[]),
        |(3, 42, [-0.051609818,0.01632248,0.052599143,0.10103588]::REAL[]),
        |(3, 43, [0.16631775,0.14742425,0.16058026,0.10163796]::REAL[]),
        |(3, 44, [0.20063451,-0.008869131,-0.033316474,-0.19005565]::REAL[]),
        |(3, 45, [-0.017641112,0.0324669,-0.07833572,0.16833344]::REAL[]),
        |(3, 46, [0.092530824,-0.07095992,-0.07668315,-0.06079666]::REAL[]),
        |(3, 47, [-0.0712648,0.12340985,-0.055150624,0.05556937]::REAL[]),
        |(3, 48, [-0.05307368,-0.18576488,-0.088189006,-0.02628221]::REAL[]),
        |(3, 49, [-0.06474233,-0.09437719,-0.10263023,0.12592669]::REAL[]),
        |(3, 50, [-0.094676055,-0.29996285,0.07614103,-0.0444682]::REAL[]),
        |(3, 51, [-0.13913864,0.047686078,0.19165848,0.2560319]::REAL[]),
        |(3, 52, [0.23091555,-0.17956078,-0.17464405,0.13896555]::REAL[]),
        |(3, 53, [0.058710836,0.05944848,-0.17991933,-0.1092284]::REAL[]),
        |(3, 54, [0.12574148,-0.27137536,-0.20527099,0.07834033]::REAL[]),
        |(3, 55, [0.08440959,-0.16021639,-0.08498086,-0.31646273]::REAL[]),
        |(3, 56, [0.036845524,-0.19500752,-0.03570932,0.13234536]::REAL[]),
        |(3, 57, [0.16653861,0.115025505,-0.09373221,0.12249159]::REAL[]),
        |(3, 58, [0.054172635,-0.2545949,0.11332749,-0.091366254]::REAL[]),
        |(3, 59, [0.06753112,-0.19397771,0.0037492183,-0.03223517]::REAL[]),
        |(3, 60, [0.08998428,-0.116163425,0.17208113,-0.0077600735]::REAL[]),
        |(3, 61, [-0.06547771,0.029073609,0.012023931,-0.25272518]::REAL[]),
        |(3, 62, [0.03835268,-0.062264662,0.17407143,-0.20605883]::REAL[]),
        |(3, 63, [0.05085383,-0.059396252,-0.21056762,0.07116619]::REAL[]),
        |(4, 0, [-0.03384725,0.13958277,0.048064616,-0.10286194]::REAL[]),
        |(4, 1, [-0.04034177,0.12610145,-0.13667172,-0.010156239]::REAL[]),
        |(4, 2, [-0.11108908,-0.14489904,-0.25084096,-0.035970002]::REAL[]),
        |(4, 3, [0.091261655,-0.047584563,-0.08962943,0.09492144]::REAL[]),
        |(4, 4, [-0.034187265,0.11252262,0.0689968,0.26097158]::REAL[]),
        |(4, 5, [0.04828907,-0.09803499,-0.15517278,-0.031311926]::REAL[]),
        |(4, 6, [0.0870907,0.08925131,0.16148347,0.08470324]::REAL[]),
        |(4, 7, [0.0021010267,-0.1272779,-0.053936366,0.049864613]::REAL[]),
        |(4, 8, [0.017731508,0.040579267,0.016724503,0.10728193]::REAL[]),
        |(4, 9, [-0.15448262,0.22400483,-0.08247545,0.05723834]::REAL[]),
        |(4, 10, [0.049044173,-0.0054379883,0.050215617,-0.090213686]::REAL[]),
        |(4, 11, [-0.048569642,0.061300173,0.10634812,-0.030559482]::REAL[]),
        |(4, 12, [-0.06988222,0.06638272,-0.01663898,-0.03851049]::REAL[]),
        |(4, 13, [-0.08859572,-0.0088399695,-0.112326674,0.015618452]::REAL[]),
        |(4, 14, [-0.046133876,0.13641994,-0.13159971,-0.18027878]::REAL[]),
        |(4, 15, [-0.13385028,-0.10799937,-0.0075430516,-0.08040235]::REAL[]),
        |(4, 16, [-0.16120827,-0.31095874,-0.1324906,-0.11687731]::REAL[]),
        |(4, 17, [0.17877862,-9.997189E-5,-0.08325057,-0.20135318]::REAL[]),
        |(4, 18, [0.055377737,-0.21999075,-0.18188341,0.09920976]::REAL[]),
        |(4, 19, [-0.0748078,-0.08249194,0.106191255,0.11174561]::REAL[]),
        |(4, 20, [-0.038819633,0.17082538,0.051160395,-0.15942977]::REAL[]),
        |(4, 21, [0.049627256,0.056977626,-0.15193878,-0.05132626]::REAL[]),
        |(4, 22, [-0.044670552,-0.267878,0.048560124,-0.080809094]::REAL[]),
        |(4, 23, [0.15747225,0.13072707,0.1735888,-0.052630305]::REAL[]),
        |(4, 24, [-0.19750899,-0.050659943,-0.13531968,-0.11807469]::REAL[]),
        |(4, 25, [-0.11438732,-0.0084335385,-0.005709767,0.11875075]::REAL[]),
        |(4, 26, [-0.22499667,-0.14366291,-0.09774193,0.11101836]::REAL[]),
        |(4, 27, [0.070220456,0.12411013,0.05522114,-0.09291651]::REAL[]),
        |(4, 28, [-0.019425515,-0.07742123,0.05476649,0.004436672]::REAL[]),
        |(4, 29, [0.19088285,0.092107564,-0.014730422,-0.080537885]::REAL[]),
        |(4, 30, [-0.061463963,-0.0068640145,-0.15348914,0.16845767]::REAL[]),
        |(4, 31, [0.16988291,0.009919453,0.17626612,0.1411018]::REAL[]),
        |(4, 32, [0.081400745,0.21749924,-0.072977014,0.0058133095]::REAL[]),
        |(4, 33, [0.09535681,-0.17793475,-0.06211646,-0.15112562]::REAL[]),
        |(4, 34, [0.08696243,-0.12483177,0.1625299,0.01889586]::REAL[]),
        |(4, 35, [8.5488707E-4,0.19307433,0.05592446,0.06650861]::REAL[]),
        |(4, 36, [0.13343379,-0.0086602885,-0.090356484,0.25870776]::REAL[]),
        |(4, 37, [0.031836316,-0.07381933,-0.09099765,-0.13926226]::REAL[]),
        |(4, 38, [0.09850749,-0.0911518,0.03849617,-0.13920532]::REAL[]),
        |(4, 39, [-0.1280074,0.0697791,-0.18099637,-0.03481977]::REAL[]),
        |(4, 40, [-0.12236874,-0.17170967,0.032907173,0.019365463]::REAL[]),
        |(4, 41, [-0.046028912,0.10144117,0.30467492,0.092963986]::REAL[]),
        |(4, 42, [-0.20330258,0.104934074,-0.07464537,-0.001741251]::REAL[]),
        |(4, 43, [-0.21964402,-0.07230336,0.12728532,-0.06572836]::REAL[]),
        |(4, 44, [0.02869472,0.11923841,0.04076252,-0.28925928]::REAL[]),
        |(4, 45, [-0.116740726,0.11632048,0.006973315,0.06133079]::REAL[]),
        |(4, 46, [-0.04251134,0.315868,0.14194988,-0.122066505]::REAL[]),
        |(4, 47, [0.23092692,-0.0656,-0.1102931,-0.014848952]::REAL[]),
        |(4, 48, [-0.080783874,-0.12124781,-0.036486056,0.18779674]::REAL[]),
        |(4, 49, [0.2470884,-0.16117969,0.08810501,-0.11863641]::REAL[]),
        |(4, 50, [-0.22108242,0.095911086,0.14460184,-0.12365337]::REAL[]),
        |(4, 51, [-0.058267895,-0.0064181993,0.115151905,0.03781931]::REAL[]),
        |(4, 52, [-0.091446705,0.39099407,-0.055891845,-0.13347822]::REAL[]),
        |(4, 53, [0.12655142,0.012322114,0.015662894,-4.0266095E-4]::REAL[]),
        |(4, 54, [0.27707544,-0.016389724,0.021806918,0.16912827]::REAL[]),
        |(4, 55, [0.12145604,-0.14452727,0.054020505,0.050080914]::REAL[]),
        |(4, 56, [-0.16566119,0.1343993,0.098843634,0.0026333253]::REAL[]),
        |(4, 57, [0.03442245,-0.007034269,0.19807874,-0.07910093]::REAL[]),
        |(4, 58, [0.05793339,0.11358875,-0.0664751,0.13992676]::REAL[]),
        |(4, 59, [-0.07108739,-0.10832915,0.2960014,-0.0021644142]::REAL[]),
        |(4, 60, [0.0033170453,-0.0058018845,0.25467587,0.10045362]::REAL[]),
        |(4, 61, [0.036861327,0.092359126,0.1991544,-0.16240059]::REAL[]),
        |(4, 62, [-0.076080725,0.0027924187,0.06787344,-0.17612189]::REAL[]),
        |(4, 63, [0.083760485,0.013580366,-0.25913775,0.08280993]::REAL[]),
        |(5, 0, [0.17176852,0.07342062,-0.04036992,0.25504735]::REAL[]),
        |(5, 1, [0.054262307,0.099677324,-0.20705777,0.07708614]::REAL[]),
        |(5, 2, [-0.20551418,0.20718403,0.09458166,-0.16021733]::REAL[]),
        |(5, 3, [-0.2287671,-0.158584,-0.013647997,0.30783603]::REAL[]),
        |(5, 4, [0.0014424032,-0.2547312,-0.010890776,-0.1366208]::REAL[]),
        |(5, 5, [-0.12972578,0.17738296,-0.01820174,0.10097945]::REAL[]),
        |(5, 6, [-0.0010101368,-0.13133126,0.11975882,-0.2063582]::REAL[]),
        |(5, 7, [0.2347625,-0.0019030522,0.03397974,0.007965442]::REAL[]),
        |(5, 8, [0.07853976,0.0055942805,-0.15182829,0.25750172]::REAL[]),
        |(5, 9, [0.043573134,-0.036747787,-0.14188302,0.09289264]::REAL[]),
        |(5, 10, [-0.13671589,-0.04226157,-0.06324159,0.13354936]::REAL[]),
        |(5, 11, [0.049799126,0.18202895,0.15821733,0.1446687]::REAL[]),
        |(5, 12, [-0.2709335,-0.10141066,-0.10328497,-0.040722795]::REAL[]),
        |(5, 13, [-0.12749194,0.097412854,-0.1617861,-0.029085577]::REAL[]),
        |(5, 14, [-0.15803742,0.15334246,0.21690322,0.106496684]::REAL[]),
        |(5, 15, [-0.14254692,-0.044163935,-0.18630326,-0.11201226]::REAL[]),
        |(5, 16, [-0.018611496,0.13067359,-0.06454259,0.11867101]::REAL[]),
        |(5, 17, [-0.23311712,0.08722447,0.091744706,0.13131532]::REAL[]),
        |(5, 18, [-0.09096499,-0.012051312,0.21358964,-0.3485065]::REAL[]),
        |(5, 19, [0.16013631,-0.1371924,-0.14764324,-0.007208558]::REAL[]),
        |(5, 20, [-0.02420047,-0.22009662,0.22272041,-0.08611585]::REAL[]),
        |(5, 21, [0.15965445,0.10546172,0.16687965,-0.044252582]::REAL[]),
        |(5, 22, [0.2195162,-0.074088454,-0.041360114,-0.16817786]::REAL[]),
        |(5, 23, [0.081279114,0.05512445,-0.13786952,-0.07360925]::REAL[]),
        |(5, 24, [0.03689924,0.015352238,0.08113843,-0.09828466]::REAL[]),
        |(5, 25, [0.0031200538,0.016289808,0.23482993,-0.120623566]::REAL[]),
        |(5, 26, [0.1440844,0.11557227,-0.10660309,0.039030235]::REAL[]),
        |(5, 27, [-0.12755223,0.032661792,0.14605695,-0.015311759]::REAL[]),
        |(5, 28, [0.0027949174,-0.14214091,0.08099385,0.118086465]::REAL[]),
        |(5, 29, [0.10794319,-0.11186384,-0.025808243,0.052995842]::REAL[]),
        |(5, 30, [0.15013826,-0.063188575,0.034247655,-0.33891937]::REAL[]),
        |(5, 31, [0.1306672,-0.30253363,-0.13229576,0.031076416]::REAL[]),
        |(5, 32, [-0.03701335,0.06446025,0.014973222,-0.0023435936]::REAL[]),
        |(5, 33, [0.0398946,-0.1759812,-0.23860164,-0.066838846]::REAL[]),
        |(5, 34, [0.16080837,0.011136492,-0.23463322,0.038948912]::REAL[]),
        |(5, 35, [-0.18035342,0.022187993,-0.025496338,-0.07776119]::REAL[]),
        |(5, 36, [-0.056142807,-0.083573855,-0.051174533,-0.14557026]::REAL[]),
        |(5, 37, [0.073355,-0.020542407,0.13455607,0.15534802]::REAL[]),
        |(5, 38, [-0.042561006,0.31976217,-0.08087914,0.116278976]::REAL[]),
        |(5, 39, [0.009106159,-0.038323544,0.06630907,-0.021140475]::REAL[]),
        |(5, 40, [-0.06123216,0.023452003,0.09621176,0.1066421]::REAL[]),
        |(5, 41, [-0.10320934,-0.09922277,-0.06746695,-0.014621714]::REAL[]),
        |(5, 42, [-0.0130001325,-0.06403984,-0.1398491,-0.027144246]::REAL[]),
        |(5, 43, [0.049467836,-0.13248612,-0.111450695,0.13363147]::REAL[]),
        |(5, 44, [0.09929919,-0.07890189,0.12748028,0.04119775]::REAL[]),
        |(5, 45, [0.028031616,0.14449194,0.08231628,-0.28283164]::REAL[]),
        |(5, 46, [0.1470883,-0.042207003,-0.06804926,-0.0018596945]::REAL[]),
        |(5, 47, [0.16121134,0.19231471,-0.06803164,-0.1348699]::REAL[]),
        |(5, 48, [0.0105226645,0.1297131,0.028086191,0.24249575]::REAL[]),
        |(5, 49, [-0.04612406,0.14716128,0.12881874,-0.10619707]::REAL[]),
        |(5, 50, [-0.048662424,-0.15239766,-0.14508276,0.03497107]::REAL[]),
        |(5, 51, [-0.13482651,-0.08629237,0.09765087,-0.11719342]::REAL[]),
        |(5, 52, [0.122811854,0.085648626,0.18351096,-0.1890203]::REAL[]),
        |(5, 53, [0.038819127,0.20424886,0.03998007,-0.025279865]::REAL[]),
        |(5, 54, [-0.15352345,0.05870138,0.11236419,-0.18752421]::REAL[]),
        |(5, 55, [-0.10346033,0.044788092,0.098578095,0.34311384]::REAL[]),
        |(5, 56, [-0.065011725,0.116807945,-0.051165793,-0.17861587]::REAL[]),
        |(5, 57, [-0.007654738,-0.2086604,-0.08463697,0.047617584]::REAL[]),
        |(5, 58, [0.071470775,-0.037145805,0.040833432,-0.1393338]::REAL[]),
        |(5, 59, [0.005580625,-0.0104353465,-0.056086153,0.0063565443]::REAL[]),
        |(5, 60, [0.08076139,-0.20586292,0.059057437,-0.02992151]::REAL[]),
        |(5, 61, [-0.11882559,-0.16324513,0.0861828,0.032453783]::REAL[]),
        |(5, 62, [0.010620969,0.0133792,-0.07942908,-0.18183444]::REAL[]),
        |(5, 63, [0.0955862,0.07109847,0.035032094,0.044790633]::REAL[]),
        |(6, 0, [-0.018441612,-0.3183573,0.21064985,-0.111738235]::REAL[]),
        |(6, 1, [-0.0033589047,0.22018272,0.037240144,-0.105327964]::REAL[]),
        |(6, 2, [-0.06268415,0.09758037,0.0681252,0.032515556]::REAL[]),
        |(6, 3, [-0.027389463,-0.16848764,0.13366005,-0.028050698]::REAL[]),
        |(6, 4, [-0.1702812,0.179706,0.07671012,0.18588102]::REAL[]),
        |(6, 5, [-0.104823925,0.015061662,0.24999425,0.12101497]::REAL[]),
        |(6, 6, [0.20744143,0.20319404,0.029471321,-0.0994934]::REAL[]),
        |(6, 7, [0.10397415,-0.06760609,0.028369868,0.16168812]::REAL[]),
        |(6, 8, [0.024632711,-0.12511085,0.0645655,0.1669291]::REAL[]),
        |(6, 9, [0.053473465,0.31708437,0.06936347,0.03952656]::REAL[]),
        |(6, 10, [0.110289425,-0.20795807,0.21859613,0.052535214]::REAL[]),
        |(6, 11, [0.19923492,0.10367651,-0.048288684,0.17951795]::REAL[]),
        |(6, 12, [-0.054511413,-0.10728201,0.02924688,-0.0316041]::REAL[]),
        |(6, 13, [-0.14916451,-0.18292491,-0.07759613,0.05900283]::REAL[]),
        |(6, 14, [0.009627062,0.046877563,-0.251195,-0.10528175]::REAL[]),
        |(6, 15, [0.013416706,0.07873888,0.027278384,-0.15601723]::REAL[]),
        |(6, 16, [-0.2674578,0.10250325,-0.08752995,0.033875763]::REAL[]),
        |(6, 17, [0.091453694,-0.035128973,0.12965132,-0.014448037]::REAL[]),
        |(6, 18, [0.03579308,-0.21413091,-0.115190215,0.035480984]::REAL[]),
        |(6, 19, [-0.06666446,-0.0020790948,-0.16776711,-0.14739965]::REAL[]),
        |(6, 20, [-0.17375952,0.15651266,-0.14401546,-0.016931098]::REAL[]),
        |(6, 21, [0.24334788,-0.17403102,-0.003148296,-0.06741696]::REAL[]),
        |(6, 22, [0.11509764,0.12937483,0.025078885,0.09882586]::REAL[]),
        |(6, 23, [0.04899434,0.05435089,-0.1486488,0.1917387]::REAL[]),
        |(6, 24, [-0.012829594,0.15029655,-0.01970237,0.066755176]::REAL[]),
        |(6, 25, [-0.09490953,-0.08548257,0.11429536,-0.15299787]::REAL[]),
        |(6, 26, [-0.07658093,-0.020794854,-0.25236428,0.13058105]::REAL[]),
        |(6, 27, [-0.12781568,0.03487128,-0.026749363,-0.24564704]::REAL[]),
        |(6, 28, [0.21596627,-0.07063738,0.09839696,0.09095667]::REAL[]),
        |(6, 29, [0.16065347,0.06599588,0.13379881,0.032700606]::REAL[]),
        |(6, 30, [0.15152301,0.11989521,0.07620249,-0.054367993]::REAL[]),
        |(6, 31, [-0.06655853,-0.0096178595,-0.07390591,0.054051828]::REAL[]),
        |(6, 32, [0.10494281,-0.16178201,-0.38573748,-0.19650272]::REAL[]),
        |(6, 33, [0.10119083,-0.06368497,-0.052045126,-0.044095337]::REAL[]),
        |(6, 34, [0.20712458,0.069018945,0.16686252,-0.16907583]::REAL[]),
        |(6, 35, [0.14872831,0.1764966,-0.14610136,0.06728707]::REAL[]),
        |(6, 36, [-0.04701787,0.025747957,0.076140046,0.16129002]::REAL[]),
        |(6, 37, [-0.11054876,0.008008707,-0.03949704,-0.027230214]::REAL[]),
        |(6, 38, [0.001518778,-0.029654352,-0.18096839,0.0014699477]::REAL[]),
        |(6, 39, [-0.032382704,-0.0020884324,0.057998396,0.018821724]::REAL[]),
        |(6, 40, [0.12240657,0.17096417,0.19809453,0.09815876]::REAL[]),
        |(6, 41, [-0.07512757,0.24068923,-0.14372505,-0.0029650773]::REAL[]),
        |(6, 42, [9.906242E-4,0.09397332,-0.08688081,-0.14915058]::REAL[]),
        |(6, 43, [0.16366349,0.03806634,-0.10144649,0.09744258]::REAL[]),
        |(6, 44, [0.18280995,-0.10610528,-0.16939595,0.07991307]::REAL[]),
        |(6, 45, [-0.09959417,-0.015789166,0.020371443,0.2948565]::REAL[]),
        |(6, 46, [-0.08419266,-0.093417995,0.009539707,0.097938195]::REAL[]),
        |(6, 47, [0.037828054,-0.10591046,0.037262958,-0.11489012]::REAL[]),
        |(6, 48, [-0.09530155,0.18914323,0.19434719,-0.0639489]::REAL[]),
        |(6, 49, [0.0629668,-0.040545452,-0.11863234,-0.10794532]::REAL[]),
        |(6, 50, [0.23320594,0.072523884,-0.042041093,-0.16448322]::REAL[]),
        |(6, 51, [-0.003391423,0.10451779,-0.10832159,0.017269013]::REAL[]),
        |(6, 52, [0.17406306,0.22879101,-0.21288036,-0.30352503]::REAL[]),
        |(6, 53, [0.08755394,0.008673627,-0.061606634,0.02699418]::REAL[]),
        |(6, 54, [-0.020291725,-0.027766857,0.27489805,-0.06853261]::REAL[]),
        |(6, 55, [0.043706767,-0.22681269,0.03127037,0.018668072]::REAL[]),
        |(6, 56, [-0.060233984,0.040843245,0.14507881,-0.06682961]::REAL[]),
        |(6, 57, [0.090801105,0.12436626,-0.056979574,-0.048992064]::REAL[]),
        |(6, 58, [0.04827637,0.10103552,0.07525804,-0.039512172]::REAL[]),
        |(6, 59, [-0.2355988,-0.025166761,-0.063605554,-0.11225998]::REAL[]),
        |(6, 60, [-0.07353099,-0.14412856,-0.10970344,-0.2243204]::REAL[]),
        |(6, 61, [-0.24429633,-0.004350938,0.094076194,0.0070551652]::REAL[]),
        |(6, 62, [-0.068108246,-0.12098819,-0.111439526,-0.08947487]::REAL[]),
        |(6, 63, [-0.14149155,0.026423642,-0.12874997,0.10094196]::REAL[]),
        |(7, 0, [0.031859342,-0.36932057,-0.07253659,-0.03312843]::REAL[]),
        |(7, 1, [0.037480976,0.23321949,0.23949917,0.015167868]::REAL[]),
        |(7, 2, [0.051268023,0.20250796,-0.2277209,0.08018791]::REAL[]),
        |(7, 3, [-0.044882767,0.120339625,0.14937055,-0.17542559]::REAL[]),
        |(7, 4, [0.13723294,0.07555395,-0.053977367,-0.17293507]::REAL[]),
        |(7, 5, [-0.25329584,-0.06541712,0.21779932,-0.1190572]::REAL[]),
        |(7, 6, [-0.37942606,-0.028162403,0.15691632,-0.03308776]::REAL[]),
        |(7, 7, [0.029937785,-0.13563313,0.19915798,0.14121532]::REAL[]),
        |(7, 8, [0.01156106,-0.028070489,0.053011235,0.07608554]::REAL[]),
        |(7, 9, [0.027743712,-0.01670124,0.06012781,-0.14161602]::REAL[]),
        |(7, 10, [-0.09980746,-0.15272331,0.054142933,0.1998813]::REAL[]),
        |(7, 11, [0.064651884,0.031015921,-0.00477425,0.3526326]::REAL[]),
        |(7, 12, [0.11569268,0.13195688,-0.45501158,-0.22862647]::REAL[]),
        |(7, 13, [0.13532627,-0.1729469,0.03669641,0.238958]::REAL[]),
        |(7, 14, [0.15732765,-0.0030627456,0.12242087,-0.23346612]::REAL[]),
        |(7, 15, [-0.14874703,0.06075405,-0.18442059,-0.083816476]::REAL[]),
        |(7, 16, [-0.24548991,-0.036275864,0.15656911,0.13922064]::REAL[]),
        |(7, 17, [0.030321315,0.1703097,-0.11515871,-0.069507]::REAL[]),
        |(7, 18, [0.023940982,0.13430834,0.048670895,-0.0661542]::REAL[]),
        |(7, 19, [-0.07842175,0.2275921,-0.007888514,0.031017097]::REAL[]),
        |(7, 20, [-0.015578559,0.060201984,0.25519997,0.0034933372]::REAL[]),
        |(7, 21, [0.22648118,0.053526394,-0.014864664,-0.0054615317]::REAL[]),
        |(7, 22, [0.11666278,0.036753118,0.21652354,-0.03148233]::REAL[]),
        |(7, 23, [0.107667446,0.018437129,-0.1306421,-0.058748182]::REAL[]),
        |(7, 24, [-0.09677511,-0.003607786,-0.03534408,-0.06806265]::REAL[]),
        |(7, 25, [-0.14840524,0.089731954,-0.048818942,0.09639025]::REAL[]),
        |(7, 26, [-0.03855409,-0.04520203,-0.06386645,-0.24615541]::REAL[]),
        |(7, 27, [0.1730347,0.20114,0.005102678,0.11598014]::REAL[]),
        |(7, 28, [0.09633941,0.08041057,0.13519108,0.122622326]::REAL[]),
        |(7, 29, [-0.07469208,-0.15251027,0.15175429,-0.18247433]::REAL[]),
        |(7, 30, [-0.01273218,-0.0476463,-0.015980808,-3.3940928E-4]::REAL[]),
        |(7, 31, [-0.057879627,0.09930331,0.06526557,0.08052428]::REAL[]),
        |(7, 32, [-0.030552793,-0.09195815,0.1695663,-0.057518005]::REAL[]),
        |(7, 33, [-0.053437345,0.21344528,-0.013694752,-0.13648401]::REAL[]),
        |(7, 34, [0.067357026,0.31556693,0.09901419,-0.14619404]::REAL[]),
        |(7, 35, [0.13675347,0.001005299,-0.026083034,0.03245805]::REAL[]),
        |(7, 36, [-0.24015053,-0.07845889,-0.081054546,-0.029123645]::REAL[]),
        |(7, 37, [-0.09634652,-0.007684236,0.13008407,0.12850359]::REAL[]),
        |(7, 38, [0.04980262,0.03511554,-0.20653109,0.09139353]::REAL[]),
        |(7, 39, [0.07001135,0.04135688,0.029495226,0.10560703]::REAL[]),
        |(7, 40, [0.23830073,-0.069027156,0.07629848,0.03819855]::REAL[]),
        |(7, 41, [-0.047202125,0.012043542,0.12549028,-0.018192513]::REAL[]),
        |(7, 42, [-0.19307296,0.13701357,0.10478532,-0.05192527]::REAL[]),
        |(7, 43, [0.012218919,0.30145854,-0.13493839,0.09299913]::REAL[]),
        |(7, 44, [-0.0035960067,0.22160104,0.10039063,0.19981222]::REAL[]),
        |(7, 45, [-0.024396993,-0.09001563,-0.13883258,0.2074821]::REAL[]),
        |(7, 46, [-0.14631858,-0.03137086,0.21986902,0.0071871057]::REAL[]),
        |(7, 47, [0.07428756,-0.2377308,0.13059457,-0.13332376]::REAL[]),
        |(7, 48, [-0.1510569,-0.07015135,-0.17755257,0.070149794]::REAL[]),
        |(7, 49, [0.1691579,-0.12459156,-0.15178822,0.002706058]::REAL[]),
        |(7, 50, [0.021076221,-0.121819876,0.027185677,-0.08310921]::REAL[]),
        |(7, 51, [0.073307365,-0.14477693,-0.17604455,-0.09662878]::REAL[]),
        |(7, 52, [-0.13559413,-0.2210406,0.069003254,-0.057764113]::REAL[]),
        |(7, 53, [0.049608834,-0.1829992,0.09206632,0.065875895]::REAL[]),
        |(7, 54, [0.0013327263,0.03218074,-0.042923108,0.046841938]::REAL[]),
        |(7, 55, [-0.15315399,-0.019457452,0.06899385,-0.112450555]::REAL[]),
        |(7, 56, [0.1525689,-0.03549395,0.047069967,-0.071832135]::REAL[]),
        |(7, 57, [0.036887135,-0.18045297,-0.055615883,-0.0029500825]::REAL[]),
        |(7, 58, [0.06822004,-0.029496426,0.11600454,0.03989231]::REAL[]),
        |(7, 59, [0.060973067,-0.045148328,-0.038653586,0.16009063]::REAL[]),
        |(7, 60, [0.059155624,0.09588094,-0.076729245,0.03618071]::REAL[]),
        |(7, 61, [-0.08450173,-0.08995337,-0.028245557,0.083229624]::REAL[]),
        |(7, 62, [-0.14436615,0.12297848,-0.056366492,0.21844512]::REAL[]),
        |(7, 63, [0.01760246,0.16426082,-0.07969546,0.1601609]::REAL[]),
        |(8, 0, [-0.28215024,-0.10965667,0.026803192,0.015457802]::REAL[]),
        |(8, 1, [-0.10406911,-0.20582919,-0.10633665,0.019902656]::REAL[]),
        |(8, 2, [-0.023556586,-0.18659192,0.16604947,0.056755185]::REAL[]),
        |(8, 3, [-0.023141228,0.08207965,0.031986848,-0.17791437]::REAL[]),
        |(8, 4, [0.16461965,0.025844684,-0.035288993,0.07646061]::REAL[]),
        |(8, 5, [-4.5464147E-4,-0.07895188,0.13042717,0.12653531]::REAL[]),
        |(8, 6, [-0.21565995,0.08673902,-0.05285582,0.18299818]::REAL[]),
        |(8, 7, [0.036162026,-0.1633865,-0.0027056236,0.13777658]::REAL[]),
        |(8, 8, [-0.12898362,-0.0030508486,0.051758185,0.13577633]::REAL[]),
        |(8, 9, [-0.09973408,-0.02542124,0.10679993,-0.06732856]::REAL[]),
        |(8, 10, [-0.14202023,-0.028510874,-0.076526895,0.12309914]::REAL[]),
        |(8, 11, [0.12175161,-0.024742628,0.07682569,-0.08314151]::REAL[]),
        |(8, 12, [0.07022812,0.09401219,0.007115565,-0.024922393]::REAL[]),
        |(8, 13, [0.079256475,-0.045506645,0.029050477,0.31617483]::REAL[]),
        |(8, 14, [0.040565003,-0.12098799,0.049259126,-0.1637991]::REAL[]),""".stripMargin,
      """(8, 15, [0.16019668,0.16132198,0.01922901,0.17438515]::REAL[]),
        |(8, 16, [-0.038722903,-0.12885675,0.27877986,-0.22871791]::REAL[]),
        |(8, 17, [-0.10017204,-0.12269085,-0.0403579,-0.13753831]::REAL[]),
        |(8, 18, [-0.059709866,0.04554324,-0.16346139,0.28386986]::REAL[]),
        |(8, 19, [0.069751486,-0.077697024,0.0019187776,0.027510637]::REAL[]),
        |(8, 20, [-0.38186485,0.11933218,-0.094621085,-0.20417443]::REAL[]),
        |(8, 21, [-0.024163373,-0.027394671,-0.20623226,-0.22058731]::REAL[]),
        |(8, 22, [0.07562243,-0.14263904,-0.19034797,-0.03506652]::REAL[]),
        |(8, 23, [-0.18145932,0.06332611,-0.032710653,0.020341324]::REAL[]),
        |(8, 24, [0.1191921,0.038358755,0.19897611,0.1968841]::REAL[]),
        |(8, 25, [0.12973596,0.07567849,-0.09462325,-0.033712246]::REAL[]),
        |(8, 26, [-0.08805728,-0.09284335,0.014960169,0.26506084]::REAL[]),
        |(8, 27, [-0.03275829,0.0021802206,-0.06686273,-0.22150125]::REAL[]),
        |(8, 28, [0.1782413,0.09663727,0.047290836,-0.07214649]::REAL[]),
        |(8, 29, [0.07415104,-0.22491841,0.07087123,-0.019601403]::REAL[]),
        |(8, 30, [0.22314967,-0.13220142,0.06849119,-0.19011295]::REAL[]),
        |(8, 31, [0.07514299,0.1187446,0.12803884,0.0046422267]::REAL[]),
        |(8, 32, [0.04435147,0.13661969,-0.10718166,0.11341666]::REAL[]),
        |(8, 33, [0.11440023,-0.11940489,0.23942259,-0.040096216]::REAL[]),
        |(8, 34, [-0.015039681,0.13772646,-0.106629886,-0.043116465]::REAL[]),
        |(8, 35, [0.11203803,0.25505558,0.12906374,-0.03817929]::REAL[]),
        |(8, 36, [0.15519935,0.2621179,-0.13130493,-0.012761392]::REAL[]),
        |(8, 37, [-0.1786506,-0.052922662,0.28841016,0.029611634]::REAL[]),
        |(8, 38, [0.013466793,0.0733905,0.23511548,-0.15690835]::REAL[]),
        |(8, 39, [0.09006204,-0.07032738,0.18268123,-0.185907]::REAL[]),
        |(8, 40, [-0.026466068,0.023697544,0.2290687,0.06468298]::REAL[]),
        |(8, 41, [0.19581473,-0.058291756,-0.19581082,0.12179835]::REAL[]),
        |(8, 42, [0.22283927,-0.13311659,0.01822609,0.02871279]::REAL[]),
        |(8, 43, [-0.022428622,0.13979954,0.10375921,0.14218219]::REAL[]),
        |(8, 44, [-0.07444363,0.11193923,-0.20206207,-0.034248434]::REAL[]),
        |(8, 45, [-0.124359235,-0.017867165,-0.12075312,-0.07964415]::REAL[]),
        |(8, 46, [-0.15967047,-0.06903648,0.059929073,-0.20500737]::REAL[]),
        |(8, 47, [-0.24909332,0.09522887,0.09119382,-0.09789785]::REAL[]),
        |(8, 48, [0.2853676,0.0036259922,-0.09039344,-0.19953603]::REAL[]),
        |(8, 49, [0.10134397,-0.085051216,0.12704027,0.08570349]::REAL[]),
        |(8, 50, [0.21655132,0.047641598,0.101978965,0.10470765]::REAL[]),
        |(8, 51, [-0.024823723,-0.029742401,0.049767602,0.09287041]::REAL[]),
        |(8, 52, [0.07161607,0.245361,0.0050646476,-0.068518415]::REAL[]),
        |(8, 53, [0.11030304,-0.09948927,-0.082406305,-0.078674905]::REAL[]),
        |(8, 54, [0.14026591,-0.088300064,0.09950275,0.011995329]::REAL[]),
        |(8, 55, [0.10486698,0.0089599,-0.019668356,-0.27690244]::REAL[]),
        |(8, 56, [-0.04898131,-0.13473922,0.008156607,0.015122481]::REAL[]),
        |(8, 57, [-0.056466416,0.079515524,0.03488372,-0.04992885]::REAL[]),
        |(8, 58, [0.12354521,-0.053519957,-0.07026848,0.19323672]::REAL[]),
        |(8, 59, [-0.022716012,-0.019939713,-0.1906325,0.1319666]::REAL[]),
        |(8, 60, [-0.002950866,-0.0026764038,-0.04609096,0.12147525]::REAL[]),
        |(8, 61, [-0.0055303895,-0.04216962,-0.02765492,-0.046370868]::REAL[]),
        |(8, 62, [-0.11569012,0.19198628,-0.027632097,-0.02685461]::REAL[]),
        |(8, 63, [-0.019240731,-0.33084607,-0.036392696,-0.098995045]::REAL[]),
        |(9, 0, [-0.081088215,0.064491265,-0.117598325,0.23657908]::REAL[]),
        |(9, 1, [0.0604496,-0.0948883,-0.17196375,0.2493579]::REAL[]),
        |(9, 2, [-0.00296224,-0.07180443,-0.107724816,0.16696686]::REAL[]),
        |(9, 3, [0.05181311,0.10058593,0.12207039,-0.15196459]::REAL[]),
        |(9, 4, [0.009128627,-0.1869677,-0.047677856,-0.13837497]::REAL[]),
        |(9, 5, [-0.05980236,-0.18578854,-0.24552625,0.062259264]::REAL[]),
        |(9, 6, [0.028376028,0.105870925,0.11449275,0.27437243]::REAL[]),
        |(9, 7, [-0.2283924,0.031936493,-2.8239042E-4,0.08044916]::REAL[]),
        |(9, 8, [-0.008446019,-0.014072298,0.0065122745,0.022063576]::REAL[]),
        |(9, 9, [0.16654263,0.023517136,-0.09959952,0.20739558]::REAL[]),
        |(9, 10, [0.26944277,-0.07824284,0.16124481,-0.03250367]::REAL[]),
        |(9, 11, [-0.114900455,0.08698453,0.016509779,-0.13220076]::REAL[]),
        |(9, 12, [-0.12820186,-0.24680342,-0.06003205,-0.054287687]::REAL[]),
        |(9, 13, [-0.19677512,-0.18210208,-0.15646937,-0.10792144]::REAL[]),
        |(9, 14, [0.1548349,-0.28357974,-0.14350092,0.108098805]::REAL[]),
        |(9, 15, [0.12617685,-0.021917026,0.13128704,0.05138915]::REAL[]),
        |(9, 16, [0.053065427,-0.10817728,0.11202875,-0.03173846]::REAL[]),
        |(9, 17, [-0.24124956,-0.1853591,-0.020269752,0.18146291]::REAL[]),
        |(9, 18, [-0.06545182,0.009268091,-0.067677535,0.11009067]::REAL[]),
        |(9, 19, [0.047448024,0.17487466,0.023408486,0.09701629]::REAL[]),
        |(9, 20, [-0.16620126,-0.113551,0.10381284,0.024525803]::REAL[]),
        |(9, 21, [0.20272464,0.14026,0.099503614,-0.25078633]::REAL[]),
        |(9, 22, [-0.0713986,-0.24446625,-0.008915845,0.12823199]::REAL[]),
        |(9, 23, [-0.11974338,-0.1474718,0.2824562,0.0720676]::REAL[]),
        |(9, 24, [-0.14665784,0.12954418,-0.050950702,-0.01236111]::REAL[]),
        |(9, 25, [0.07515925,-0.0015290702,0.046507683,0.16193461]::REAL[]),
        |(9, 26, [-0.04140587,-0.17279044,0.076887876,0.062143102]::REAL[]),
        |(9, 27, [0.034045666,0.008815095,0.22827418,0.19022655]::REAL[]),
        |(9, 28, [-0.10667728,-0.114452966,0.03691867,-0.108475]::REAL[]),
        |(9, 29, [0.023459226,0.06964235,0.23720059,0.0053694462]::REAL[]),
        |(9, 30, [-0.30992502,0.16791454,-0.018297074,-0.12423021]::REAL[]),
        |(9, 31, [-0.024315547,-0.16838014,0.13369483,-0.1990984]::REAL[]),
        |(9, 32, [0.12139014,-0.16451108,0.010109318,0.060978875]::REAL[]),
        |(9, 33, [0.16431591,-0.08530591,-0.25139284,-0.03272693]::REAL[]),
        |(9, 34, [-0.06439656,0.2097531,0.06763391,0.0335475]::REAL[]),
        |(9, 35, [0.1927592,0.11275995,0.045029517,0.065948874]::REAL[]),
        |(9, 36, [-0.07148226,0.004093915,0.106679,0.03089714]::REAL[]),
        |(9, 37, [0.032915577,-0.0886,0.081268,0.057595093]::REAL[]),
        |(9, 38, [0.20655826,0.025723306,0.008861172,-0.047687013]::REAL[]),
        |(9, 39, [0.038095213,0.2618109,-0.097388804,-0.09667344]::REAL[]),
        |(9, 40, [0.119752444,-0.24897742,0.02834807,0.002339432]::REAL[]),
        |(9, 41, [-0.17480467,-0.06842455,-0.22565542,0.120375134]::REAL[]),
        |(9, 42, [0.099634334,0.025843501,-0.1047419,-0.08789088]::REAL[]),
        |(9, 43, [0.02937546,0.022081133,-0.0651722,0.104389384]::REAL[]),
        |(9, 44, [0.15302715,-0.19383326,-0.10671452,-0.0607109]::REAL[]),
        |(9, 45, [0.03394664,-0.16455868,-0.30570167,0.09170359]::REAL[]),
        |(9, 46, [0.047100257,-0.071368374,-0.18836424,0.03989496]::REAL[]),
        |(9, 47, [-0.13955103,0.018731829,-0.17096795,-0.04729949]::REAL[]),
        |(9, 48, [-0.15861183,0.16185811,-0.025148582,0.1705276]::REAL[]),
        |(9, 49, [0.04239101,0.067063905,0.089023225,0.017375715]::REAL[]),
        |(9, 50, [0.122278765,-0.08933687,0.29887256,-0.09812463]::REAL[]),
        |(9, 51, [0.12608242,-0.052547716,-0.03754036,0.077617854]::REAL[]),
        |(9, 52, [-0.16275023,-0.037672706,0.23998661,-0.13267967]::REAL[]),
        |(9, 53, [0.078100994,0.14781593,-0.20450589,0.024422549]::REAL[]),
        |(9, 54, [-0.31125927,0.0417732,0.16603974,0.058681857]::REAL[]),
        |(9, 55, [-0.057638478,-0.014780893,-0.084673814,-0.029056894]::REAL[]),
        |(9, 56, [-0.062005255,-0.17890918,0.014204253,0.20964138]::REAL[]),
        |(9, 57, [-0.14116442,-0.014177087,-0.025937578,-0.30204856]::REAL[]),
        |(9, 58, [-0.07486616,0.047698658,-0.26827276,-0.15339479]::REAL[]),
        |(9, 59, [-0.062200233,0.09955358,-0.090186045,0.02352068]::REAL[]),
        |(9, 60, [0.094028175,-0.050021384,0.011829182,-0.12710539]::REAL[]),
        |(9, 61, [0.013717935,-0.051175345,-0.121297464,-0.16831239]::REAL[]),
        |(9, 62, [-0.020794487,-0.12697564,-0.034470435,-0.02839984]::REAL[]),
        |(9, 63, [-0.0222145,-0.0429019,0.054266416,-0.09071496]::REAL[]),
        |(10, 0, [0.11744736,0.010072717,0.13588046,0.21838862]::REAL[]),
        |(10, 1, [0.07054207,-0.025996797,-0.00946126,-0.14785591]::REAL[]),
        |(10, 2, [-0.145892,-0.16510183,0.11345978,0.06374485]::REAL[]),
        |(10, 3, [0.028367002,-0.215014,-0.2008979,-0.11972495]::REAL[]),
        |(10, 4, [-0.12850499,0.13371508,-7.3408085E-4,0.006592979]::REAL[]),
        |(10, 5, [0.067115866,0.13319537,-0.11567684,0.27115205]::REAL[]),
        |(10, 6, [0.060774494,-0.18816906,-0.01737032,-0.17807649]::REAL[]),
        |(10, 7, [0.072993696,-0.09202127,0.25372863,0.0086551495]::REAL[]),
        |(10, 8, [-0.06956194,-0.19701384,-0.07448334,0.036230896]::REAL[]),
        |(10, 9, [-0.10166579,-0.10043573,-0.11655513,-0.02853628]::REAL[]),
        |(10, 10, [-0.22044978,-0.056550574,-0.13396521,0.12796177]::REAL[]),
        |(10, 11, [0.03542222,0.065073565,0.1768226,0.08876266]::REAL[]),
        |(10, 12, [0.04465192,0.10709808,-0.16294914,0.08070066]::REAL[]),
        |(10, 13, [0.16006884,-0.14075655,0.103558406,0.12444698]::REAL[]),
        |(10, 14, [-0.13156904,0.0076537146,-0.08684517,-0.0018807735]::REAL[]),
        |(10, 15, [-0.10295001,-0.04599488,0.022037184,0.09751142]::REAL[]),
        |(10, 16, [0.09799863,0.103668824,-0.10320338,-0.07947079]::REAL[]),
        |(10, 17, [-0.2181657,0.08406811,0.049011223,0.10635966]::REAL[]),
        |(10, 18, [-0.058269385,-0.035270326,-0.019995024,-0.24962176]::REAL[]),
        |(10, 19, [-0.027124088,-0.084972635,0.17048115,0.14750527]::REAL[]),
        |(10, 20, [-0.05187056,0.32018486,-0.011991579,0.052012745]::REAL[]),
        |(10, 21, [0.13287595,0.03421232,0.022988573,0.005909232]::REAL[]),
        |(10, 22, [-0.009536473,-0.10823262,-0.21424778,0.16465397]::REAL[]),
        |(10, 23, [0.09265115,0.15292756,-0.065010265,0.031743746]::REAL[]),
        |(10, 24, [0.054956608,-0.13190362,0.15834863,-0.17603256]::REAL[]),
        |(10, 25, [0.2867105,-0.08359852,-0.017732184,-0.067036025]::REAL[]),
        |(10, 26, [-0.27493635,0.02292087,-0.12689276,-0.10354361]::REAL[]),
        |(10, 27, [0.034408506,0.16483161,0.078600876,0.06438572]::REAL[]),
        |(10, 28, [0.10373567,0.08224029,-0.055137668,0.17628652]::REAL[]),
        |(10, 29, [0.1281261,-0.2336139,-0.06649362,0.06635382]::REAL[]),
        |(10, 30, [-0.10206323,-0.12544172,-0.042960368,0.24054247]::REAL[]),
        |(10, 31, [0.26553574,-0.22034658,0.06870545,-0.071625955]::REAL[]),
        |(10, 32, [0.00321799,0.19213033,-0.09434785,-0.16210425]::REAL[]),
        |(10, 33, [0.28862008,0.281002,0.092155136,0.035444316]::REAL[]),
        |(10, 34, [0.073544875,-0.012566603,-0.120913416,0.19131753]::REAL[]),
        |(10, 35, [-0.111301474,0.14180909,-0.13327275,0.121026166]::REAL[]),
        |(10, 36, [-0.18277018,0.16844326,0.088078804,-0.12263182]::REAL[]),
        |(10, 37, [-0.024201002,0.1442235,-0.2000535,-0.028174223]::REAL[]),
        |(10, 38, [-0.30204684,-0.032535255,0.12808856,0.10154501]::REAL[]),
        |(10, 39, [-0.06267199,0.13390326,-0.031481884,-0.07956766]::REAL[]),
        |(10, 40, [-0.02187991,3.4075865E-4,-0.17457785,-0.12740162]::REAL[]),
        |(10, 41, [0.1686165,0.17687304,0.23300621,-0.05749352]::REAL[]),
        |(10, 42, [0.302368,0.04685799,-0.065528765,-0.008443311]::REAL[]),
        |(10, 43, [-0.0048776474,0.14969227,0.15818305,-0.08470508]::REAL[]),
        |(10, 44, [0.12175209,-0.083661616,0.064483814,0.013138723]::REAL[]),
        |(10, 45, [0.23857985,0.12712434,0.0068048616,-0.102613986]::REAL[]),
        |(10, 46, [0.005725163,-0.0619765,-0.14900146,0.049231537]::REAL[]),
        |(10, 47, [-0.19851822,-0.006442176,0.017765855,0.016448984]::REAL[]),
        |(10, 48, [-0.0718473,0.011389122,-0.20396686,0.045491446]::REAL[]),
        |(10, 49, [0.09038371,-0.09635285,-0.10504673,-0.06567002]::REAL[]),
        |(10, 50, [0.03951688,0.042993624,0.08108496,-0.101680025]::REAL[]),
        |(10, 51, [-0.1445257,0.15852502,0.27452847,0.2985256]::REAL[]),
        |(10, 52, [-0.038464885,0.003842308,-0.011210902,-0.008983574]::REAL[]),
        |(10, 53, [-0.198751,-0.061287005,-0.033067513,-0.14148167]::REAL[]),
        |(10, 54, [0.07815332,-0.06591122,-0.010486164,0.094183095]::REAL[]),
        |(10, 55, [-0.15043162,0.12971275,-0.18335016,-0.16280928]::REAL[]),
        |(10, 56, [0.10067516,-0.08853923,0.044638228,0.30945534]::REAL[]),
        |(10, 57, [-0.1007751,-0.0056458963,0.15242586,-0.019473018]::REAL[]),
        |(10, 58, [-0.026550122,0.025115892,0.33321106,-0.057925876]::REAL[]),
        |(10, 59, [0.1633291,-0.17063485,0.029790005,0.019042147]::REAL[]),
        |(10, 60, [0.0031015258,0.04058773,-0.008691601,0.13522212]::REAL[]),
        |(10, 61, [0.011943497,-0.19569457,0.051260278,-0.045622256]::REAL[]),
        |(10, 62, [0.1584716,-0.0035707238,-0.109014906,-0.2819485]::REAL[]),
        |(10, 63, [0.22662877,-0.034517277,-0.074060895,0.20576783]::REAL[]),
        |(11, 0, [-0.18208905,-0.06595416,-0.1863638,0.005097085]::REAL[]),
        |(11, 1, [-0.03917927,-0.32347435,0.08545907,0.04345219]::REAL[]),
        |(11, 2, [-0.07471462,0.022947542,-0.07308947,-0.054357756]::REAL[]),
        |(11, 3, [0.15595222,-0.022637045,-0.11598908,0.21272075]::REAL[]),
        |(11, 4, [-0.0526144,0.12700088,-0.11403952,0.05879771]::REAL[]),
        |(11, 5, [0.11404312,0.012455276,0.20295596,-0.06938286]::REAL[]),
        |(11, 6, [0.03963289,0.21083745,0.11311365,-0.056623343]::REAL[]),
        |(11, 7, [-0.0324727,-0.16427052,-0.12254076,0.15046859]::REAL[]),
        |(11, 8, [-0.026179822,-0.117235795,0.08391087,-0.08868092]::REAL[]),
        |(11, 9, [-0.12545852,0.18160118,-0.025467154,-0.08469173]::REAL[]),
        |(11, 10, [0.13678801,-0.0050438093,0.046635102,-0.16615272]::REAL[]),
        |(11, 11, [-0.050589126,0.0851465,-0.09078451,-0.2207608]::REAL[]),
        |(11, 12, [0.046339698,-0.19560741,-0.13026088,-0.0209832]::REAL[]),
        |(11, 13, [-0.046111125,-0.28500685,-0.11437169,0.038002726]::REAL[]),
        |(11, 14, [-0.23585816,0.10815018,0.20300321,-0.0842068]::REAL[]),
        |(11, 15, [0.05650056,0.23600024,-0.05321275,0.10760394]::REAL[]),
        |(11, 16, [0.27106908,0.08978732,-0.042820506,-0.034919992]::REAL[]),
        |(11, 17, [-0.18112113,-0.054241862,0.15923136,0.14958927]::REAL[]),
        |(11, 18, [0.0051915105,-0.1801221,-0.041654132,-0.17114371]::REAL[]),
        |(11, 19, [0.018901521,-0.020288302,-0.0047529982,-0.0026259278]::REAL[]),
        |(11, 20, [0.18366459,-0.07359846,-0.072307274,-0.09387361]::REAL[]),
        |(11, 21, [-0.010626407,-0.16551995,0.016515557,0.07422448]::REAL[]),
        |(11, 22, [0.09387473,-8.3245675E-4,-0.1801639,-0.06384828]::REAL[]),
        |(11, 23, [-0.15257245,0.061624553,-0.04435319,0.02781664]::REAL[]),
        |(11, 24, [-0.21230122,0.054297682,-0.2782715,-0.18442215]::REAL[]),
        |(11, 25, [0.1865299,-0.18002564,-0.070624456,-0.19174379]::REAL[]),
        |(11, 26, [-0.0094810985,-0.076284185,-0.024191458,-0.1268134]::REAL[]),
        |(11, 27, [0.1872604,-0.06519601,0.11348267,0.135251]::REAL[]),
        |(11, 28, [-0.016180638,-0.057175957,0.06315668,0.12837054]::REAL[]),
        |(11, 29, [0.2513863,-0.06639037,-0.0074231373,-0.15041389]::REAL[]),
        |(11, 30, [-0.3355331,0.18678798,-0.024311662,-0.0069506466]::REAL[]),
        |(11, 31, [-0.1670176,-0.10247069,0.056530055,-0.2189499]::REAL[]),
        |(11, 32, [-0.043701164,0.18739885,-0.12584044,0.29249424]::REAL[]),
        |(11, 33, [0.12049558,-0.093858615,-0.08268533,0.06653245]::REAL[]),
        |(11, 34, [0.078014314,0.012769847,0.043791916,0.06468431]::REAL[]),
        |(11, 35, [0.10213674,0.12949984,0.0074291253,-0.22143771]::REAL[]),
        |(11, 36, [-0.11360782,0.042604066,-0.124438435,0.21048148]::REAL[]),
        |(11, 37, [-0.0026668191,0.09388859,-0.0067745554,0.124077216]::REAL[]),
        |(11, 38, [0.19148651,0.070996486,0.034734886,0.046041436]::REAL[]),
        |(11, 39, [0.1299902,0.09063581,-0.07054944,0.103286125]::REAL[]),
        |(11, 40, [-0.12037016,-0.21026528,0.075692244,-0.042076573]::REAL[]),
        |(11, 41, [-0.101631865,0.09206384,0.053003516,0.12952973]::REAL[]),
        |(11, 42, [-0.2401397,-0.21238238,-0.04233767,-0.12516314]::REAL[]),
        |(11, 43, [8.141927E-4,-0.018858984,-0.10682921,0.09326651]::REAL[]),
        |(11, 44, [-0.302799,0.06140503,-0.12175435,0.026961938]::REAL[]),
        |(11, 45, [-0.20122914,-0.030925533,0.033243705,0.065362886]::REAL[]),
        |(11, 46, [-0.05936202,-0.10447888,-0.1803509,-0.06203514]::REAL[]),
        |(11, 47, [-0.053599045,0.012815905,0.027500678,0.34902912]::REAL[]),
        |(11, 48, [-0.007340364,0.17803618,0.12326376,0.11673047]::REAL[]),
        |(11, 49, [-0.1084481,0.04943979,-0.27674353,0.18333986]::REAL[]),
        |(11, 50, [0.07922611,0.009635603,-0.24034296,0.07907701]::REAL[]),
        |(11, 51, [-0.08029114,-0.19580767,0.020382637,0.25283855]::REAL[]),
        |(11, 52, [0.14324637,0.100309946,0.12929182,0.15146828]::REAL[]),
        |(11, 53, [-0.048895467,0.0905457,0.109743044,-0.20239988]::REAL[]),
        |(11, 54, [0.049585305,0.20803165,0.0066255108,-0.0021399166]::REAL[]),
        |(11, 55, [-0.068216264,0.027065087,0.17375843,0.015410306]::REAL[]),
        |(11, 56, [0.1714012,0.113952376,-0.22012211,-0.0064864187]::REAL[]),
        |(11, 57, [0.0720584,-0.16897525,-0.29273224,0.02144903]::REAL[]),
        |(11, 58, [-0.14490642,-0.029121844,0.02914822,-0.06057663]::REAL[]),
        |(11, 59, [0.08901004,0.09070258,-0.09529171,-0.060583625]::REAL[]),
        |(11, 60, [-0.0676285,0.0644343,-0.19180013,0.0062295683]::REAL[]),
        |(11, 61, [0.11899831,-0.176267,0.071660966,0.00395374]::REAL[]),
        |(11, 62, [-0.12755279,-0.05856279,-0.040268034,0.057834085]::REAL[]),
        |(11, 63, [0.071808726,-0.17359349,0.11207516,-0.15385652]::REAL[]),
        |(12, 0, [0.0144824525,0.05050382,-0.17444971,-0.040417366]::REAL[]),
        |(12, 1, [0.006892065,-0.19468145,-0.04499688,-0.1358187]::REAL[]),
        |(12, 2, [0.051926482,-0.26408923,-0.04900135,0.09724883]::REAL[]),
        |(12, 3, [0.07485292,0.073984146,0.054261874,0.06837818]::REAL[]),
        |(12, 4, [0.2927952,-0.22740768,-0.04617454,0.0074535054]::REAL[]),
        |(12, 5, [-0.21675794,-0.040086456,0.15557547,0.069441706]::REAL[]),
        |(12, 6, [0.07603646,-0.118895076,0.041221432,0.018664476]::REAL[]),
        |(12, 7, [-0.07130047,0.10447298,-0.059182536,0.17080817]::REAL[]),
        |(12, 8, [0.004393171,0.10858857,0.1766663,0.15232427]::REAL[]),
        |(12, 9, [-0.17475489,-0.12713018,-0.10941841,0.17699003]::REAL[]),
        |(12, 10, [-0.1588539,-0.0775989,0.013312764,-0.14334129]::REAL[]),
        |(12, 11, [-0.0686375,-0.13209352,0.07246542,-0.0054526436]::REAL[]),
        |(12, 12, [0.18089102,0.15238273,-0.13960584,-0.06285701]::REAL[]),
        |(12, 13, [0.15044138,0.043843348,0.028940422,-0.021013148]::REAL[]),
        |(12, 14, [-0.07743965,-0.0046028304,-0.01647151,0.20127974]::REAL[]),
        |(12, 15, [-0.22348133,-0.13098305,-0.12665507,0.0039733667]::REAL[]),
        |(12, 16, [0.04288478,0.046541028,-0.056507464,0.043313462]::REAL[]),
        |(12, 17, [-0.027644701,0.035436917,0.13165267,-0.23373514]::REAL[]),
        |(12, 18, [0.09988883,-0.059247565,0.18528464,-0.09537724]::REAL[]),
        |(12, 19, [0.20359069,-0.035980087,0.12113178,-0.2382648]::REAL[]),
        |(12, 20, [-0.11285787,0.047213364,0.029833898,0.02782084]::REAL[]),
        |(12, 21, [3.4682988E-4,-0.028931033,0.10136802,-0.029461896]::REAL[]),
        |(12, 22, [0.16372721,-0.15849677,0.11127522,0.23684628]::REAL[]),
        |(12, 23, [0.018671745,-0.04429462,-0.18421525,0.17317355]::REAL[]),
        |(12, 24, [0.058237087,0.023563733,0.03709459,-0.1691329]::REAL[]),
        |(12, 25, [0.16606753,0.12987748,-0.1429721,0.13101782]::REAL[]),
        |(12, 26, [0.09329305,-0.013648115,-0.088332355,-0.22635087]::REAL[]),
        |(12, 27, [-0.06388171,-0.20559855,-0.1605476,-0.05564601]::REAL[]),
        |(12, 28, [-0.024890494,0.005272908,-0.028155154,-0.11468436]::REAL[]),
        |(12, 29, [-0.20481753,0.108207636,-0.0020794189,0.012137907]::REAL[]),
        |(12, 30, [-0.21946709,0.10354689,0.037857402,-0.17320418]::REAL[]),
        |(12, 31, [-0.035812587,0.27137893,0.12904947,0.004002224]::REAL[]),
        |(12, 32, [0.15781446,-0.060410913,-0.2073789,-0.0067894706]::REAL[]),
        |(12, 33, [0.017876683,-0.19998464,0.30075908,0.13478479]::REAL[]),
        |(12, 34, [0.14439772,-0.058103103,0.0047792657,-0.04557373]::REAL[]),
        |(12, 35, [0.087747365,-0.17966536,0.08813,-0.12152888]::REAL[]),
        |(12, 36, [0.052738488,0.14574054,-0.06315559,-0.27284235]::REAL[]),
        |(12, 37, [-1.9385909E-4,0.07738949,-0.0030796279,0.15482163]::REAL[]),
        |(12, 38, [-0.06544483,-0.050076064,-0.13916482,-0.0035580609]::REAL[]),
        |(12, 39, [-0.0043236297,-0.06710585,-0.06287522,-0.098542675]::REAL[]),
        |(12, 40, [0.1534307,-0.028990673,-0.094030686,0.19112195]::REAL[]),
        |(12, 41, [-0.011194015,0.17391178,0.038201064,0.036374368]::REAL[]),
        |(12, 42, [0.1970235,0.034251153,0.13948618,0.041899465]::REAL[]),
        |(12, 43, [-0.014210553,-0.08739502,-0.013826503,0.08840787]::REAL[]),
        |(12, 44, [-0.04436573,-0.11285686,0.13003139,0.22321834]::REAL[]),
        |(12, 45, [0.063775346,-0.01737662,0.07988955,0.14711837]::REAL[]),
        |(12, 46, [-0.20764324,0.08640336,-0.12531918,-0.047620814]::REAL[]),
        |(12, 47, [0.1925408,0.1404174,0.09493041,-0.1200552]::REAL[]),
        |(12, 48, [-0.0196082,-0.06764216,0.21228829,0.025489893]::REAL[]),
        |(12, 49, [-0.24133852,0.05063933,0.031407785,0.20763402]::REAL[]),
        |(12, 50, [-0.09281406,0.070520304,-0.063356884,-0.020744191]::REAL[]),
        |(12, 51, [0.034416877,-0.08581277,-0.20512801,-0.1479848]::REAL[]),
        |(12, 52, [-0.017158207,0.17456791,-0.24910502,-0.020863935]::REAL[]),
        |(12, 53, [0.085186325,0.22321387,0.03756679,-0.021276373]::REAL[]),
        |(12, 54, [0.054326173,0.10145534,0.090184115,-0.044710726]::REAL[]),
        |(12, 55, [0.3214108,-0.17683372,0.15186949,-0.08563414]::REAL[]),
        |(12, 56, [-0.16886917,-0.08112508,0.0019149124,0.048130732]::REAL[]),
        |(12, 57, [-0.019014655,0.135988,0.289271,-0.25483245]::REAL[]),
        |(12, 58, [-0.095170185,0.11786829,0.153506,0.057636745]::REAL[]),
        |(12, 59, [0.19250831,0.054308224,-0.0838459,-0.09136224]::REAL[]),
        |(12, 60, [-0.1699746,-0.2569167,0.08251356,-0.03470724]::REAL[]),
        |(12, 61, [-0.032197032,0.13718365,0.15763693,-0.08819603]::REAL[]),
        |(12, 62, [-0.12386282,0.11133808,-0.16539696,0.08717655]::REAL[]),
        |(12, 63, [-0.121285416,0.024884803,-0.1710594,-0.16946556]::REAL[]),
        |(13, 0, [0.21672463,0.008104637,0.2022971,-0.09925767]::REAL[]),
        |(13, 1, [0.027627446,0.20482771,-0.0840693,0.05549041]::REAL[]),
        |(13, 2, [0.05530688,0.018056408,0.07173551,0.20472564]::REAL[]),
        |(13, 3, [0.023161395,0.10934954,-0.025752638,-0.14536642]::REAL[]),
        |(13, 4, [-0.07215273,0.19730899,-0.14873213,-0.21419752]::REAL[]),
        |(13, 5, [0.02808882,0.25186655,0.12434646,0.046141297]::REAL[]),
        |(13, 6, [0.2203804,-0.13563547,-0.12975018,0.14954934]::REAL[]),
        |(13, 7, [-0.089777894,0.050828427,0.19707192,0.104444146]::REAL[]),
        |(13, 8, [-0.051046424,-0.2672615,-0.121279255,-0.040416323]::REAL[]),
        |(13, 9, [-0.02054348,0.016625095,-0.075823,-0.04857235]::REAL[]),
        |(13, 10, [-0.19223723,-0.09588399,0.1625569,-0.003920991]::REAL[]),
        |(13, 11, [0.2580953,-0.021079399,0.17984292,0.049943693]::REAL[]),
        |(13, 12, [0.07795841,-0.08834717,-0.12537311,-0.12447088]::REAL[]),
        |(13, 13, [0.14026198,-0.032039795,0.07054031,0.114973284]::REAL[]),
        |(13, 14, [0.044234343,0.1303983,0.17001319,-0.017695442]::REAL[]),
        |(13, 15, [-0.078575574,0.1166587,0.06287565,0.12234961]::REAL[]),
        |(13, 16, [-0.030727435,-0.13906206,0.10114227,0.20026144]::REAL[]),
        |(13, 17, [0.08755869,0.19665967,0.057864156,-0.056399122]::REAL[]),
        |(13, 18, [-0.09309848,0.09414847,0.17669946,-0.011809425]::REAL[]),
        |(13, 19, [0.055232555,-0.036902357,0.016977193,-0.036307298]::REAL[]),
        |(13, 20, [-0.092909925,0.05567983,0.03564576,-0.11588437]::REAL[]),
        |(13, 21, [0.12790869,0.07046001,-0.040772606,0.031617027]::REAL[]),
        |(13, 22, [0.10075182,0.03471339,-0.18486503,0.042179167]::REAL[]),
        |(13, 23, [-0.03875756,-0.147815,0.020271273,-0.037509467]::REAL[]),
        |(13, 24, [0.07565914,-0.104396366,0.1467264,-0.21170862]::REAL[]),
        |(13, 25, [0.214015,-0.111287504,0.094138786,-0.22626962]::REAL[]),
        |(13, 26, [-0.0014781695,-0.09752727,-0.17300797,0.020037508]::REAL[]),
        |(13, 27, [-0.28086615,0.0056844377,-0.10470699,-0.094735704]::REAL[]),
        |(13, 28, [0.2015101,0.091817334,0.1087426,-0.04334659]::REAL[]),
        |(13, 29, [0.055179935,0.0702085,-0.063897796,0.20949487]::REAL[]),
        |(13, 30, [-0.21767426,0.1096949,0.28737143,0.009916044]::REAL[]),
        |(13, 31, [-0.009127821,-0.12537688,0.01963828,-0.18060431]::REAL[]),
        |(13, 32, [-0.049627014,-0.13048528,-0.18087609,0.16780682]::REAL[]),
        |(13, 33, [-0.01976075,0.013965513,-0.22957087,-0.32844406]::REAL[]),
        |(13, 34, [0.015544478,0.039201185,-0.06519903,0.087090895]::REAL[]),
        |(13, 35, [-0.08533462,-0.00507075,-0.12730761,-0.25526053]::REAL[]),
        |(13, 36, [0.11374679,-0.21339421,0.20512378,-0.06349368]::REAL[]),
        |(13, 37, [-0.09705032,-0.030528242,0.012491106,0.11559738]::REAL[]),
        |(13, 38, [-0.043945,0.095146,-0.2044935,-0.07577828]::REAL[]),
        |(13, 39, [-0.065746896,0.02979792,-0.13152853,0.14021313]::REAL[]),
        |(13, 40, [0.23211579,0.1126918,-0.11546028,-0.01880366]::REAL[]),
        |(13, 41, [-0.17333314,-0.09530653,0.035215005,-0.20426448]::REAL[]),
        |(13, 42, [-0.17152785,-0.122348696,-0.075596005,0.039893966]::REAL[]),
        |(13, 43, [-0.22070469,0.112883456,-0.12647441,0.057144158]::REAL[]),
        |(13, 44, [0.12772436,-0.105909884,0.3670001,0.080993645]::REAL[]),
        |(13, 45, [0.044780552,-0.08704734,0.01334202,0.098039165]::REAL[]),
        |(13, 46, [0.0024947538,-0.09931878,0.20029798,0.019453803]::REAL[]),
        |(13, 47, [-0.19029453,0.11194493,0.3057669,-0.080147415]::REAL[]),
        |(13, 48, [0.10906606,-0.14181408,0.032906916,-0.03982058]::REAL[]),
        |(13, 49, [0.0077805077,-0.013245518,0.0901792,0.04736608]::REAL[]),
        |(13, 50, [0.2552464,-0.039047483,-0.04035354,-0.042092826]::REAL[]),
        |(13, 51, [0.17703691,-0.070620686,0.09784441,0.011734936]::REAL[]),
        |(13, 52, [-0.16478053,0.028903529,0.03210532,0.034831032]::REAL[]),
        |(13, 53, [0.0911974,0.053352006,0.0891664,-0.06892835]::REAL[]),
        |(13, 54, [-0.28366184,0.102511935,0.06695647,-0.014481962]::REAL[]),
        |(13, 55, [0.09026983,-0.13583966,0.16012342,0.120767854]::REAL[]),
        |(13, 56, [0.09356622,-0.17625771,-0.042887002,0.032811992]::REAL[]),
        |(13, 57, [0.20669304,-0.120527595,0.18229277,0.21963401]::REAL[]),
        |(13, 58, [0.15022951,0.030067738,-0.016527746,-0.10598144]::REAL[]),
        |(13, 59, [-0.013497702,0.09640694,0.023998594,-0.0016611995]::REAL[]),
        |(13, 60, [-0.073164105,0.1743888,0.07617125,-0.14522576]::REAL[]),
        |(13, 61, [-0.029866321,0.015556913,0.19495314,-0.14028576]::REAL[]),
        |(13, 62, [-0.18696557,0.2196879,0.032344494,0.17650576]::REAL[]),
        |(13, 63, [0.04358692,0.15447722,0.13849682,0.15461695]::REAL[]),
        |(14, 0, [0.15334308,-0.10622833,0.047019754,0.17170851]::REAL[]),
        |(14, 1, [-0.09360562,-0.06487863,0.22412063,-0.043208662]::REAL[]),
        |(14, 2, [-0.07987342,-0.032063354,-0.04608042,0.12055781]::REAL[]),
        |(14, 3, [0.1388025,-0.14434585,-0.110357285,0.10822202]::REAL[]),
        |(14, 4, [0.17286532,-0.011721005,0.21059272,-0.11478043]::REAL[]),
        |(14, 5, [0.10311422,0.0847427,0.18447462,0.05027177]::REAL[]),
        |(14, 6, [0.10405039,0.03915464,-0.009054851,-0.10278258]::REAL[]),
        |(14, 7, [0.0038279316,-0.067774855,0.12310647,0.18098108]::REAL[]),
        |(14, 8, [-0.17559084,0.07927671,-0.13515824,0.14756492]::REAL[]),
        |(14, 9, [-0.04774912,-0.148317,7.249618E-4,0.069801986]::REAL[]),
        |(14, 10, [-0.1581926,0.195185,0.09514152,0.12388445]::REAL[]),
        |(14, 11, [-0.09131634,-0.01728522,-0.27213115,-0.026449988]::REAL[]),
        |(14, 12, [0.100341804,0.023033803,-0.10318832,-0.25874168]::REAL[]),
        |(14, 13, [0.05826813,0.03312157,-0.105531916,0.053311486]::REAL[]),
        |(14, 14, [0.13243699,0.1687428,0.087506376,0.183587]::REAL[]),
        |(14, 15, [-0.05507896,0.0029877315,0.3970073,0.15936254]::REAL[]),
        |(14, 16, [0.093171224,0.16464375,-0.26411602,-0.09859273]::REAL[]),
        |(14, 17, [-0.060545776,-0.049804997,-0.2482509,0.10224959]::REAL[]),
        |(14, 18, [0.04478224,-0.23895535,-0.19566955,-0.047214612]::REAL[]),
        |(14, 19, [-0.039425917,-0.09458829,-0.12500176,-0.036293402]::REAL[]),
        |(14, 20, [0.014078953,-0.008347737,0.27028984,0.028001143]::REAL[]),
        |(14, 21, [0.07409665,0.19193648,-0.062094845,0.03268813]::REAL[]),
        |(14, 22, [0.022282489,-0.1940442,-0.13041598,0.084531635]::REAL[]),
        |(14, 23, [0.08662187,0.05648439,0.009706053,0.11894914]::REAL[]),
        |(14, 24, [-0.08398873,-0.023632765,-0.115155,-0.23674478]::REAL[]),
        |(14, 25, [0.18446265,0.041278165,-0.12785406,0.045906216]::REAL[]),
        |(14, 26, [-0.2786287,0.05453548,0.12783116,-0.03158678]::REAL[]),
        |(14, 27, [0.09983096,-0.045334,7.865769E-4,0.02092746]::REAL[]),
        |(14, 28, [-0.08997303,0.21490282,-0.20579706,-0.1345652]::REAL[]),
        |(14, 29, [-0.043485407,0.044500124,0.2563136,0.26667905]::REAL[]),
        |(14, 30, [-0.119132474,0.037744567,0.108274624,-0.03923844]::REAL[]),
        |(14, 31, [-0.10846737,-0.16136399,-0.17994533,0.08958338]::REAL[]),
        |(14, 32, [-0.011251627,0.08152295,-0.22601165,0.17724703]::REAL[]),
        |(14, 33, [0.045940913,0.12719701,0.3910592,-0.10861357]::REAL[]),
        |(14, 34, [-0.20198828,-0.0038811865,-0.023287663,0.04776256]::REAL[]),
        |(14, 35, [-0.06602175,-0.17600468,-0.07577326,-0.1467519]::REAL[]),
        |(14, 36, [0.050946884,-0.20868112,0.0934356,0.0139153]::REAL[]),
        |(14, 37, [-0.05699874,0.07858533,0.00762485,-0.14589079]::REAL[]),
        |(14, 38, [0.16680324,-0.060556218,0.12019814,0.023432992]::REAL[]),
        |(14, 39, [0.18361838,-0.09235264,0.053862557,-0.12336444]::REAL[]),
        |(14, 40, [0.091988556,-0.24207145,-0.02471719,-0.07477027]::REAL[]),
        |(14, 41, [-0.07555961,-0.13728535,0.11240482,0.1282481]::REAL[]),
        |(14, 42, [-0.1554281,0.17646548,0.248456,-0.1403273]::REAL[]),
        |(14, 43, [0.10036362,0.121759996,0.09849135,-0.23235652]::REAL[]),
        |(14, 44, [-0.124688566,-0.095871426,-0.010721065,-0.032355618]::REAL[]),
        |(14, 45, [-0.06822372,0.060125403,0.10182962,0.18475632]::REAL[]),
        |(14, 46, [0.25716415,-0.05681181,-0.015684908,0.023605695]::REAL[]),
        |(14, 47, [-0.0083612455,-0.1929733,0.109933116,-0.19113994]::REAL[]),
        |(14, 48, [0.042747624,-0.09225573,-0.24593146,-0.015098814]::REAL[]),
        |(14, 49, [-0.19077633,-0.15069619,-0.1445924,-0.06673995]::REAL[]),
        |(14, 50, [-0.2548859,-0.10474236,0.03361787,-0.20226966]::REAL[]),
        |(14, 51, [0.023468742,-0.022582235,-0.07879484,-0.12723301]::REAL[]),
        |(14, 52, [-0.18246464,-0.019839033,0.12957622,-0.15065205]::REAL[]),
        |(14, 53, [0.13874823,0.3692582,0.012115795,-0.1796198]::REAL[]),
        |(14, 54, [-0.010438431,0.065461926,-0.02173219,0.22137234]::REAL[]),
        |(14, 55, [0.044672757,-0.104141995,-0.079681195,0.26852235]::REAL[]),
        |(14, 56, [-0.07291596,0.08819019,0.064929344,0.10208925]::REAL[]),
        |(14, 57, [0.16335803,-0.07268518,-0.24517274,-0.07329037]::REAL[]),
        |(14, 58, [-0.020753978,-0.07036832,0.08644892,-0.07213277]::REAL[]),
        |(14, 59, [-0.19831766,0.058005486,-0.08500259,-0.09484664]::REAL[]),
        |(14, 60, [-0.06802402,0.036282215,-0.1520559,-0.0060511897]::REAL[]),
        |(14, 61, [-0.032262813,0.18079337,0.01654831,-0.03244577]::REAL[]),
        |(14, 62, [-0.01840608,0.061249048,0.0030243928,0.017719002]::REAL[]),
        |(14, 63, [0.18576999,0.18202047,0.10174782,-0.03635736]::REAL[]),
        |(15, 0, [0.20400304,-0.07981866,-0.064217485,0.028778298]::REAL[]),
        |(15, 1, [-0.043800138,0.031969097,0.06747122,0.15666473]::REAL[]),
        |(15, 2, [0.112973236,0.021335812,-0.1782901,-0.11083993]::REAL[]),
        |(15, 3, [-0.10135547,0.022676302,0.08689794,0.05020842]::REAL[]),
        |(15, 4, [-0.002837043,-0.0037133675,-0.10554362,-0.03887035]::REAL[]),
        |(15, 5, [-0.19160725,0.15160988,-0.09112802,-0.04922519]::REAL[]),
        |(15, 6, [0.007968958,0.13609363,-0.051126786,0.038652223]::REAL[]),
        |(15, 7, [-0.0059299786,-0.077617325,-0.0887952,0.15566197]::REAL[]),
        |(15, 8, [-0.06226316,-0.27600712,0.07219498,-0.11696547]::REAL[]),
        |(15, 9, [-0.12833714,0.15431915,0.20595215,-0.022407755]::REAL[]),
        |(15, 10, [-0.013007921,0.18865347,-0.17128848,-0.077378914]::REAL[]),
        |(15, 11, [0.18735251,0.03532086,-0.02411509,0.32059845]::REAL[]),
        |(15, 12, [0.0804442,-0.015058642,0.11893446,0.08717363]::REAL[]),
        |(15, 13, [0.14072987,0.23514494,0.19080018,0.13398007]::REAL[]),
        |(15, 14, [-0.10309758,0.10229679,-0.21117869,0.058893614]::REAL[]),
        |(15, 15, [-0.1898409,-0.02488252,-0.13146909,-0.04835788]::REAL[]),
        |(15, 16, [0.07043891,0.12387402,0.089081585,0.118040316]::REAL[]),
        |(15, 17, [-2.4820413E-4,-0.15972582,0.013046095,-0.17572507]::REAL[]),
        |(15, 18, [0.14013922,0.03682154,-0.20306046,0.0747964]::REAL[]),
        |(15, 19, [0.027672876,0.07734642,0.18212897,-0.018074648]::REAL[]),
        |(15, 20, [0.0049750535,-0.0032967469,0.25915584,0.09641153]::REAL[]),
        |(15, 21, [-0.069001906,-0.10559581,0.16946848,0.034167103]::REAL[]),
        |(15, 22, [0.18212798,-0.09895588,-0.0524063,-0.090321764]::REAL[]),
        |(15, 23, [0.10005282,0.13796152,0.103968754,-0.26881638]::REAL[]),
        |(15, 24, [-0.10673468,-0.07818159,0.08737748,-0.1393808]::REAL[]),
        |(15, 25, [0.17066786,-0.11964902,0.19884746,0.085628934]::REAL[]),
        |(15, 26, [-0.2088412,-0.2493124,-0.008765101,0.17393202]::REAL[]),
        |(15, 27, [-0.064244695,0.04319378,-0.01494128,-0.097119085]::REAL[]),
        |(15, 28, [0.026955567,0.24345766,0.021050582,-0.18532434]::REAL[]),
        |(15, 29, [-0.042439025,-0.0029328344,0.08951151,-0.3183884]::REAL[]),
        |(15, 30, [-0.085533425,-0.0136106,-0.024758928,0.08960255]::REAL[]),
        |(15, 31, [0.053163927,0.01983045,0.043137025,-0.01369872]::REAL[]),
        |(15, 32, [-0.0098168235,-0.13645756,0.08938097,0.1691143]::REAL[]),
        |(15, 33, [0.02947297,-0.17330658,-0.015966184,0.01611509]::REAL[]),
        |(15, 34, [-0.14305547,0.10186469,0.08026194,0.22830245]::REAL[]),
        |(15, 35, [0.12215434,-0.21933755,-0.03922808,-0.090045296]::REAL[]),
        |(15, 36, [-0.1691031,0.12808797,-0.008016394,-0.19770426]::REAL[]),
        |(15, 37, [-0.053812124,-0.06937383,0.24884114,-0.10149802]::REAL[]),
        |(15, 38, [0.074335754,0.008361369,0.010744013,-0.17095068]::REAL[]),
        |(15, 39, [-0.05646702,-0.08245778,-0.013786762,0.011510341]::REAL[]),
        |(15, 40, [0.061914463,-0.17145048,-0.16456611,-0.07170587]::REAL[]),
        |(15, 41, [0.11927516,-0.09240354,-0.023504611,0.11666989]::REAL[]),
        |(15, 42, [0.14687903,0.22492684,0.050115176,0.029632477]::REAL[]),
        |(15, 43, [0.05146509,-0.16682597,0.11280208,-0.0132397665]::REAL[]),
        |(15, 44, [-0.010430947,0.033064906,-0.15634815,-0.21873741]::REAL[]),
        |(15, 45, [0.08866623,0.033394817,-0.029453024,0.17362636]::REAL[]),
        |(15, 46, [0.018644316,-0.22776811,-0.12860453,0.09892772]::REAL[]),
        |(15, 47, [0.23158307,-0.07273661,0.11506749,-0.09244647]::REAL[]),
        |(15, 48, [-0.13964462,0.053008147,-0.1013895,0.14178051]::REAL[]),
        |(15, 49, [-0.086181946,0.26557514,0.035977297,0.0642685]::REAL[]),
        |(15, 50, [-0.020736197,0.22643909,0.11298104,-0.013959461]::REAL[]),
        |(15, 51, [-0.2336144,0.013953751,0.009502731,0.0151607515]::REAL[]),
        |(15, 52, [-0.055963725,-0.23674543,0.11223698,0.002911524]::REAL[]),
        |(15, 53, [-0.23068044,-0.08032554,0.16451527,-0.09100689]::REAL[]),
        |(15, 54, [-0.0783988,-0.2025619,-0.07986276,-0.0938776]::REAL[]),
        |(15, 55, [0.073894195,0.15537536,0.0042792815,-0.061977144]::REAL[]),
        |(15, 56, [0.08160225,-0.00905889,0.19755815,-0.088003024]::REAL[]),
        |(15, 57, [0.21616778,0.08893188,0.009107959,-0.016016956]::REAL[]),
        |(15, 58, [0.070739925,-0.17164263,0.028002245,-0.29036236]::REAL[]),
        |(15, 59, [0.057155542,0.14749742,-0.10227165,-0.099358216]::REAL[]),
        |(15, 60, [-0.15472877,-0.16504726,-0.10993759,-0.04151718]::REAL[]),
        |(15, 61, [-0.06232523,-0.009701152,0.19184051,0.2933486]::REAL[]),
        |(15, 62, [-0.16875386,0.0046620155,0.022457397,-0.07102474]::REAL[]),
        |(15, 63, [-0.10909046,-0.17850286,-0.25513527,0.030705906]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |codes AS (
        |  SELECT id, sub, cent AS code FROM (
        |    SELECT b.id, c.sub, c.cent, row_number() OVER (PARTITION BY b.id, c.sub ORDER BY
        |      list_sum(list_transform(list_zip(b.v[c.sub*4+1:c.sub*4+4], c.cb),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cent) AS rn
        |    FROM b, cbs c) t WHERE rn = 1),
        |lut AS ( -- per (qid, sub, cent): double ||q_j - cb||^2
        |  SELECT q.vec_id AS qid, c.sub, c.cent,
        |    list_sum(list_transform(list_zip(q.embedding[c.sub*4+1:c.sub*4+4], c.cb),
        |      x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))) AS sd
        |  FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cbs c),cents(cid, cv) AS (VALUES
        |(0, [3.976001E-4,0.028297238,-0.03635965,0.009380843,-0.009109747,-0.025437439,0.024678871,-0.038039044,0.010667889,-0.060485713,0.033288997,-0.03938557,-0.008634382,0.051888857,-0.070540234,-0.023659004,0.10935156,0.037691243,-0.020817585,-0.024977293,0.03683957,-0.015296038,0.070435435,-0.11328855,-0.0017905023,-0.0020132852,-0.004942073,0.033165585,-0.08863541,-0.012735062,-0.08754079,0.056902893,-0.017311713,-0.04438014,-0.01465772,0.025549749,0.0024049846,-0.03159369,0.0069407746,0.04164316,0.020785682,0.04870036,-0.04820819,-0.0765654,0.008866418,-0.045202,0.02520875,0.0053051356,0.009504603,-0.059140284,-0.022915589,0.058860157,-0.004384404,-0.012590272,0.074882075,-0.057023097,-0.06409937,0.0034846074,-0.011082796,0.019883089,-0.0013891011,0.0034190915,0.060604468,-0.0060799844]::REAL[]),
        |(1, [0.008359272,0.060080968,0.03184555,-0.0056618187,0.07222243,0.051034335,-0.049216557,-0.007968933,-0.06231409,0.048589528,-0.017324317,0.042530492,0.033902634,0.080413625,-0.0062259533,0.031396985,-0.033318963,-0.025283217,-0.027597263,0.01480435,-0.02891756,-0.03750445,-0.022482494,-0.06621947,0.024813285,0.0544805,-0.028094416,0.015448729,-0.05434001,0.00318308,0.020199137,-0.07716253,0.006087762,0.026632814,-0.020634651,-0.016442956,0.025486456,0.029430877,0.033655047,0.02441111,0.010800855,-0.03607063,-0.0043094563,-0.015938273,7.861068E-5,-0.0481812,0.024680857,-0.029986767,0.047657892,0.058578055,0.03789119,-0.032064136,0.021277333,0.012731777,0.013166181,-0.014346622,0.085697226,-0.03464635,-0.037695866,-0.036775947,0.08361625,-0.08642981,0.0046992037,-0.0057371496]::REAL[]),""".stripMargin,
      """(2, [-0.01844507,-0.02256356,-0.06953005,-0.023240875,0.08684007,0.0914795,0.055580284,-0.012617236,-0.029835943,-0.04242027,0.035535593,-0.009868543,-0.015970197,-0.020177249,0.041802835,-0.09409,0.010807619,-0.023519482,0.034826115,0.012929687,0.05966658,-0.067652345,-0.07818938,0.014800565,0.026694568,0.050169367,0.041076835,0.058571495,-0.0015404437,0.007950587,0.024057547,-0.005419116,0.03207465,-0.030794984,0.035395976,0.0029795081,-0.03950219,0.027286049,0.026999077,-0.031908855,-0.08328178,-0.02200855,0.012866052,0.046322495,0.05069378,0.047360986,-0.038416654,-0.10167669,0.03826236,-0.01724514,-0.0017332471,-0.054817125,-0.03995014,0.03127895,0.033283163,0.021733949,0.0831054,-0.017397773,0.016854225,0.028358923,0.04710489,-0.044251915,0.057152633,-0.04708653]::REAL[]),
        |(3, [0.102064565,-0.0069968533,0.012800971,-0.07167313,0.07444391,0.012768217,-0.0748594,0.012918701,0.016182728,-0.054661307,0.070437886,-0.06160538,0.0069055324,0.017327514,-0.026446221,0.11281004,0.024102954,0.042696424,-0.01729222,0.011779977,-0.050743133,0.0042556375,0.0053622844,0.03157169,-0.019312961,-0.029734448,0.030015398,0.033585694,0.046456087,-0.057676364,0.046169367,0.031931307,0.025283262,-0.028854106,0.04856891,-0.053302057,-0.056079846,-0.05893087,0.005899067,-0.018722115,-0.02061769,-0.033902597,0.038833976,0.016220842,-0.012594262,-0.009879089,0.029897697,-0.0038829353,0.05571742,0.016811289,-0.0023034883,-0.025743501,0.08259702,-0.036126196,0.028515564,0.0029221964,-0.028032525,0.032771844,0.030288298,-0.049233384,-0.044415846,0.015200411,0.035748515,0.0640712]::REAL[]),
        |(4, [-0.045071274,-0.057621308,0.00470594,-0.028427409,0.010577925,0.0020643366,0.0030443773,0.030271063,0.06781996,0.06693981,-0.010411105,-0.03287793,0.022112258,-0.0920138,0.09686792,-0.03091986,0.04703801,-0.032777086,0.03977684,0.020655159,0.022004057,-0.0057500293,0.002778062,-0.013420849,-0.010384327,0.032439973,0.050919276,-0.045315374,0.0040542553,-0.0535026,-0.0023021316,0.040078286,0.072379954,-0.016619515,0.0212618,-0.095986284,-0.013969665,0.011349328,-0.05222839,-0.019108197,0.0033137945,-0.023999205,-0.040043715,0.017808456,0.0078592105,0.025575822,-0.026065467,0.05833019,0.0010988177,-2.3226398E-4,-0.011959542,-0.014244624,0.074541144,-0.045908608,-0.04256846,-0.011612557,0.041253675,-0.021052716,0.040330485,-0.034828596,-0.040610105,0.048562936,-0.06615247,-0.054079827]::REAL[]),
        |(5, [-0.036802832,-0.07970984,0.010175653,0.033520576,0.0019681412,0.014898777,-0.04537918,0.07532346,-0.013869546,0.026446076,0.036149327,0.03021399,-0.011724245,0.012907165,-0.045805085,-0.04560446,-0.12365304,-0.03253967,-0.053021926,-0.011837741,-0.0138035165,0.01648638,0.04421658,-0.045227762,-0.03932084,0.02706602,-0.019117707,-0.0045875898,-0.003764507,-0.016906084,0.00908303,0.009660759,0.004637516,0.04342523,0.0761766,0.091382645,-0.04745479,0.023597902,0.029717358,-0.04081729,-0.054080967,-0.083059795,-0.0072128777,-7.131163E-4,0.016583841,-0.03297849,0.01647399,0.07859101,-0.016999898,-0.033240594,0.0042445064,-0.017960563,-0.012879525,0.03842349,-0.0136261415,-0.023117376,-0.055217475,-0.055819217,-0.022269065,-0.0043935515,-0.016654627,0.049902894,-0.048492625,-0.042215925]::REAL[]),
        |(6, [0.013466209,-0.042904153,0.042477332,-0.010227932,0.06610928,-0.08960638,-0.05824776,0.09722493,-0.052684724,0.12983476,0.024039803,-0.008953316,0.077392586,0.015048835,-0.034597486,-0.04612628,0.06131181,-0.01216272,-0.04209484,0.038224302,0.020744625,-0.019144693,0.034510255,0.029608011,0.08201297,0.025442395,-0.033755377,0.01684503,0.012245171,0.1239683,0.0342624,-0.07191438,0.048022225,0.021343596,0.0043778787,-0.0034581441,-0.027076015,0.014719994,-7.6361075E-6,0.049479246,-0.06339765,0.042955857,-0.018386057,0.004471063,-0.04481163,-0.045706294,-0.0303199,-0.036038432,0.020856244,0.012608098,0.060139712,0.097314045,-0.009156231,0.042162545,-0.010446251,-0.037139542,-0.016165743,-0.019707583,0.010787154,0.02973125,-0.022876702,0.03270833,0.0038668977,-0.005150107]::REAL[]),
        |(7, [0.0730371,0.013020755,0.024054889,0.031864595,0.088987224,-0.015275471,-0.09232465,0.009167585,-0.029220069,-0.046588387,0.04021698,0.011006755,-0.039308555,-0.03348064,0.024561502,0.061083548,-0.0058210245,0.0059133507,-5.9794646E-4,0.0024032826,0.020402363,-0.023590263,0.016465912,-4.0554924E-6,-0.018109495,0.039838616,-0.03640714,-0.007153099,0.06674157,5.5913307E-4,-0.01615549,0.03513253,-0.029352456,-0.017819941,-0.02422248,-0.03521332,-0.045198675,0.087121405,-0.061626047,-0.03736578,-0.010285021,-0.041728083,0.019712977,0.016591592,-0.104177706,0.025423804,-0.04550773,-0.023338027,-0.010873546,-0.038420208,0.025321431,0.03598216,-0.12894745,-0.005235948,-0.06644037,-0.03709317,0.074448235,0.06327438,0.03255707,0.01056316,0.08486752,0.0016224174,-0.053819567,0.046196803]::REAL[]),
        |(8, [-0.026988689,0.005676072,0.06782535,0.024456996,-0.046086337,-0.043952443,0.002179633,0.033751138,0.0041119666,-0.018524887,-0.074581414,0.0054647564,0.07055409,-0.02212543,0.072443716,0.05354723,-0.06561099,-0.043461844,-0.011281722,0.02830383,0.022794986,-0.040238257,-0.023748746,-0.016152153,0.08208422,0.049374044,-0.07401946,0.0036870013,0.015724914,0.062043484,0.04140938,-0.008525177,0.04211752,0.06742721,0.052381236,-0.029699845,0.0311374,-0.08147927,-0.11785748,-0.051154714,0.044584382,-0.004362243,0.016509607,0.045911286,-0.08142972,0.004555513,-0.03975339,0.029077321,-0.084855475,-0.022218805,4.4706746E-4,0.06384465,-0.03552817,-0.021320144,0.050283812,-0.0027536019,-0.007825387,-0.031355135,-0.015163805,0.060551215,-0.010323944,-0.051286574,0.059319675,-0.008877228]::REAL[]),
        |(9, [-0.021388657,-0.03833954,0.010488234,0.012838276,-0.018751947,0.05869963,0.015904548,-0.011526354,0.010039316,0.024103524,0.0012205105,0.067073315,0.0015444893,-0.028763095,-0.03773328,-0.013045459,0.10519724,-0.015350813,-8.191451E-4,-0.023473792,-0.06039969,0.020592323,-0.043630414,-0.050690085,0.03831456,0.041279532,0.06327995,0.02003199,0.0496711,-0.038714822,-0.058313925,0.016609458,0.030466363,-0.007273059,-0.05157916,0.088247605,-0.018129945,-0.021840198,0.05168867,0.018610615,0.06520981,-0.029866936,-0.0044151205,0.013927938,-0.04570822,-1.8431572E-4,-0.052126337,0.050922595,-0.023193838,-0.011714378,-0.032172486,-0.060620833,0.014884973,0.007199496,0.030895568,0.0038718958,-0.02172564,0.11099188,0.019912688,-0.07435928,-0.06544074,0.039071813,-0.03411504,-0.009885601]::REAL[]),
        |(10, [0.0071370993,0.019658236,-0.0045523485,-0.04833168,0.03178797,-0.010474304,0.015751988,4.9144845E-4,0.07806498,4.827411E-4,-0.08674548,0.026481027,0.0073601203,0.042852074,-0.015990803,0.09308003,-0.05372726,0.12433202,-0.06891425,-0.015001628,-0.04693401,-0.012581487,-0.0028753697,-0.08717856,-0.098547034,-0.05310776,-0.037760016,-0.05615235,-0.038145598,-0.022713123,0.03467133,0.0069574043,0.029949578,-0.07370147,-0.06808703,0.034529377,0.0310526,0.094641134,-0.05431165,0.006605148,-0.011224024,-0.01534252,-0.016549664,0.082232065,0.0036522031,0.06930171,0.05856372,0.05339764,-0.03373602,-0.071795896,0.028143141,0.060672484,0.03122295,0.013714599,0.02202862,0.023138084,0.042314265,-0.02036491,0.095807545,0.05904549,-0.014548051,-0.0870616,0.046183117,0.029742638]::REAL[]),
        |(11, [0.06343771,0.0058765183,-0.028651988,2.654883E-4,-0.031051632,-0.01450028,0.005515711,0.0057222177,-0.1059591,-0.05844221,-0.03852576,0.032663476,-0.046211176,0.022968149,-8.864697E-4,0.07060882,-0.033635117,0.07475268,0.01337138,-0.06901378,0.022063827,0.016496412,0.057607744,-0.0017655147,-0.038029686,-0.038872182,-0.03292653,-0.026231073,0.021813061,0.06182465,0.044717792,0.0051579736,-0.03991205,-0.027445069,0.016253272,0.008888453,-0.02366046,0.05099601,0.07553414,0.003532158,0.05964545,-0.039314654,0.1224856,-0.047990296,0.0123063335,0.037916467,-0.0035663939,0.0069394717,0.052851878,-0.05293435,0.025940722,-0.0054569067,-0.029766375,-0.05775758,0.023666384,0.037026975,0.0035354535,-0.01651138,-0.07080694,0.05577631,-0.011229619,0.04237323,-0.008191156,-0.011374551]::REAL[]),
        |(12, [-0.0069709215,-0.06376432,0.014562121,0.023505438,-0.00805442,0.052596692,-0.014337886,-0.03038546,-0.011835048,-0.007921711,0.03023597,0.045921333,0.01896049,0.13845196,0.092908606,0.044408403,0.013001887,-0.047546674,-0.010366498,-0.04815113,-0.029383505,0.03496453,-0.014905675,0.065283194,-0.091739245,0.039443012,-0.0478082,0.014884458,6.0607324E-4,-0.10552086,0.02740691,-0.06743597,-0.06964367,-0.069198124,0.011361684,0.02805329,0.018349884,-0.045934007,-0.032408886,0.03968855,0.023497354,0.011167623,-0.042538986,-0.070952915,0.03441467,-0.0018806596,-0.01955499,0.018161446,-0.03138498,0.015965274,-0.0053890795,0.013872247,0.06384498,0.022938548,-0.0059331437,-0.016028654,-0.05620602,-0.020510383,-0.008129869,-0.04284003,-0.002637135,-0.02845274,-0.02055995,-0.07163953]::REAL[]),
        |(13, [0.029149706,0.07479124,0.02134813,0.028014105,-0.08236194,0.021487799,-0.007706673,0.016405726,0.028469669,0.039957415,0.0034191187,0.05819961,-0.07168515,-0.015801666,-0.013646735,0.021917038,0.02506544,0.02792193,0.08867792,-0.01688975,-0.04303056,0.060124148,-0.021606322,0.07347927,-0.0047295894,-0.018701103,0.06960208,0.03785714,0.018378649,0.022665616,0.040388443,0.09621229,-0.013634023,0.011724319,-0.04389453,0.03410915,0.004060091,-0.004763079,-0.048742745,0.018772071,-0.06366438,-0.023697907,-0.08098032,0.015608952,-0.056213263,-0.009875079,0.063202366,0.007313751,-0.07463801,-0.00895795,0.04644951,-0.016990328,0.0072292355,0.018895894,-0.008089653,0.05243085,-0.033923563,-0.04807464,-0.062618986,-0.048751228,0.013511869,0.025235739,-0.0141408965,-0.038623083]::REAL[]),
        |(14, [-0.03636119,0.003918286,-0.042555,0.09140156,-0.0015238351,-0.01602596,0.002480287,-0.038410872,0.02110613,0.0116725145,-0.011186879,-1.6869315E-4,-0.05450557,-0.06097048,-0.03135951,-0.06177706,0.00974351,0.03444543,0.017953884,0.011268695,0.022891112,0.040979657,0.016133415,0.02357896,0.0021563438,-0.061908573,-0.013025675,0.0763776,-0.02048277,0.018044444,0.020787153,-0.10363228,0.0075083696,0.016180787,0.019898504,-0.07827056,0.018831404,-0.06491341,0.030638753,0.0023367947,0.0014614091,0.09365999,0.0067769773,-0.06887613,0.035203613,-0.0037949341,-2.8857165E-5,0.071350105,-0.014972268,-0.022833856,0.045089155,-0.04330946,-0.00906133,-0.024228686,-0.065642595,0.006414458,0.0098045375,0.028569555,-0.009579337,0.0054477938,0.017501716,0.06062958,-0.01548141,-0.025027053]::REAL[]),
        |(15, [-0.05762221,0.037857857,0.0012920756,-0.12331383,-0.054813787,-0.0015160287,-0.04967951,0.008855162,0.029448103,-0.059238102,0.02390513,-0.089110374,-0.018126799,-0.042175613,-0.040762503,-0.054818302,-0.046489846,0.018617157,0.021426188,0.075262345,0.0013388421,0.037846845,0.023848003,0.014974089,0.020168284,0.027794091,2.1293305E-4,-0.009665448,-0.055297505,0.05218786,-0.057825174,-0.06431495,0.0024881281,-5.6121347E-4,-0.006950022,0.026028318,0.06345275,-0.012733749,0.04198192,-0.011623106,0.023713393,-0.0025560872,0.037455697,0.034733556,-0.016821548,0.065115206,0.029002186,-0.092401855,-0.017456945,0.028403604,-0.01777342,-0.011197019,0.05119401,-0.02116531,0.018101621,-0.0017772928,0.031117678,-0.011913698,-0.049216475,-0.04190238,-0.002785807,0.009239766,0.015038274,-0.014865515]::REAL[])),
        |assign AS (
        |  SELECT id, cid FROM (
        |    SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id ORDER BY
        |      list_sum(list_transform(list_zip(b.v, c.cv),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cid) AS rn
        |    FROM b, cents c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      sqrt(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv::DOUBLE[]),
        |        p -> (p[1]-p[2])*(p[1]-p[2])))), c.cid) AS rn
        |    FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cents c) t
        |  WHERE rn <= 8),
        |cand AS (SELECT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid),
        |cd AS (
        |  SELECT l.qid, co.id, sqrt(list_sum(list(l.sd ORDER BY l.sub))) AS dist
        |  FROM cand ca JOIN codes co ON ca.id = co.id
        |  JOIN lut l ON ca.qid = l.qid AND co.sub = l.sub AND co.code = l.cent
        |  GROUP BY l.qid, co.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'ivf_pq' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.45""".stripMargin).mkString("\n"),
    // IVF x SQ8 composition: centroid literals + in-SQL SQ8 codes,
    // nprobe=8 pruning over dequantized L2.
    "j10_ivf_sq8" ->
      """WITH b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),cents(cid, cv) AS (VALUES
        |(0, [3.976001E-4,0.028297238,-0.03635965,0.009380843,-0.009109747,-0.025437439,0.024678871,-0.038039044,0.010667889,-0.060485713,0.033288997,-0.03938557,-0.008634382,0.051888857,-0.070540234,-0.023659004,0.10935156,0.037691243,-0.020817585,-0.024977293,0.03683957,-0.015296038,0.070435435,-0.11328855,-0.0017905023,-0.0020132852,-0.004942073,0.033165585,-0.08863541,-0.012735062,-0.08754079,0.056902893,-0.017311713,-0.04438014,-0.01465772,0.025549749,0.0024049846,-0.03159369,0.0069407746,0.04164316,0.020785682,0.04870036,-0.04820819,-0.0765654,0.008866418,-0.045202,0.02520875,0.0053051356,0.009504603,-0.059140284,-0.022915589,0.058860157,-0.004384404,-0.012590272,0.074882075,-0.057023097,-0.06409937,0.0034846074,-0.011082796,0.019883089,-0.0013891011,0.0034190915,0.060604468,-0.0060799844]::REAL[]),
        |(1, [0.008359272,0.060080968,0.03184555,-0.0056618187,0.07222243,0.051034335,-0.049216557,-0.007968933,-0.06231409,0.048589528,-0.017324317,0.042530492,0.033902634,0.080413625,-0.0062259533,0.031396985,-0.033318963,-0.025283217,-0.027597263,0.01480435,-0.02891756,-0.03750445,-0.022482494,-0.06621947,0.024813285,0.0544805,-0.028094416,0.015448729,-0.05434001,0.00318308,0.020199137,-0.07716253,0.006087762,0.026632814,-0.020634651,-0.016442956,0.025486456,0.029430877,0.033655047,0.02441111,0.010800855,-0.03607063,-0.0043094563,-0.015938273,7.861068E-5,-0.0481812,0.024680857,-0.029986767,0.047657892,0.058578055,0.03789119,-0.032064136,0.021277333,0.012731777,0.013166181,-0.014346622,0.085697226,-0.03464635,-0.037695866,-0.036775947,0.08361625,-0.08642981,0.0046992037,-0.0057371496]::REAL[]),
        |(2, [-0.01844507,-0.02256356,-0.06953005,-0.023240875,0.08684007,0.0914795,0.055580284,-0.012617236,-0.029835943,-0.04242027,0.035535593,-0.009868543,-0.015970197,-0.020177249,0.041802835,-0.09409,0.010807619,-0.023519482,0.034826115,0.012929687,0.05966658,-0.067652345,-0.07818938,0.014800565,0.026694568,0.050169367,0.041076835,0.058571495,-0.0015404437,0.007950587,0.024057547,-0.005419116,0.03207465,-0.030794984,0.035395976,0.0029795081,-0.03950219,0.027286049,0.026999077,-0.031908855,-0.08328178,-0.02200855,0.012866052,0.046322495,0.05069378,0.047360986,-0.038416654,-0.10167669,0.03826236,-0.01724514,-0.0017332471,-0.054817125,-0.03995014,0.03127895,0.033283163,0.021733949,0.0831054,-0.017397773,0.016854225,0.028358923,0.04710489,-0.044251915,0.057152633,-0.04708653]::REAL[]),
        |(3, [0.102064565,-0.0069968533,0.012800971,-0.07167313,0.07444391,0.012768217,-0.0748594,0.012918701,0.016182728,-0.054661307,0.070437886,-0.06160538,0.0069055324,0.017327514,-0.026446221,0.11281004,0.024102954,0.042696424,-0.01729222,0.011779977,-0.050743133,0.0042556375,0.0053622844,0.03157169,-0.019312961,-0.029734448,0.030015398,0.033585694,0.046456087,-0.057676364,0.046169367,0.031931307,0.025283262,-0.028854106,0.04856891,-0.053302057,-0.056079846,-0.05893087,0.005899067,-0.018722115,-0.02061769,-0.033902597,0.038833976,0.016220842,-0.012594262,-0.009879089,0.029897697,-0.0038829353,0.05571742,0.016811289,-0.0023034883,-0.025743501,0.08259702,-0.036126196,0.028515564,0.0029221964,-0.028032525,0.032771844,0.030288298,-0.049233384,-0.044415846,0.015200411,0.035748515,0.0640712]::REAL[]),
        |(4, [-0.045071274,-0.057621308,0.00470594,-0.028427409,0.010577925,0.0020643366,0.0030443773,0.030271063,0.06781996,0.06693981,-0.010411105,-0.03287793,0.022112258,-0.0920138,0.09686792,-0.03091986,0.04703801,-0.032777086,0.03977684,0.020655159,0.022004057,-0.0057500293,0.002778062,-0.013420849,-0.010384327,0.032439973,0.050919276,-0.045315374,0.0040542553,-0.0535026,-0.0023021316,0.040078286,0.072379954,-0.016619515,0.0212618,-0.095986284,-0.013969665,0.011349328,-0.05222839,-0.019108197,0.0033137945,-0.023999205,-0.040043715,0.017808456,0.0078592105,0.025575822,-0.026065467,0.05833019,0.0010988177,-2.3226398E-4,-0.011959542,-0.014244624,0.074541144,-0.045908608,-0.04256846,-0.011612557,0.041253675,-0.021052716,0.040330485,-0.034828596,-0.040610105,0.048562936,-0.06615247,-0.054079827]::REAL[]),
        |(5, [-0.036802832,-0.07970984,0.010175653,0.033520576,0.0019681412,0.014898777,-0.04537918,0.07532346,-0.013869546,0.026446076,0.036149327,0.03021399,-0.011724245,0.012907165,-0.045805085,-0.04560446,-0.12365304,-0.03253967,-0.053021926,-0.011837741,-0.0138035165,0.01648638,0.04421658,-0.045227762,-0.03932084,0.02706602,-0.019117707,-0.0045875898,-0.003764507,-0.016906084,0.00908303,0.009660759,0.004637516,0.04342523,0.0761766,0.091382645,-0.04745479,0.023597902,0.029717358,-0.04081729,-0.054080967,-0.083059795,-0.0072128777,-7.131163E-4,0.016583841,-0.03297849,0.01647399,0.07859101,-0.016999898,-0.033240594,0.0042445064,-0.017960563,-0.012879525,0.03842349,-0.0136261415,-0.023117376,-0.055217475,-0.055819217,-0.022269065,-0.0043935515,-0.016654627,0.049902894,-0.048492625,-0.042215925]::REAL[]),
        |(6, [0.013466209,-0.042904153,0.042477332,-0.010227932,0.06610928,-0.08960638,-0.05824776,0.09722493,-0.052684724,0.12983476,0.024039803,-0.008953316,0.077392586,0.015048835,-0.034597486,-0.04612628,0.06131181,-0.01216272,-0.04209484,0.038224302,0.020744625,-0.019144693,0.034510255,0.029608011,0.08201297,0.025442395,-0.033755377,0.01684503,0.012245171,0.1239683,0.0342624,-0.07191438,0.048022225,0.021343596,0.0043778787,-0.0034581441,-0.027076015,0.014719994,-7.6361075E-6,0.049479246,-0.06339765,0.042955857,-0.018386057,0.004471063,-0.04481163,-0.045706294,-0.0303199,-0.036038432,0.020856244,0.012608098,0.060139712,0.097314045,-0.009156231,0.042162545,-0.010446251,-0.037139542,-0.016165743,-0.019707583,0.010787154,0.02973125,-0.022876702,0.03270833,0.0038668977,-0.005150107]::REAL[]),
        |(7, [0.0730371,0.013020755,0.024054889,0.031864595,0.088987224,-0.015275471,-0.09232465,0.009167585,-0.029220069,-0.046588387,0.04021698,0.011006755,-0.039308555,-0.03348064,0.024561502,0.061083548,-0.0058210245,0.0059133507,-5.9794646E-4,0.0024032826,0.020402363,-0.023590263,0.016465912,-4.0554924E-6,-0.018109495,0.039838616,-0.03640714,-0.007153099,0.06674157,5.5913307E-4,-0.01615549,0.03513253,-0.029352456,-0.017819941,-0.02422248,-0.03521332,-0.045198675,0.087121405,-0.061626047,-0.03736578,-0.010285021,-0.041728083,0.019712977,0.016591592,-0.104177706,0.025423804,-0.04550773,-0.023338027,-0.010873546,-0.038420208,0.025321431,0.03598216,-0.12894745,-0.005235948,-0.06644037,-0.03709317,0.074448235,0.06327438,0.03255707,0.01056316,0.08486752,0.0016224174,-0.053819567,0.046196803]::REAL[]),
        |(8, [-0.026988689,0.005676072,0.06782535,0.024456996,-0.046086337,-0.043952443,0.002179633,0.033751138,0.0041119666,-0.018524887,-0.074581414,0.0054647564,0.07055409,-0.02212543,0.072443716,0.05354723,-0.06561099,-0.043461844,-0.011281722,0.02830383,0.022794986,-0.040238257,-0.023748746,-0.016152153,0.08208422,0.049374044,-0.07401946,0.0036870013,0.015724914,0.062043484,0.04140938,-0.008525177,0.04211752,0.06742721,0.052381236,-0.029699845,0.0311374,-0.08147927,-0.11785748,-0.051154714,0.044584382,-0.004362243,0.016509607,0.045911286,-0.08142972,0.004555513,-0.03975339,0.029077321,-0.084855475,-0.022218805,4.4706746E-4,0.06384465,-0.03552817,-0.021320144,0.050283812,-0.0027536019,-0.007825387,-0.031355135,-0.015163805,0.060551215,-0.010323944,-0.051286574,0.059319675,-0.008877228]::REAL[]),
        |(9, [-0.021388657,-0.03833954,0.010488234,0.012838276,-0.018751947,0.05869963,0.015904548,-0.011526354,0.010039316,0.024103524,0.0012205105,0.067073315,0.0015444893,-0.028763095,-0.03773328,-0.013045459,0.10519724,-0.015350813,-8.191451E-4,-0.023473792,-0.06039969,0.020592323,-0.043630414,-0.050690085,0.03831456,0.041279532,0.06327995,0.02003199,0.0496711,-0.038714822,-0.058313925,0.016609458,0.030466363,-0.007273059,-0.05157916,0.088247605,-0.018129945,-0.021840198,0.05168867,0.018610615,0.06520981,-0.029866936,-0.0044151205,0.013927938,-0.04570822,-1.8431572E-4,-0.052126337,0.050922595,-0.023193838,-0.011714378,-0.032172486,-0.060620833,0.014884973,0.007199496,0.030895568,0.0038718958,-0.02172564,0.11099188,0.019912688,-0.07435928,-0.06544074,0.039071813,-0.03411504,-0.009885601]::REAL[]),
        |(10, [0.0071370993,0.019658236,-0.0045523485,-0.04833168,0.03178797,-0.010474304,0.015751988,4.9144845E-4,0.07806498,4.827411E-4,-0.08674548,0.026481027,0.0073601203,0.042852074,-0.015990803,0.09308003,-0.05372726,0.12433202,-0.06891425,-0.015001628,-0.04693401,-0.012581487,-0.0028753697,-0.08717856,-0.098547034,-0.05310776,-0.037760016,-0.05615235,-0.038145598,-0.022713123,0.03467133,0.0069574043,0.029949578,-0.07370147,-0.06808703,0.034529377,0.0310526,0.094641134,-0.05431165,0.006605148,-0.011224024,-0.01534252,-0.016549664,0.082232065,0.0036522031,0.06930171,0.05856372,0.05339764,-0.03373602,-0.071795896,0.028143141,0.060672484,0.03122295,0.013714599,0.02202862,0.023138084,0.042314265,-0.02036491,0.095807545,0.05904549,-0.014548051,-0.0870616,0.046183117,0.029742638]::REAL[]),
        |(11, [0.06343771,0.0058765183,-0.028651988,2.654883E-4,-0.031051632,-0.01450028,0.005515711,0.0057222177,-0.1059591,-0.05844221,-0.03852576,0.032663476,-0.046211176,0.022968149,-8.864697E-4,0.07060882,-0.033635117,0.07475268,0.01337138,-0.06901378,0.022063827,0.016496412,0.057607744,-0.0017655147,-0.038029686,-0.038872182,-0.03292653,-0.026231073,0.021813061,0.06182465,0.044717792,0.0051579736,-0.03991205,-0.027445069,0.016253272,0.008888453,-0.02366046,0.05099601,0.07553414,0.003532158,0.05964545,-0.039314654,0.1224856,-0.047990296,0.0123063335,0.037916467,-0.0035663939,0.0069394717,0.052851878,-0.05293435,0.025940722,-0.0054569067,-0.029766375,-0.05775758,0.023666384,0.037026975,0.0035354535,-0.01651138,-0.07080694,0.05577631,-0.011229619,0.04237323,-0.008191156,-0.011374551]::REAL[]),
        |(12, [-0.0069709215,-0.06376432,0.014562121,0.023505438,-0.00805442,0.052596692,-0.014337886,-0.03038546,-0.011835048,-0.007921711,0.03023597,0.045921333,0.01896049,0.13845196,0.092908606,0.044408403,0.013001887,-0.047546674,-0.010366498,-0.04815113,-0.029383505,0.03496453,-0.014905675,0.065283194,-0.091739245,0.039443012,-0.0478082,0.014884458,6.0607324E-4,-0.10552086,0.02740691,-0.06743597,-0.06964367,-0.069198124,0.011361684,0.02805329,0.018349884,-0.045934007,-0.032408886,0.03968855,0.023497354,0.011167623,-0.042538986,-0.070952915,0.03441467,-0.0018806596,-0.01955499,0.018161446,-0.03138498,0.015965274,-0.0053890795,0.013872247,0.06384498,0.022938548,-0.0059331437,-0.016028654,-0.05620602,-0.020510383,-0.008129869,-0.04284003,-0.002637135,-0.02845274,-0.02055995,-0.07163953]::REAL[]),
        |(13, [0.029149706,0.07479124,0.02134813,0.028014105,-0.08236194,0.021487799,-0.007706673,0.016405726,0.028469669,0.039957415,0.0034191187,0.05819961,-0.07168515,-0.015801666,-0.013646735,0.021917038,0.02506544,0.02792193,0.08867792,-0.01688975,-0.04303056,0.060124148,-0.021606322,0.07347927,-0.0047295894,-0.018701103,0.06960208,0.03785714,0.018378649,0.022665616,0.040388443,0.09621229,-0.013634023,0.011724319,-0.04389453,0.03410915,0.004060091,-0.004763079,-0.048742745,0.018772071,-0.06366438,-0.023697907,-0.08098032,0.015608952,-0.056213263,-0.009875079,0.063202366,0.007313751,-0.07463801,-0.00895795,0.04644951,-0.016990328,0.0072292355,0.018895894,-0.008089653,0.05243085,-0.033923563,-0.04807464,-0.062618986,-0.048751228,0.013511869,0.025235739,-0.0141408965,-0.038623083]::REAL[]),
        |(14, [-0.03636119,0.003918286,-0.042555,0.09140156,-0.0015238351,-0.01602596,0.002480287,-0.038410872,0.02110613,0.0116725145,-0.011186879,-1.6869315E-4,-0.05450557,-0.06097048,-0.03135951,-0.06177706,0.00974351,0.03444543,0.017953884,0.011268695,0.022891112,0.040979657,0.016133415,0.02357896,0.0021563438,-0.061908573,-0.013025675,0.0763776,-0.02048277,0.018044444,0.020787153,-0.10363228,0.0075083696,0.016180787,0.019898504,-0.07827056,0.018831404,-0.06491341,0.030638753,0.0023367947,0.0014614091,0.09365999,0.0067769773,-0.06887613,0.035203613,-0.0037949341,-2.8857165E-5,0.071350105,-0.014972268,-0.022833856,0.045089155,-0.04330946,-0.00906133,-0.024228686,-0.065642595,0.006414458,0.0098045375,0.028569555,-0.009579337,0.0054477938,0.017501716,0.06062958,-0.01548141,-0.025027053]::REAL[]),
        |(15, [-0.05762221,0.037857857,0.0012920756,-0.12331383,-0.054813787,-0.0015160287,-0.04967951,0.008855162,0.029448103,-0.059238102,0.02390513,-0.089110374,-0.018126799,-0.042175613,-0.040762503,-0.054818302,-0.046489846,0.018617157,0.021426188,0.075262345,0.0013388421,0.037846845,0.023848003,0.014974089,0.020168284,0.027794091,2.1293305E-4,-0.009665448,-0.055297505,0.05218786,-0.057825174,-0.06431495,0.0024881281,-5.6121347E-4,-0.006950022,0.026028318,0.06345275,-0.012733749,0.04198192,-0.011623106,0.023713393,-0.0025560872,0.037455697,0.034733556,-0.016821548,0.065115206,0.029002186,-0.092401855,-0.017456945,0.028403604,-0.01777342,-0.011197019,0.05119401,-0.02116531,0.018101621,-0.0017772928,0.031117678,-0.011913698,-0.049216475,-0.04190238,-0.002785807,0.009239766,0.015038274,-0.014865515]::REAL[])),
        |assign AS (
        |  SELECT id, cid FROM (
        |    SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id ORDER BY
        |      list_sum(list_transform(list_zip(b.v, c.cv),
        |        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cid) AS rn
        |    FROM b, cents c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      sqrt(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv::DOUBLE[]),
        |        p -> (p[1]-p[2])*(p[1]-p[2])))), c.cid) AS rn
        |    FROM embeddings q JOIN qids ON q.vec_id = qids.qid, cents c) t
        |  WHERE rn <= 8),
        |cand AS (SELECT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid),dims AS (
        |  SELECT pos, min(x) AS lo, max(x) AS hi
        |  FROM (SELECT unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings) e
        |  GROUP BY pos),
        |enc AS (
        |  SELECT e.id, e.pos, d.lo, d.hi,
        |    CASE WHEN (d.hi::DOUBLE - d.lo::DOUBLE)::REAL <= 0 THEN 0
        |         ELSE greatest(0, least(255, floor(
        |           (((e.x::DOUBLE - d.lo::DOUBLE)::REAL)::DOUBLE
        |             / (((d.hi::DOUBLE - d.lo::DOUBLE)::REAL)::DOUBLE)) * 255 + 0.5)))::INT
        |    END AS c
        |  FROM (SELECT vec_id AS id, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings) e
        |  JOIN dims d USING (pos)),
        |qv AS (SELECT vec_id AS qid, unnest(embedding) AS qx,
        |         generate_subscripts(embedding, 1) AS pos
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |cd AS (
        |  SELECT q.qid, e.id,
        |    sqrt(list_sum(list(power(q.qx::DOUBLE
        |      - (e.lo::DOUBLE + (e.c / 255.0)
        |         * (((e.hi::DOUBLE - e.lo::DOUBLE)::REAL)::DOUBLE)), 2) ORDER BY pos))) AS dist
        |  FROM qv q JOIN enc e USING (pos)
        |  JOIN cand ca ON ca.qid = q.qid AND ca.id = e.id
        |  GROUP BY q.qid, e.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
        |      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'ivf_sq8' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.75""".stripMargin,
    // the full LSH pipeline replicated in SQL: the seeded hyperplanes
    // are deterministic DATA (java.util.Random(42), gate config 12x4x64,
    // printed by dev/DumpPlanes) embedded as literals; sign-bit keys, bucket join, vote ranking,
    // (votes desc, id) cap at 320, exact cosine rerank, recall vs exact
    // GT - same floor filter as the Spark query.
    "j3_lsh_pipeline" ->
      """WITH planes(tbl, h, pl) AS (VALUES
        |(0, 0, [1.1419053,0.91940796,-0.94986665,-1.1069903,0.28097764,0.6846228,-0.8172214,-1.3966434,-0.19094451,1.4862134,0.8023071,-0.12151293,1.4105062,-0.6402328,-1.2096444,0.3537577,-0.49034965,0.5507215,-1.203551,0.32101607,1.5511476,0.4385303,0.48159805,1.519631,-0.27683172,-0.08393898,1.255833,-0.3252728,-0.17329033,-1.8585851,1.4238069,-1.363726,-1.9646661,-0.91859484,-2.5488875,-1.6309607,-0.12200478,1.289159,-0.26913884,0.2574914,-0.31991437,-1.7684999,-0.48345032,-0.50999045,1.1166734,-0.040947203,-1.1076715,1.8623214,1.1457411,-1.0586772,1.0725992,-1.9317441,0.3010252,0.24752316,1.4061569,-1.5202208,0.27092943,0.56124926,-0.52982956,0.5390222,2.21234,-0.63293356,-1.883176,0.38656598]::REAL[]),
        |(0, 1, [0.32582927,-0.9013043,-0.002680309,-0.47395927,-0.54797816,-0.019100148,1.6468164,-1.1070626,0.5938104,-0.15566462,0.6632873,1.2267934,0.88396984,0.22172454,0.9197021,-0.7393758,0.80351776,-0.25394174,-0.7638389,-1.8645568,-1.8613062,-0.5765999,-0.4089938,0.24846093,-0.48091295,0.44621205,-0.4465889,0.045638688,0.7045663,-0.27182403,0.08074878,1.2590965,0.7635098,1.7220811,0.14595005,-0.994663,0.20074962,0.8962364,1.5117192,-1.4034737,-1.9069697,1.3685654,-0.559673,0.74460816,1.5736656,1.1280434,-0.19208159,-2.2544937,0.43985185,0.6568003,-0.7449502,1.1994753,1.7797468,0.06740415,1.295064,-0.58267653,0.76886827,0.41766456,-0.46909225,0.41414818,0.66302276,0.86719465,0.29670087,0.32152307]::REAL[]),
        |(0, 2, [2.2242954,0.8358482,-1.1933023,0.11880515,0.55804104,-1.9527105,1.4960554,-0.7625822,0.89517766,-0.1826709,0.92976344,-0.43748036,-0.10491094,-0.6114382,0.35276467,-1.1445166,-0.6538318,2.677097,0.15132171,1.8470372,0.44074333,0.8773091,0.9469807,-0.69977367,-2.3152072,0.094800204,0.1920371,-1.0081308,-2.1507173,1.6170416,0.54735094,1.6230097,0.3696693,1.2240527,0.87512094,-0.29000443,0.43333453,1.0069743,1.7830081,1.3568703,0.44593024,1.3915128,0.032955416,-0.80182487,-0.017182633,-1.3164854,-0.027818555,1.9719833,1.3758681,-1.2706898,0.2920338,1.5333192,0.10462043,-1.3131604,1.7799965,0.39525476,-0.50046283,-2.0407393,1.086929,-1.0408491,1.9616582,0.9258632,1.3616569,2.8896525]::REAL[]),
        |(0, 3, [-0.49101368,-0.7101986,1.5704668,-0.8424085,-0.33193076,-1.6988477,-0.5311415,-2.587563,0.3015645,-1.1528053,-1.7133285,0.08131976,-1.3278612,0.6965862,-1.2876713,1.2509059,0.0125522,0.6566975,-1.321353,0.8149172,0.61104095,0.12348089,0.38840258,-0.5821272,0.43343568,-0.7960431,0.0639953,-0.7421111,1.1806636,0.9198186,1.2380052,-0.0708855,-0.56589603,1.0508212,0.94411653,-0.6911609,0.8859638,-2.5333714,0.41632038,0.4062904,0.84186167,-0.3480736,1.0703545,-0.23477691,0.1557264,0.66830957,0.36851215,0.097099334,-1.2388537,-0.2653297,-0.60313874,-0.14638329,1.8821104,1.8435869,-0.77437156,-0.15335007,0.1372088,-0.9119326,0.1906821,0.7232172,-0.43633628,-0.18091542,0.80377895,1.3862531]::REAL[]),
        |(1, 0, [-0.34849292,1.0537138,0.04988928,1.3674486,0.26673916,0.027260168,-0.8305161,0.39806983,0.23473635,0.5199782,-0.22443649,0.95187896,-0.1536108,-1.1594658,0.9177144,-0.8937789,0.077611126,0.9697328,-0.41934183,-0.037735414,-0.47323003,-0.85537076,2.205183,-0.66502315,1.8022978,0.7233623,0.83436567,1.5078868,1.8732773,0.17565735,0.82304984,-1.064201,-1.3185016,0.39534023,0.29381594,0.90824544,0.039042428,0.41234463,-0.85727626,-0.40453556,0.9311183,0.44258368,-0.76406085,-1.0046799,1.1489059,0.58237356,-0.5201546,-0.94274586,-1.1920553,1.578016,1.6356236,0.9829002,-0.80200714,0.7028919,0.56728625,-1.0987394,-0.27559388,-1.4118258,0.1979111,-1.1248175,-0.43698686,0.38553774,-1.8919102,1.7424648]::REAL[]),
        |(1, 1, [-0.31202272,0.58211184,-0.6334365,-0.1492018,-0.05736999,0.98360384,-0.1869009,-2.08269,-0.20208369,-1.1284105,-0.50273246,0.10121097,-0.7281547,-0.90409815,1.7114681,0.07125395,-0.53386426,0.16661367,0.006043533,0.37528643,0.5705074,1.5388314,2.7053251,0.72537476,-0.7094079,1.2062201,0.7686773,-1.1438981,0.3171178,0.96065944,-1.6097267,0.50507927,0.5597531,0.80192196,0.021637611,0.014730824,-0.5038,0.2470066,0.090334706,1.1542443,0.73116267,-1.7981107,0.5763067,1.0139308,-0.03306593,1.6079849,1.4417757,-0.022262115,-1.0228027,0.9625032,-0.96539193,-0.5667563,-0.35354325,-0.8305718,1.7736344,-0.04961288,-0.79600984,1.4538388,0.4728192,-0.72334695,-0.33057666,1.7535285,-1.3114457,-0.57376635]::REAL[]),
        |(1, 2, [-0.82414275,-0.61035335,2.38223,-0.43710193,-0.8144601,-2.0368812,0.15789293,-1.9772673,0.6284728,-0.8293935,-1.4368079,0.32387498,-1.6328206,-1.1268798,0.4614917,-0.9490178,0.98100257,0.076214895,-2.1668916,0.62198925,-0.40088737,0.06683877,-1.3856146,-1.3346008,-1.1369321,0.08227182,0.6753996,-1.2204801,0.3643601,0.36679652,0.4202495,-0.80098283,0.38146576,0.015684871,0.15477474,0.91974723,1.3063258,1.0133315,0.122387774,-1.0648166,0.79428685,-0.24126299,-0.13010608,-0.6282955,0.35313526,-1.013086,-0.7972854,0.86701167,-0.83819324,-1.2974653,1.0274886,0.7489571,1.9913282,1.3823301,1.0785115,0.9778204,1.2596722,0.0065888786,1.2453074,-0.57544893,0.55758744,0.7728855,0.06482652,0.13659231]::REAL[]),
        |(1, 3, [-0.462095,-2.3827059E-4,1.414465,-0.6953025,1.1935239,1.587308,0.5756964,0.9319408,-0.19255224,0.73576194,-0.7618477,-1.4761138,0.3855245,0.9551002,0.43418193,-0.71303433,0.7291061,0.7140485,0.1646725,0.6545959,0.9496842,1.5374349,0.11582717,1.2134252,0.36638013,-1.0237579,1.4068768,0.112674214,-0.8768156,1.8153486,-0.84493625,-0.6664403,0.7297172,-0.32806098,0.3753248,-1.1018261,0.7453755,0.096080564,-0.5979477,0.61031187,-2.0395582,-1.3213967,0.31625706,0.28532383,1.0480481,-0.33974603,-0.26203868,1.0626092,0.45096517,0.86400396,1.2982172,-0.06409809,0.60466206,1.3214992,1.2161407,-0.41379336,-2.065915,-0.5511291,-0.023591142,-1.1753969,0.026157098,0.8924236,-1.0139178,-0.50989693]::REAL[]),
        |(2, 0, [-0.42563918,-0.9115563,0.32330683,-0.24102408,0.7201737,-0.48257357,1.7274693,-0.9636025,0.22320968,0.476848,0.5300888,0.8810354,-1.6436863,0.5878631,-0.9060511,0.7766036,-1.086184,0.59267575,-1.0061908,-2.1803586,1.2377214,-0.26750335,0.40384427,-1.060191,-1.7655029,-1.3991987,1.3296188,-0.61934936,0.086991884,-1.3741286,-0.7203411,-1.073385,-0.2541711,-0.61495596,0.38234076,0.053005617,-1.1090883,-1.3163748,1.0800232,-0.32063186,0.012690425,-0.49006343,0.47657287,-1.9092209,-0.9842191,1.5312023,0.36941165,-0.9647389,1.5200453,-1.1171633,1.0438013,-1.488996,0.3717334,-1.5907797,1.908014,1.3969177,-0.05546741,-0.03792636,-0.17385697,-0.09965271,0.26481992,0.31107658,-0.051595554,0.597137]::REAL[]),
        |(2, 1, [0.8983801,-0.4155027,1.1114036,1.8066708,0.7131825,-0.4835196,0.34000313,0.15902527,-1.647532,-0.21045841,-0.64089507,-0.6492632,-0.53536415,0.27849177,-0.080395214,-0.30820873,0.7505158,1.2753073,1.9871554,-0.4157005,0.27419496,-0.57161766,1.6139575,0.4792802,-0.31345108,0.68881816,0.56126153,-0.7192497,-0.23883629,-0.8245601,-0.14678636,0.6171102,1.4875629,1.1695781,2.746488,-0.4097788,0.41167852,-1.3022133,0.39003485,0.8058092,0.906392,-1.6748418,0.28566805,0.41813222,0.39578557,-0.32112247,0.2694449,-0.22607793,0.66627747,-0.7736185,-0.62538016,-0.3018475,-0.33408052,1.3438357,-0.6179037,-1.1147497,0.44564307,0.7541264,-0.41587362,-0.66895217,-0.8638925,1.1517668,1.1312973,-0.9118383]::REAL[]),
        |(2, 2, [-0.55142516,-2.3332508,-0.43140978,0.12134326,1.6341206,-0.21622881,0.00786879,0.8982653,0.1818816,0.2876715,0.19511464,-0.005225745,-0.80159277,1.4856964,0.73918986,1.4003674,1.060053,-1.5340832,1.0467391,0.19082855,-0.008106467,-1.3542943,0.31055138,0.19046435,-1.3602659,-0.31839752,0.97683036,-0.59998673,-0.9064709,0.9754792,0.008169875,-0.108325355,0.49660164,0.81747574,-0.50702405,0.82883984,0.66262704,0.22532192,-2.620033,0.051770724,-0.013297376,1.0915066,-0.7391172,0.5275154,-0.68426895,-1.7181525,0.28111538,1.2865392,-0.43460262,2.0047565,-0.07755306,0.2533868,-1.1007756,-0.93872607,-1.180138,-0.19564275,-1.3236336,0.613049,2.3134723,-1.1512216,-0.21176548,0.14130421,-0.096944936,1.5430846]::REAL[]),
        |(2, 3, [-0.25316978,0.68324184,-0.8967571,-0.10470907,0.7968147,0.83374476,0.5801886,1.4385645,0.3466526,1.0136826,-0.4576116,0.5509097,-1.0972198,-0.21979496,-1.0740559,0.10204031,-0.9691674,-0.9043898,1.7838287,-0.32979882,0.11777096,0.5077338,-0.2809318,-0.5578324,1.0062048,0.30785447,-0.9700537,1.9974008,0.27126852,0.5642877,-0.06818794,0.96112204,-0.3044629,1.8474942,0.721655,0.033229284,0.79194766,1.674071,0.07074364,-2.2652466,-0.8621333,-1.9521874,-1.5112274,0.80415666,1.0489287,0.4526766,1.1567395,-0.7212525,0.26935157,1.1419201,-1.3110634,1.7871358,-0.5988638,0.22407228,1.0224267,-0.39441156,0.2810579,-1.0614908,-1.3631215,0.824204,-0.06329136,-0.04003545,-1.2864664,0.4575636]::REAL[]),
        |(3, 0, [-1.6521605,0.47820246,0.92200786,-0.58907485,0.36146942,0.25161412,0.103210464,0.5618738,-0.77722293,-1.1055294,-0.18122107,0.18991472,-2.101159,1.0868812,1.061755,-0.16861014,0.102220505,-1.1532737,2.2631726,-1.131854,-0.5784802,-0.4016354,-0.09825855,0.581572,-1.3362157,-0.26468727,1.0008812,0.752079,1.1883428,1.4647707,0.987312,1.5280682,-0.6377051,-0.02355528,-0.44860727,0.24508342,0.034759104,-0.7668008,1.9368657,0.38672918,1.0279815,0.30251384,-0.87661994,-1.1188155,0.02932412,1.0538036,0.6949324,0.28516448,-1.0912304,0.45425266,-0.0685578,0.4845258,1.2791038,-0.8634731,-0.6557466,-0.486521,0.199132,0.2857669,0.6396476,-0.6264514,-1.9325874,0.9432993,-0.6812753,-1.2356576]::REAL[]),
        |(3, 1, [0.46530083,0.40739307,0.8686724,-1.8601041,-0.82685804,0.35920995,0.87805605,0.049789626,-1.3509521,1.1382595,-0.78417444,0.5639877,-0.12574427,1.7376537,0.10896824,-0.6093433,-0.09727955,-0.6800524,-2.0755668,1.5875008,-0.5647691,0.97153807,-2.2065911,1.3082117,1.9003513,0.88946176,-0.73875713,1.3034518,0.27526417,-1.8368104,-0.9642602,-0.06623541,0.8180937,-0.64392936,-0.044620592,1.3774664,-0.7284816,-0.4138312,0.3242464,0.5079875,1.209334,0.26119784,0.7161847,-1.4988033,1.2386521,0.25932118,0.34347153,1.0449095,-0.1204401,0.8282711,-0.19898553,-0.3335438,-0.5895374,-0.76744646,-0.660835,-1.2708147,-0.07585337,-1.4504522,0.9192448,-0.5030785,1.401126,0.13469097,-1.6596352,-1.535141]::REAL[]),
        |(3, 2, [-0.9755806,1.2881418,0.23677804,0.5841021,-0.031750914,-2.86503,-0.118807495,0.15944831,0.121203676,-0.09000155,-0.9117334,-1.753989,-0.540427,-1.7165782,0.59952813,-0.7947844,-2.1164794,0.50746685,-0.21220472,-0.097332604,0.6081862,0.3133186,0.52961624,0.071274005,-0.5778827,-0.49755716,-0.6434263,-0.5521543,0.6171821,-0.017695712,0.07041683,-1.2677649,0.871146,-0.20830616,-0.7610336,-0.38159904,0.48447323,-3.0960257,0.007509277,0.48805252,-0.8517418,1.9186175,1.7162682,0.28527692,-0.9004815,-0.8922192,0.6153806,-0.7850337,-0.43047935,-0.4004313,0.6226444,0.4009569,1.5804793,0.88181835,0.5660654,0.94244486,-1.5018033,-0.6118606,-0.78321207,-0.5407018,-0.6146224,-0.21707715,1.9697908,1.0478747]::REAL[]),
        |(3, 3, [-0.40079144,-0.16732362,0.040423024,0.3571653,-0.9464834,-2.886061,-1.519172,0.4226132,0.6669779,-0.67469186,0.5903829,0.89456934,0.5910545,-2.6611392,-0.76157933,-1.5406681,0.7385589,-0.91030395,0.42765614,1.1566164,0.19138119,-0.67565304,0.3234987,0.3596937,2.4642496,0.28764915,-1.6543683,0.47625023,0.735359,1.813463,2.1232867,0.87736875,-0.049685456,-0.46573135,-0.6548038,-0.7600445,-0.48030743,0.3087329,-0.43904504,1.001838,-1.7047175,-0.6030398,1.807692,0.04866805,-0.8727912,-0.5352277,0.040051803,0.7243549,-0.48277652,-0.29926637,-1.0489018,0.1836232,-0.6832016,1.442804,1.475614,0.31687465,1.1326668,-2.1984024,0.6326266,-0.86450315,0.53273034,0.8862673,-0.15660465,-0.03826508]::REAL[]),
        |(4, 0, [-0.03678217,0.76563925,-0.3833612,-0.63326275,0.61481005,0.91205084,0.85314155,0.98562586,-0.12574545,-0.9810826,-0.24556957,0.26295334,1.5668913,-0.29253736,0.47118005,-0.85789895,-0.70534116,0.7385325,1.058058,0.12855877,-0.695561,-0.82289803,-1.5876956,0.6684453,-0.2570684,-0.7577673,-0.87171614,1.8251622,-1.868335,0.38815033,-1.9269673,0.13404351,0.14820613,-0.011316324,0.3639212,1.2214248,0.623082,1.1140727,-0.119680405,-0.30423284,0.33916485,2.3118193,0.20676324,-0.4275573,1.3692468,0.27319178,-0.3904163,1.0886462,0.5293278,-0.12430166,-0.026092837,-1.6284006,-0.29190904,0.24834758,-0.60121393,-0.5483223,-0.3377935,-0.26972675,0.58397114,-0.66440433,0.3094509,0.52569646,-1.2606881,-1.1364609]::REAL[]),
        |(4, 1, [-0.14160444,-0.20163405,0.6030491,-0.1588339,1.2968025,-0.29607114,1.8125132,-0.7648855,0.14150931,-1.5416578,1.1216403,-1.2966685,1.0779653,0.06685032,-1.3461938,-2.9467096,-1.4997902,-0.65809554,-0.1901475,-0.1868791,0.3237951,0.042969327,-0.6299883,-0.7081965,-1.2507809,0.15282188,2.0890088,0.2154894,0.19944747,-0.21069464,-0.16347541,-0.021297574,-0.07039539,1.1973907,0.5335724,-0.22400747,0.5574826,0.71510214,-0.045564048,-0.7992216,0.595249,1.1754309,-0.18878683,-0.713506,-0.41660413,0.7741486,-0.22200227,0.8236769,0.92788917,-2.0188959,-0.08022052,-0.9549477,0.37023544,-0.4184654,-1.0410959,1.5064873,0.20675789,-0.74934506,-0.34469345,-1.343803,-0.6354189,-0.12895645,0.45617628,-0.031864066]::REAL[]),
        |(4, 2, [2.1360455,-0.24794394,0.6528697,-0.039207954,-0.28436208,0.85701656,-1.1627718,-0.5125842,0.26649806,-0.5976455,-0.0919686,-0.34506354,1.7383295,1.3768997,0.33931288,-2.0430312,-0.1676506,-1.1273874,-0.16346087,1.2822871,1.6266615,-0.9957345,1.4879346,-0.51247,0.35111833,0.24532889,-0.14244659,-0.3305641,-0.19414887,-0.2526901,1.3031899,0.22253516,0.82473165,-1.3081034,-0.7178295,-2.6099992,-0.15937658,1.0583805,1.2501647,0.74365443,1.9476674,0.4771471,-2.5861886,1.3209109,0.63625807,0.29873267,-2.3110585,-1.0117009,-0.19197492,0.6440874,-0.11205406,0.208244,-1.3984869,-2.675096,-0.0650913,-0.2767536,1.2386174,-1.01758,0.032399885,-1.7718678,0.77632546,-0.406733,0.70547205,0.7090013]::REAL[]),
        |(4, 3, [1.0882368,-1.1389186,1.4540465,1.5815042,-1.3658966,-0.01990105,0.5126579,1.4819824,0.8790639,0.6783315,1.5198222,0.5139379,0.47654995,-1.4586544,0.031519655,-0.62322366,0.2154396,-1.8333793,0.229745,-0.26903388,-0.7766692,0.8978097,0.0017178523,0.5407992,-0.6246456,0.058384586,0.74789196,0.4358568,1.634621,1.6733943,0.4038024,1.0945624,-0.8124862,-0.09697466,-0.39493558,-0.5752413,-0.32270357,-0.08402372,-0.0033788297,0.032540638,-1.3160095,0.12751956,-0.24491923,1.0556587,-0.036037177,0.6612997,-0.8498139,2.0790129,0.67655057,-1.3164201,0.18009438,-0.8395128,1.6754833,-0.71384454,-1.4733123,1.2155578,0.48091695,-0.46689853,-0.4905288,-1.5366908,1.5757871,0.30824918,0.30642134,-0.06940412]::REAL[]),
        |(5, 0, [2.0207863,-0.76218265,-0.92121524,0.63022816,-0.40192246,0.59289765,-0.67878574,0.71510124,0.5938164,-0.2518882,-1.5298381,-1.3494785,0.25981048,0.90779805,-0.6405588,-0.35551113,-0.65622294,-0.31633133,0.2932111,-1.4587903,0.84016293,1.2594714,-1.322323,-0.22717616,0.5724557,0.3274647,0.6717333,-0.962541,1.655065,-0.029440317,-0.875687,0.7563279,-0.22250134,-0.48888636,-0.35660213,0.8971863,-0.54040205,0.7811021,0.40626264,-0.37652194,-0.15922277,-0.64035296,-1.962302,-0.55850464,1.0743421,-0.009580064,2.2137012,0.033707634,1.0693337,0.8277506,0.011305681,-0.01480071,-0.12634002,0.042185348,1.2998371,-0.19280173,-1.1096427,1.5599638,1.3458121,0.9104294,-1.2652414,-0.7228522,-2.7578971,-0.4908208]::REAL[]),
        |(5, 1, [0.36947682,-0.4193165,-1.0948279,2.8228998,-0.45150942,-1.2507597,-0.31409046,-0.20893073,0.21935534,-0.27084854,0.38769442,-0.11075365,2.4273503,-0.34197038,-0.6761027,-1.64968,-2.5436852,0.9560992,-0.72209424,-0.26605433,-0.98597515,1.6630937,-0.2838109,-0.49222326,0.3259572,-0.086272106,-1.2929617,0.307134,-1.7017668,0.28603584,-1.8122076,0.7211614,0.83046806,-0.83978564,-0.8038732,0.20821989,0.5187521,-0.8171345,-0.26715684,0.79536295,-0.17833306,-1.4014319,-0.76665986,0.53453743,0.3889015,-1.851105,-0.15481417,0.34180632,-1.8238999,-2.5759425,1.0750484,1.0339973,0.44492212,1.0253497,1.2283974,1.4043239,0.6107433,-0.45952192,-0.20628446,-1.6077722,-0.7866762,-1.9993546,-0.6847625,-0.45269948]::REAL[]),
        |(5, 2, [-0.03926918,-1.2801263,0.9389616,0.9532576,0.21531937,-2.4069715,-0.53371984,-1.6193751,-1.0289994,0.3038354,0.49466842,-1.7409849,-0.09785956,0.5851981,-0.39423898,0.111242175,0.41321406,0.94176733,0.63469064,-1.0830138,1.1711501,1.9928232,-0.83627397,-0.5036252,-1.5285945,0.56810015,0.68039584,0.22462945,1.5669222,-0.24323788,0.5037234,-0.6536785,0.5723473,-0.356776,0.8047586,0.21760508,0.8717139,3.0779164,0.513355,0.3823857,1.6113216,-2.1093237,-0.13972552,1.1786196,1.4535441,0.051037982,0.8409685,-0.88196933,-0.67692393,1.2599431,-0.3975511,0.19904843,0.6491846,0.6162653,1.2742015,1.6261692,-2.149294,0.0408826,-0.56300104,-0.09657099,-1.1138593,0.09820784,-0.36586893,-1.9708605]::REAL[]),
        |(5, 3, [-1.0172013,-0.10739625,-0.7717764,-0.09031486,1.0473819,-1.7848616,0.44410598,-1.249227,0.4520344,0.2639987,-1.8513007,0.62930924,-0.260542,0.3445649,0.5178679,-0.0066946372,-1.9336324,-2.6920288,-1.5848374,-0.039582282,-1.0038286,-0.8268288,2.5121703,-0.50733405,0.15877694,-0.33990127,-0.007350388,0.987027,-0.5930278,-0.20843236,0.43316168,0.6198604,0.64172435,0.627056,0.679976,0.7005882,0.84644365,-1.9250687,-0.95263714,0.5587027,-0.8783665,0.124943756,-0.7149976,-1.0762132,-0.36267072,1.5571635,0.9053461,-0.6903016,-0.76242894,-0.29907256,-1.6005151,-0.5386813,-0.30574685,0.8704279,0.9559865,0.5475303,-0.097224735,1.2539866,-0.9068516,-2.053627,-0.21673375,0.33708698,0.802123,0.042252332]::REAL[]),
        |(6, 0, [-0.44609976,0.14027393,0.37788844,-0.016033312,0.4022007,-0.6698558,0.41598642,0.07538816,-1.2194812,0.57687455,-0.6488552,1.9042579,-0.6656092,-1.2111553,-0.07993756,0.96013075,0.30487925,0.044019487,0.2954766,0.0647965,-1.8347875,-0.12322256,-0.8368238,-0.03767446,-0.53936124,0.9312859,2.2494333,-0.5782759,-0.40598732,-0.8772893,-0.99099404,-0.9368763,0.22291619,1.387903,2.2172098,-1.0219223,0.18596628,0.21546014,-1.3071029,1.1738377,1.2872633,-0.045190953,0.9013378,0.30119765,0.1885608,1.7213106,-0.038241215,-0.8734868,-0.8743224,0.88706154,-0.113938384,-0.35698318,-1.0307337,0.0564999,0.3527484,-0.47978732,-0.85668314,-0.5921498,0.964196,1.7910713,-0.2259576,0.5255914,-0.6760451,1.3182644]::REAL[]),
        |(6, 1, [-0.4796258,-0.11558204,0.37772208,-1.4643848,-1.3757209,-0.8737486,0.5518202,2.387738,-2.4035819,-0.899006,-0.010560739,-1.0034178,-0.31095353,0.4208907,0.5473446,-0.5578108,-0.7589877,0.18010706,-0.1960884,-1.4610246,-0.3638428,0.55631864,-0.10161762,0.079880215,-1.0386002,0.6649842,0.6378836,-0.6940691,-0.10986796,-0.8908545,-1.1800393,0.5693004,0.8013397,0.7544293,1.4602301,-0.19274594,-0.16738917,0.50063497,-0.25392073,1.682086,0.8960169,1.1576294,1.4249786,-0.37314433,3.2215884,0.1780884,0.56166047,0.8886529,0.6168854,1.7308326,-0.87121445,1.1150328,-0.4643228,-0.13018368,1.340675,-0.3372874,1.4239833,-1.1764975,-0.65344584,-0.6283273,-0.22990233,0.20521651,1.0323449,0.809308]::REAL[]),
        |(6, 2, [1.6776825,0.22307722,-0.89997697,-0.61170226,-0.2617458,0.46046504,0.23044765,0.5911724,-1.6663405,0.9423332,0.4218831,-0.28277448,-1.1299067,-0.089194655,-0.88575906,0.108355835,-0.48048946,-0.42893863,1.2928613,-0.97875404,1.1269498,-0.106758006,-0.06392041,-0.5793846,-1.0139283,0.92678607,-1.2750009,0.16359821,1.3967563,-0.28335023,-0.49129358,0.26449913,1.2070631,0.51107615,-0.24853839,-1.3866533,0.27598125,-0.7161355,1.0468066,-0.6631181,-0.2196202,-1.1126841,0.06926225,-0.25495332,-0.3478766,-0.6466121,-1.2663275,-0.9003519,-1.1477455,-1.4410291,-1.8175625,-0.40172625,0.8018589,0.020649597,1.1703414,1.5096258,-2.0841768,-0.9966258,0.049005616,-0.25869375,-0.45426074,-0.5212379,1.7997789,-0.15262826]::REAL[]),
        |(6, 3, [-0.92488897,1.3429806,-1.606025,-0.6899168,1.502739,-0.5049008,-1.7743243,1.2549864,0.5244354,0.5581584,-0.23867364,-0.26866645,0.25257012,-1.2259101,1.0287093,-1.1982101,-2.074786,-0.43033248,1.0536113,1.4369844,0.08735091,0.63552076,-0.91206545,-1.770182,0.65263236,1.6482116,0.5418579,-0.051042803,-0.94081587,-1.9099915,0.434618,-1.789054,-0.6952295,-1.0418179,0.8645906,1.2126513,-0.14931247,0.15160799,-0.28391752,-0.76571083,0.58927184,1.0304685,0.85414946,-0.5003128,-0.09515917,-0.29037443,-0.66089493,0.31345814,-1.2753495,1.3289922,-0.26760578,-1.2746266,-2.3385448,0.2944524,0.8212577,0.67934924,0.5967736,0.7128649,0.5745613,-0.51084495,-0.5215391,-1.1743221,1.1317667,-0.23917729]::REAL[]),
        |(7, 0, [0.06305683,-2.1476984,1.3867191,0.13056198,-0.08684403,-0.70265424,0.30070367,-0.5627678,-0.22914322,-0.41974252,0.588714,0.04133307,-0.22668703,-1.516374,-0.92502743,-0.71376914,0.54893094,-0.14489916,2.4595137,0.15325603,0.58836156,0.38022244,-1.700186,0.8740797,-0.854797,1.5193825,-0.9609029,-0.26425242,-1.6544137,1.8745518,1.1515281,1.7577312,1.4296066,1.3300147,-0.08849664,1.6873788,0.29921356,1.3920287,0.8852703,0.85801685,-1.0615736,-0.69159806,-1.3130782,0.4610389,0.61283296,0.5772,1.7106155,-0.19495808,0.40587956,-0.34008518,0.91226923,-0.47059527,0.42773777,0.29134753,0.7339294,-0.47847643,0.7550542,0.4400196,-0.67544115,-0.57802576,2.6539266,0.2857918,-1.0365521,0.2407044]::REAL[]),
        |(7, 1, [-0.556617,-1.0702306,-1.6733772,0.4798448,-0.09146408,-1.0096248,0.02805272,1.1414814,0.056253705,-0.11901822,0.40710637,-1.6597424,0.5583012,1.3154204,0.8050769,0.77868694,1.6495185,0.1581775,0.1671376,-1.4572237,-0.01643066,0.63570213,-1.1682646,0.193274,-0.42331114,1.1514955,-0.14274448,2.4057288,1.1012312,0.6771309,0.26375216,2.115423,1.4858509,0.7694225,-1.2280612,-1.9061155,-0.10350611,-0.31834143,1.013761,0.031322837,-0.07394022,-1.1894615,-0.7147238,-0.10364894,-0.68510526,1.1619759,1.609646,-0.04050761,1.3978249,-0.33020788,1.3130696,-0.122336045,0.059999432,1.8237989,1.6521257,0.8602108,-0.23168725,1.2682294,-1.6222003,0.73273486,0.7973442,1.3026732,0.6376914,0.43362543]::REAL[]),
        |(7, 2, [-1.0339466,1.3006696,0.16007711,-2.0350895,-1.3088402,1.2246952,0.52632886,0.20416065,-0.3639984,-1.4656845,-1.8340564,0.41682035,-1.57247,-1.5633562,0.45428827,1.0911407,-1.9346927,-0.9030172,-0.009847258,1.029306,1.1766441,1.1765927,-1.9288701,-1.4887885,0.41514504,-0.21301793,0.35314104,-0.61532426,0.26587626,-1.202779,-0.17291205,1.371236,0.84378976,0.7890683,-0.2281121,-0.8867146,1.6937038,0.34827092,0.8024406,-0.026659632,1.4175771,-0.114869244,-0.034890514,1.400617,0.19675568,0.29503074,0.9415648,-0.64135474,-0.59059566,-0.21317054,1.2098185,-0.11089959,1.1851586,-0.8650561,-2.1445348,-0.14041926,-0.5315434,-0.9211766,-0.7771415,0.61875665,0.53951055,0.5090443,-0.13550426,0.2222063]::REAL[]),
        |(7, 3, [-1.6573023,-1.8584775,-0.21526454,0.06632187,-0.32366976,-1.3056808,0.3241371,0.19980331,0.6413385,0.26166528,-0.17855604,-0.26761952,0.4463276,1.1344373,-0.46769515,0.32531247,-0.55206406,2.5291805,1.3044819,0.7159536,-0.50621533,-0.4703148,-1.1949838,-0.37426072,-1.5922945,-0.032291442,0.6001909,-0.1558946,1.1910053,0.8601205,0.42316464,-0.2827673,0.36852917,0.74597085,-1.2002157,-0.21139628,-1.8327159,-0.017875085,0.9340136,1.0863868,-0.14117368,-0.605964,-0.43329233,-0.31863254,0.06010809,-0.005990455,-0.46372506,0.3784556,-0.21690735,-0.20738699,-1.458674,-0.23507641,0.92521983,-1.5932279,-1.2049524,-0.177138,-1.5026863,-0.6762005,-0.51229817,0.8484876,1.5612814,1.6996258,-0.84498036,0.7791882]::REAL[]),
        |(8, 0, [-2.1587608,-0.4713011,-0.9610902,1.5700834,-1.4116799,-0.5594921,-0.88660115,0.26189697,-0.43381402,-0.55498475,-0.9344664,1.9653045,0.20666952,-2.1358464,0.34720007,0.995247,-0.5932981,-0.39852816,0.19458042,1.5632379,-1.3000045,-0.32171407,-0.5685473,-1.1563843,0.8065428,1.5099825,-0.709168,0.09303407,0.83109343,-1.4281116,0.022725895,0.3181088,-0.34068546,-0.4486773,-0.9102864,-0.30029127,-0.64526623,1.0443162,0.7054003,0.1770779,0.6118683,0.38177648,2.2602758,0.9224538,0.54452205,-1.3361564,-1.2045131,-1.0275537,-0.7476164,0.84570605,-0.22702503,0.2691512,-0.21464898,0.92550266,0.38407603,0.019170128,0.2572778,-0.7045164,-1.0233908,1.3449764,-0.13495088,0.67054665,0.025602221,0.25218007]::REAL[]),
        |(8, 1, [1.5454645,0.5196428,-0.18793428,0.39501256,0.0067859706,0.61547226,-1.1911479,-0.68077266,-0.07877842,0.61409754,1.1532115,-0.741487,-0.9845786,1.9100932,0.18073632,-1.024921,1.669709,-1.4455434,0.59361863,1.9483352,-1.930496,-1.2567422,-0.14354943,1.2464434,1.2695814,-0.09769751,-0.80018073,-0.038525287,-0.58284354,0.23414306,-0.23861165,0.4327906,-0.1751343,-1.0937018,-0.46975532,-0.40226954,0.96726793,0.85497785,0.99888766,0.7067689,-0.29015973,0.81958187,-1.1962183,1.1589757,-1.3870524,-0.7315095,0.17519438,-1.0823326,-1.0045886,0.28014696,1.22745,1.0684364,1.440663,-1.0205523,-2.9306505,0.6069294,-0.8779596,0.5543142,-0.9568777,1.2931836,-0.4484093,1.0319631,-0.79565054,1.1632123]::REAL[]),
        |(8, 2, [-0.7531201,1.1776229,0.13685945,0.10678688,-0.16191174,1.7318988,0.47490624,1.3244812,0.498056,0.49019668,-0.045269933,0.29382125,-0.07916926,-0.20393969,0.17304593,1.4157764,1.2769115,0.7812549,0.89393103,0.82040375,0.23302536,-0.75101626,0.45267543,0.23276703,-0.21710427,0.9618062,0.094581194,-0.35288393,0.29881516,-0.07687411,0.7059995,0.58222187,-0.4268914,1.9298813,-0.57597905,1.0612688,0.4013347,0.07757625,-1.5648359,0.5394818,-0.47492808,-0.6132746,0.83603287,-1.0264468,-0.8716169,-1.2524433,-0.8593646,-1.8169781,1.6384131,0.58729345,0.34325275,0.15842004,-0.3836181,-0.33456713,-1.2641695,-0.67379296,-1.7502936,-0.15986103,-0.9024601,0.7962367,0.5877879,-0.014396746,0.20727843,1.4653229]::REAL[]),
        |(8, 3, [-1.6338,-0.19233145,0.22070843,-0.08763105,0.8382838,1.2836211,0.739464,-0.3648811,-0.037011556,0.7680253,0.8654459,-0.9391023,-0.032062504,-0.11105292,-1.0875493,-1.1268061,-2.063777,0.512339,0.9515416,-0.498423,0.72477067,-0.6397771,-0.8192807,1.0371848,0.5266006,0.3537046,-1.2696414,0.3437212,-0.5372416,1.3294945,1.1105082,-0.48839062,1.2446635,-0.34104216,-0.6586557,-0.5752838,-0.670717,-1.1936206,1.6278875,0.39666277,0.8475296,0.3887695,-0.31827554,1.5809989,-0.6730321,0.08101526,-0.76130617,0.011838279,1.2092177,-0.24259095,0.08226052,-1.6266071,-0.3167748,0.29663408,1.3246157,1.5627558,0.72092867,-0.84409773,-1.2816199,-1.5099568,0.67256296,0.035369065,-1.822536,1.132472]::REAL[]),
        |(9, 0, [0.98859245,1.5372566,-0.03225032,0.45468155,0.3029798,-0.7361429,-0.6884344,1.1652815,1.0058163,-1.0456288,1.7241794,-0.37778744,-0.5718835,0.038795322,0.8914701,-1.589354,-0.7421748,-0.88621986,1.7976387,-0.86016095,-1.0325526,0.2576587,-1.6642416,0.27997655,1.338568,0.8159437,-0.66422,1.0063591,0.080798715,-0.6456334,-1.4202064,1.1134626,1.3068172,-0.055340722,-1.6774688,0.6189787,-0.13855512,-0.7219295,0.4909523,-0.5718719,-1.6130395,-0.76068527,0.34542727,0.85534936,-0.27374145,-0.19396134,0.5094778,2.8795629,-0.41134673,0.26556197,0.39909294,-1.3417056,0.7418924,0.6294177,0.74455935,-0.40693143,-1.1763327,0.827809,0.6079874,1.0641657,-0.998605,-0.022078019,-1.9229761,-2.029157]::REAL[]),
        |(9, 1, [0.36287862,-0.42476082,-2.0143862,0.11947337,-0.6279737,-0.52202344,-0.12603684,-0.19689551,0.438203,0.48338604,-0.60292155,-1.5347159,-0.8898332,0.4453566,-0.52703714,-0.04302998,-0.77245015,0.11078426,-1.2036589,0.7095424,-1.8482934,-0.14215283,-0.2491871,1.8747883,-0.17108877,0.5951702,-0.2579474,0.95378345,-0.43965927,-0.39823526,-0.35683787,0.76731086,-1.1852593,1.2089214,-0.8201179,0.7205533,0.21208571,0.29627374,-1.251292,1.0013218,-0.49346852,-0.5463293,-0.674224,-0.8206728,0.22458972,0.43926746,-1.1999097,0.61601573,0.097624935,1.2867515,-0.4001576,-1.1074437,-1.1886032,-0.3518605,-0.15289448,-0.16359642,-0.49728182,-1.0473763,-0.39188018,0.8117062,-0.21179374,-0.4982924,0.48430824,0.11587504]::REAL[]),
        |(9, 2, [-2.4894667,-0.74173623,-0.12624522,-0.31576183,0.5781822,-1.885981,1.644801,0.045135513,0.79209036,1.181377,-1.2580671,-0.16412169,-0.17178865,0.29184818,0.28457358,-1.6226879,0.74528635,-0.64584786,0.6059907,-0.45225912,1.0334563,-1.6056117,1.31573,0.028234737,-1.3789566,-0.024770085,-1.4181619,-0.08745549,-0.6356566,-0.30970824,-0.07463888,-1.4211413,1.0970094,1.7085189,0.4289294,-0.045724247,0.054637417,0.32581562,0.49025398,0.65736306,-1.3809764,-0.064134225,1.7348124,-0.010232754,1.5604393,1.4948705,0.6580041,-0.72313267,0.11913448,-1.6181669,0.5490411,0.81838095,0.30285704,0.48695138,0.1831248,0.7809749,-2.8275106,1.3055507,-0.15080984,-0.07228511,-0.5847018,0.72015476,0.001048211,-0.5211168]::REAL[]),
        |(9, 3, [0.7303425,0.52125406,0.21646403,-0.13273332,0.18187891,1.3299575,-1.2238086,0.08666686,0.7777895,-1.2473413,1.4917057,0.09855678,-0.17940994,-1.4507498,-0.51936877,-0.23115008,1.281692,0.88880277,0.36665887,-0.686989,-1.9582374,0.7350822,-2.0292284,-0.36019003,1.3879637,-1.5899448,-0.78378695,-0.0619727,-0.3018611,-1.46298,-0.22770678,0.55850136,-0.6060161,0.6059008,0.27159524,0.43963563,0.09836406,-0.018795608,0.5353215,0.09849368,0.15027083,-2.2953978,-0.71389353,-1.9932837,0.30126968,-0.21506938,-0.49560925,0.31790227,0.23555121,0.7921035,0.37800455,-2.1334085,-0.24055095,0.29203272,-0.26092964,1.4577436,-0.68716526,2.2777913,-1.3729595,1.2165912,-1.3208946,-0.74054736,-0.8787005,-0.042203814]::REAL[]),
        |(10, 0, [-0.15548763,0.4240301,-0.8126416,-0.5044782,-0.09056677,0.3540661,-0.08283027,-0.5811156,1.9462218,-0.34975222,0.38775864,-0.012388437,0.25849724,-1.3199053,0.86908346,0.704365,-1.9964092,0.14085987,0.42133814,0.3073798,-0.93923575,-0.57879764,-0.40709803,0.37204713,-0.09632247,-0.10466279,0.5452404,1.0708178,-1.897975,0.6853059,0.16944705,-1.7289699,-1.3241777,-1.0273349,0.88632286,-0.19269754,-1.981869,-1.4283553,-5.128171E-4,-0.9292436,0.10475961,0.77088743,-1.1612806,-0.9144379,0.85728997,-0.27995768,0.21706927,1.034788,1.7432017,0.3957939,0.19786137,0.5564446,-0.37018642,1.4550574,0.9226733,0.98597974,1.1867286,1.2219282,-0.14444913,0.723787,0.16157104,-0.9202071,-0.52697426,0.20567684]::REAL[]),
        |(10, 1, [-1.5466232,-0.18085806,0.0060075056,-0.21467747,-0.7794116,1.615468,-0.82922864,0.11373371,1.3184975,-0.60265756,0.4617796,0.9295572,-0.22144806,0.067223005,1.1223853,0.54607666,0.15646522,1.5101832,0.6891434,-0.86825335,-0.11288761,0.49582437,1.979473,-0.0980987,0.38717064,1.8969924,-2.0521681,-1.0031862,-1.109159,-1.1303567,-1.0933734,-0.28514028,0.21803276,2.4184983,0.6977403,1.002712,1.376709,-0.04199899,-1.1081121,0.32746822,-1.4120578,0.4289979,-0.018019257,1.3188491,-0.13429214,-0.06083309,-0.022301959,-1.6674206,-2.5563936,0.544627,2.047755,-0.6029379,1.7173431,0.72430056,0.9755493,-1.7077754,0.1671356,-1.8193058,0.41056746,0.74976534,-0.3098363,0.21197991,0.32263443,1.2695811]::REAL[]),
        |(10, 2, [-0.009267527,-0.44413647,1.4336171,-1.731801,-0.8890365,-0.7533382,-1.8154644,0.70513433,-0.5514016,1.3192153,-1.5223922,-1.0509927,0.90169805,-0.10117048,-0.34885222,2.0420349,0.38102692,-1.2462815,-0.4811476,0.41410977,-0.7522234,0.53579754,0.76294035,-1.13022,0.16476478,-0.41092452,1.0653363,1.2145269,-0.3263471,1.2005666,0.52616453,-0.09824199,0.73761374,0.22752862,1.1537334,-1.7244714,-0.026256362,0.19569093,1.6128483,-0.69877976,1.9737208,0.8186667,-1.2742362,1.1098716,1.9536642,0.5749055,0.8552666,0.32111037,0.7445199,1.4712882,-1.119197,0.8624552,0.54363865,0.81533396,0.36361378,2.051025,-0.4510624,-0.9924216,-2.1820948,0.30112723,-0.9248154,0.53126675,-0.6775488,-1.2209975]::REAL[]),
        |(10, 3, [1.0421046,-1.3772831,-1.549873,-0.28067166,0.25909248,-1.3944236,0.12502304,0.40702116,0.14443415,0.36295044,0.69399244,0.9479381,-0.21051234,0.04960486,-0.65919846,-0.3985005,0.47162244,0.18511856,0.58596903,-0.694291,-0.253598,1.2285475,1.4128819,-0.30956945,0.6192643,-0.40799564,-0.21928026,-1.2029799,0.29503876,0.09161883,-0.3399427,0.8626156,-0.31238467,0.14815941,-0.12155773,-0.7528419,-0.21427618,1.161948,2.0828764,0.7362497,-1.2089616,0.533287,-1.2179492,-0.07972648,1.5740494,0.52685034,-1.3899995,-0.77520066,0.7627009,1.2255381,-2.0162952,-0.37451982,-0.33811384,-0.09526919,-0.14727807,-1.7505114,0.7250344,0.8166919,-1.5022421,1.733044,0.5120949,0.94280636,0.37807497,1.2350181]::REAL[]),
        |(11, 0, [-0.12838687,-0.721762,-1.2977998,-0.83346415,-1.2981919,1.8607154,1.1275709,-1.2950853,-0.15381119,0.87132514,0.0723091,-0.56253636,1.2101407,-0.31902874,0.56197155,0.27041495,0.9712386,-0.97371924,-0.17930442,0.63184035,-1.5566359,0.7571794,-1.5366639,-1.040269,0.26434964,1.0381851,-0.36042586,-0.72864085,0.4201128,0.50410676,-1.0909107,0.10913307,-1.4794905,0.3208156,-1.0289525,-1.4940351,-0.28756464,1.546006,-0.060328566,-1.794996,0.618302,-1.3857708,0.69917107,1.7862338,0.26175302,0.091870956,0.1265646,-0.013267392,-0.17114279,1.4418772,0.04547985,-1.1999301,-0.85476005,-0.13331269,0.6985511,-0.20456287,0.5566538,1.117448,-0.6000827,-1.5010797,-1.0843844,0.11380013,-1.3060257,0.49722147]::REAL[]),
        |(11, 1, [-0.58213407,-0.35409883,2.6570468,-0.17771251,-0.9499379,-0.7603674,2.9844232,-0.7188045,-0.10355584,-1.2535269,0.44880208,-0.1070862,-0.68387294,-0.2668233,1.3366307,-0.31845945,0.5281435,0.643176,-0.46786535,-0.6586914,0.2748486,-0.6669663,0.21518485,0.07565171,0.2083219,-0.17223741,0.96664554,-0.33486748,-0.836727,-0.13962826,0.50903004,0.5180464,-0.30274013,0.35561922,-0.08735658,-0.18723351,0.33113095,0.27915773,0.7829838,1.9880718,-0.72728413,0.29980806,0.5121348,-2.5679984,0.5155087,-1.1539141,2.131108,0.8473185,0.34253743,0.29608256,1.4081892,0.2760155,1.1197548,-0.94063765,-0.8009224,0.54796386,1.4718162,1.4680208,0.41138247,-0.6161986,-1.1796511,-1.3404976,1.7837263,1.6881515]::REAL[]),
        |(11, 2, [-1.3084732,-6.7346E-4,0.13746057,1.2049954,-1.2513008,-0.55116963,0.3443694,-1.0257119,1.2443775,-0.85165113,-0.2728632,1.4714408,1.5621583,0.7047012,0.67692935,-1.0007308,-1.4187036,0.28775454,-1.316479,0.8038397,0.008076379,-0.89383334,-0.59011346,0.14653967,0.15383445,-0.94092757,0.79369116,0.48534253,-0.6819969,0.9199555,0.93126315,0.36236668,1.6306006,-0.8669442,1.507865,0.2068433,-1.1411582,-2.0426812,0.43452394,-1.2511351,-0.4924607,-0.7683133,0.1893212,-0.16954155,0.45564732,-0.34654576,-0.39200723,-0.9080539,0.612018,-1.5022954,0.21709453,1.1008313,-0.16138442,0.5684559,-0.7239479,0.55942744,-0.9257151,1.2934831,-0.029122071,-1.4517708,-1.0571102,-0.98456615,0.079415455,1.1056203]::REAL[]),
        |(11, 3, [-0.06040014,0.28518355,0.578883,0.5609284,0.822396,1.2142614,-0.28695372,-0.07475739,1.8685606,0.6968142,0.997672,0.6813323,-0.49835047,0.049081955,-1.077229,0.33071342,0.12677151,0.63605744,0.24207065,0.96728504,0.054929405,0.6077149,1.0538335,0.9213949,0.8934373,0.2381794,-0.08247209,-0.17937341,-1.8312726,-1.5131966,1.5673008,0.67190087,0.26892087,0.44022936,1.7176533,-0.98663545,-0.82976663,1.3778903,0.72177804,-0.29454637,-0.6638835,0.15899499,-1.5767062,0.71388876,-2.1154022,-0.28313637,1.2170465,-1.8161421,0.6271151,-1.0970229,-0.77053064,1.7922012,-0.028937502,0.5610147,-2.5053608,-0.02882715,-1.5150151,-0.50437456,0.7163451,0.3060183,-0.45260412,0.85403156,-0.35740587,-1.3148099]::REAL[])),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |keys AS (
        |  SELECT id, tbl,
        |    sum(CASE WHEN dot >= 0 THEN 1 << h ELSE 0 END) AS key
        |  FROM (
        |    SELECT b.id, p.tbl, p.h,
        |      list_sum(list_transform(list_zip(p.pl, b.v),
        |        x -> (x[1]::DOUBLE * x[2]::DOUBLE))) AS dot
        |    FROM b, planes p) d
        |  GROUP BY id, tbl),
        |qkeys AS (SELECT k.id AS qid, k.tbl, k.key FROM keys k JOIN qids ON k.id = qids.qid),
        |votes AS (
        |  SELECT qk.qid, k.id, count(*) AS votes
        |  FROM qkeys qk JOIN keys k ON qk.tbl = k.tbl AND qk.key = k.key
        |  GROUP BY qk.qid, k.id),
        |capped AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, id) AS rn
        |    FROM votes) t WHERE rn <= 320),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |cd AS (
        |  SELECT c.qid, c.id,
        |    1 - list_sum(list_transform(list_zip(qb.dv, rb.dv), p -> p[1]*p[2]))
        |      / (sqrt(list_sum(list_transform(qb.dv, x -> x*x)))
        |         * sqrt(list_sum(list_transform(rb.dv, x -> x*x)))) AS dist
        |  FROM capped c JOIN bv qb ON c.qid = qb.id JOIN bv rb ON c.id = rb.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    1 - list_sum(list_transform(list_zip(q.dv, r.dv), p -> p[1]*p[2]))
        |      / (sqrt(list_sum(list_transform(q.dv, x -> x*x)))
        |         * sqrt(list_sum(list_transform(r.dv, x -> x*x)))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'lsh' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.45""".stripMargin,
    // gram-trick L2 ranks identically to plain L2 here (fp-rounding tie
    // flips would need distance gaps ~1e-13; gate data gaps are >> that)
    "j2_knn_gram" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // CoverTree is exact (recall ≡ 1.0, order-equality with brute force
    // asserted in StretchAlgoSpec) → same kNN oracle as j1_knn_l2
    "j12_covertree" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // streaming index serve: two micro-batches union to the one-shot
    // exact search, so the oracle is j12_covertree's exact-kNN replay
    // verbatim (the cover-tree index is exact; the stream adds no
    // approximation) — hash tier
    "st_index_serve" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // filtered cover-tree: the selector walk is exact over the allowed
    // subset, so the oracle is the same kNN replay with the base
    // restricted by the predicate — hash tier, no floor needed
    "j12_covertree_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv
        |      FROM embeddings WHERE label < 5),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // full-probe IVF (nprobe = nlist) scans every inverted list → exact
    "j8_ivf_fullprobe" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |      FROM q, b),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // HNSW gate rows: the graph walk itself is not SQL-expressible, but
    // the Spark query only emits the deterministic (algorithm, n_queries,
    // recall_floor) row WHEN recall_10 >= floor — so DuckDB reproduces the
    // expected row from the data and a recall regression breaks the match.
    // Since r10 the row also value-checks the walk's RESULT: n_rows must
    // equal n_queries×10 (every query returned exactly k) and n_bad_dist
    // must be 0 (every returned distance equals the exact recomputed L2
    // within the float-kernel tolerance) — see annRecallGated.
    "j11_hnsw" ->
      """SELECT 'hnsw' AS algorithm, count(*)::BIGINT AS n_queries,
        |       0.6::DOUBLE AS recall_floor,
        |       (count(*) * 10)::BIGINT AS n_rows, 0::BIGINT AS n_bad_dist
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    // OPQ+PQ ADC replicated in SQL (hash-model since r9): the learned
    // 64x64 rotation R and the subspace codebooks (both deterministic
    // given seed 42 + the sf0.01 gate data + sample caps) embedded as
    // literals; rotate = per-row double dot -> REAL cast (exactly
    // OpqModel.rotate), then the same encode/LUT/ADC/recall pipeline as
    // the j9_pq_adc oracle over the rotated vectors, GT in the ORIGINAL
    // space. Generated + standalone-validated by dev/DumpOpq.
    // (literal VALUES exceed the JVM 64KB string-constant cap -> chunked)
    "j9_opq_adc" -> Seq(
"""WITH rot(i, rr) AS (VALUES
(0, [0.96118546,0.013243077,0.023383547,0.012593174,-0.06230509,-0.041235656,0.009424548,0.04273654,0.013301128,0.05703253,-0.019824298,-0.023408603,-0.01747633,-0.0064954557,-0.0029785738,-0.020546336,0.041861363,0.021290867,0.0404735,-0.03055488,-0.024283227,-0.0058257864,-0.043963157,-0.023383696,0.06873241,0.0025028524,0.027798707,0.03749055,0.03058914,0.053339463,-0.017230222,0.022210069,-0.017186752,0.01440634,-0.026169429,-0.02430428,0.013149844,0.026144773,0.014075952,-0.045689624,-0.015082857,0.058368728,0.053816907,-0.013515185,0.01307593,0.0024578092,0.0035985713,-0.048879404,-0.065756105,0.019177524,0.018179033,-0.07236828,-0.0054598413,-0.02421706,-0.08871243,-0.04542014,-0.04189688,-0.011965413,0.012607785,0.040247113,0.0058882562,-0.059190802,-0.010859232,0.029661732]::REAL[]),
(1, [0.0031018367,0.9479308,0.027832706,0.006723832,0.041852422,0.008357255,0.0044548833,-0.021518052,-0.047583457,-0.045200013,0.015188026,0.044855535,0.06855424,0.034778804,-0.0048150136,-0.0432695,0.043271422,-0.052452926,0.05987072,-0.021501388,0.045160897,-0.01836675,-0.009400756,0.03234806,0.0073919115,0.020554502,0.0012700451,-0.025370114,-0.058551867,-0.021144638,0.06605901,0.043498147,0.013285014,-0.014568326,-0.009922532,-0.029259648,-0.004275392,0.036965244,-0.006764361,0.05415608,0.017911019,-0.11393254,0.10169462,0.013438228,0.021448895,0.024957092,0.023951834,0.04856317,0.014559867,-0.0722259,-0.005492538,0.044673406,-0.04039549,-0.05380764,0.0069092023,-0.02124294,-0.027916528,-0.04320404,0.014429838,0.07294055,-0.005938245,0.009014173,-0.017342795,-0.0767148]::REAL[]),
(2, [-0.019113952,-0.0030457643,0.9418027,0.006213494,0.026983535,-0.024919476,0.0048323907,0.063050225,-0.011220324,-0.010356295,0.004257052,-0.05713774,-0.009898661,0.020026796,0.07033367,0.003928613,-0.023201585,0.06979405,0.029976452,-3.6851998E-4,0.07843498,0.066458166,0.0558719,-0.030723985,0.016872922,-0.043708753,-0.022774069,0.03488506,0.040034767,-0.05149601,0.00508126,0.037441783,0.06085881,0.014861892,-0.082563855,0.01437831,-0.012592886,0.0022509068,-0.026703773,0.03739399,0.029091436,-0.021369142,-0.058956273,-0.042318184,0.083798915,0.044939402,-0.08307062,-0.04307091,0.026738835,0.11531286,0.006990276,-0.036528092,-0.00463472,0.061302356,0.026269875,0.0136202555,0.011113417,0.06999357,-0.016485406,0.029486308,0.038577564,0.016767524,0.042712234,0.017759906]::REAL[]),
(3, [0.005872536,-0.0147913685,-0.02121603,0.9575024,0.023374157,-0.035033293,0.0018690742,0.017865682,-0.029675188,-0.016110297,-0.037414063,0.03870123,-0.057049386,0.032878503,-0.05044929,0.10021494,0.035243243,-0.0012991532,-0.0529865,0.03298559,0.027590372,0.08466425,-0.014596331,0.040226124,-0.005324527,-0.03408725,0.024196606,0.010223433,-0.041867007,0.004265332,0.029571373,6.9589785E-4,0.00834471,0.014120968,-0.06288965,3.40426E-4,0.002720264,0.034310088,0.023943255,0.02531643,0.048495896,-0.001984865,-0.03705353,0.04071401,-0.0064344867,0.03260936,-0.035976548,0.06354805,0.01595703,-0.059229627,0.01590593,-0.037913486,0.017090783,0.03098946,0.045139607,-0.012274281,0.014017166,0.027376447,0.062963344,0.03913844,0.030986866,0.05035937,0.03864215,-0.03506176]::REAL[]),
(4, [0.04918229,-0.037190318,-0.01850837,-0.009090167,0.9419896,0.008151787,-0.01172497,-0.008203935,-0.010718146,-9.4372535E-4,0.049368072,-0.01171892,-0.009018549,-0.03650551,0.030530093,0.0012601583,-0.017091962,0.020108959,-0.08153992,-0.08452599,-0.07898725,-0.026532859,0.0030771662,0.049356263,-0.048439816,0.009545598,0.022726504,0.03215534,0.05993375,0.06452812,-0.051661573,0.03403379,0.017040944,-0.0030072941,-0.0029262616,-0.033960816,0.05008031,0.06394686,-0.01738662,-0.06019729,-0.050830293,-0.0350302,0.011297562,0.02055712,-0.04260772,0.013628167,0.03483699,-0.028608533,-0.0140686035,0.09267335,-0.09116605,-0.0028217512,-0.033479188,-0.07760704,0.04017473,-0.0023951184,-0.033994857,0.036686435,0.018829938,0.10746654,-0.013973492,0.042020436,-0.032491595,1.4621294E-4]::REAL[]),
(5, [0.044201963,-0.0069257896,0.025541876,0.023325138,-0.026073156,0.9567766,0.0066267345,0.020314561,-0.026584731,0.0107110785,0.006451635,0.04855275,0.028996097,-0.028858753,0.008139795,-0.01398291,-0.007154107,0.042779602,-0.06573582,0.043342624,-0.06352034,-0.022131337,0.002331185,0.06416953,-0.019584607,-0.004334601,0.07681236,-0.003727679,0.004656213,-0.06164216,-0.04092743,0.015105249,-0.0018414076,-0.044603437,0.024178356,-0.034097873,-0.02647347,-0.02283555,-0.039342895,-0.0029203743,-0.07171474,0.021436753,0.012851785,-0.010154725,0.045240894,-0.03043923,-0.062544,-0.0049835336,-0.01459066,-0.044874657,0.025018286,0.0070892307,0.059061594,0.016385093,0.057779524,-0.013803378,-0.008487327,0.044643037,0.027763983,0.09043677,0.06709221,0.010061484,0.028521976,-0.019983646]::REAL[]),
(6, [-0.009773933,-0.0011043763,0.0010324812,-0.013271305,0.00753789,-0.021207763,0.9444362,0.025100747,-0.037690166,-0.017520957,-0.0025483142,0.022133121,-0.026754279,0.041207083,-0.041396126,-0.043976996,0.09473265,0.0014680871,-0.029432446,-0.013986617,-0.051519297,0.008320157,-0.05838135,0.004337231,-0.063835934,-0.006247408,-0.030066483,0.08686928,-0.02037292,0.046482675,-0.02757474,0.006725364,-0.015629046,-0.049462516,-0.07665145,-0.034918506,-0.042325314,-0.084642686,-0.050141193,-0.04925621,-0.013495158,0.05769576,-0.016087165,-0.0015910905,0.007789449,0.0097248675,-0.056458768,0.0643015,4.3480276E-4,-0.011397583,-0.08715744,0.057239164,0.037675958,0.0036460105,-0.038333125,0.039192792,-0.026820846,0.008487883,-0.07084734,-0.015874857,0.052603763,0.012147515,0.022947349,-0.07958102]::REAL[]),
(7, [-0.020016974,0.033818077,-0.077162825,-0.021367233,-0.012733187,-0.033002224,-0.021093858,0.93579394,-0.03587538,-0.01908701,0.095964715,-0.007925729,-0.06741806,-0.080575675,-0.04732151,0.046849832,-0.113805406,-0.00980049,-0.00679612,0.031673178,-0.027596267,-0.003617274,0.050587617,-0.0021395877,-0.011371332,0.030319758,-0.08109815,-0.018027592,2.7524607E-4,-0.03653335,0.014726828,0.053456355,-0.0073816283,-0.052219477,-0.022117686,0.050782014,-0.035993986,0.053942125,-0.049113818,-0.09148035,-0.014483324,-0.025964038,0.010829185,0.004598481,-0.015195404,-0.05024209,-0.0062010176,-0.034436144,-0.014743981,0.0560589,0.065349236,0.04560655,0.007125635,0.029013038,0.026285836,0.010556363,-0.030615995,0.03879169,0.013386555,0.008257975,0.05596337,0.09923071,-6.1452965E-4,-0.07440998]::REAL[]),
(8, [-0.011610512,0.070528075,-0.008701693,0.004106566,0.021038577,0.020062907,0.043789953,0.03784679,0.92921436,0.008329052,-0.001155173,-0.025522327,-0.02632624,-0.0388136,0.041206475,-0.0020229458,0.05485494,-0.07017771,-0.09302819,0.025920425,0.03295297,0.107050456,-0.007728196,-4.574178E-4,-0.01117523,-0.0982391,0.07136139,-0.024230732,0.048982482,0.01494781,-0.014173299,0.029502533,0.011801865,-0.0077994387,-0.020861035,0.011278746,0.02153453,0.0023806705,0.011498362,-0.08502077,-0.017855706,-0.06609821,-0.10287681,0.022941882,0.058872055,-0.028707884,-0.045192,-0.017981974,-0.006629856,-0.058261022,0.04093705,0.03364619,-0.031920426,0.04184992,-0.046983413,-0.121339254,0.054294236,0.07535946,0.037851382,-0.061036758,-0.03930491,0.0040773465,0.013039145,0.031861216]::REAL[]),
(9, [-0.047990285,0.043491818,-0.0018140153,0.0043517365,0.02504743,-0.012725681,-8.3075545E-4,0.010895943,-0.005299031,0.9528616,0.0063459026,0.0018693305,-0.019361323,0.058834005,0.0013663928,-0.018681925,0.018567508,0.033727515,0.0076956847,0.11228375,0.0062907254,0.0062664677,-0.076439396,-0.010962992,-0.015869884,0.089268446,-0.048542116,-0.010923368,0.007701347,-0.00836351,-0.016315516,0.04645031,-0.020868665,-2.7848058E-5,-0.05664772,0.036269367,0.08402006,0.014176364,-0.03972378,-0.00940847,-0.018674599,-0.007089107,-5.797952E-4,-0.023799902,0.054528333,-0.008503037,-0.029863046,0.011842802,0.024207423,-0.027610116,-0.027265372,-0.0055814814,0.044446353,0.08421953,0.050331675,0.016768726,-0.030815795,-0.081646435,6.633824E-4,-0.012661525,-0.04724929,0.032237664,0.07225713,-0.004914687]::REAL[]),
(10, [0.020681765,-0.009327383,0.0068127783,0.03329927,-0.041799836,-0.0035558436,0.006191344,-0.078280784,-3.5234858E-4,0.013166836,0.965379,0.013122107,-0.0048603667,-0.061079375,-0.10582152,0.002388974,-0.0102507,-0.031826317,0.0339193,0.0072304006,-0.007629702,0.019176403,0.03250792,0.032784745,-0.03212021,-0.062132042,0.0013856394,0.03218867,-0.028717577,-0.030308358,-0.05377544,-0.008809742,-0.0114084175,0.0061218487,-0.02368992,-0.01419163,0.0104549285,-0.0034475033,0.0042899325,0.07688909,0.004598413,0.017707368,-0.04046846,0.01414007,0.0052789017,0.009000239,-0.017238557,0.020082679,-0.0018535908,-0.015534386,-0.015763763,-0.0039778054,-0.022799922,-0.020922085,-0.04053863,0.024715867,0.025413081,0.017757,0.013783106,0.0042015235,-0.06630517,-0.07705876,4.0325423E-4,0.049340725]::REAL[]),
(11, [0.024845082,-0.029863998,0.056685314,-0.042693384,-0.0024581898,-0.049170874,-0.023242073,-0.0014643739,0.0134114055,0.031582214,-0.008425539,0.9415277,0.048567627,-0.05676174,0.055165596,0.11599486,0.026230166,-0.0024140044,-0.025896596,-0.07372561,-0.062767684,-0.0029135917,-0.013091255,0.019220691,0.003846833,0.0024517654,-0.024870234,0.020517118,-0.05601827,-0.039548762,-0.02085611,-0.0163573,0.02335206,0.09435314,0.019005178,0.06198957,-0.037638146,0.05183828,-0.014929277,-0.01670165,-0.0055075916,-0.040290434,-0.03424024,-0.052818004,-0.04164485,-0.008254779,-0.0049926084,-0.005949058,-0.034288373,-0.037867155,-0.025996193,0.008685423,0.010098273,-0.03478367,-0.06256598,-0.025715869,0.010677684,0.1263877,-0.056108,-0.05670235,0.041834403,0.06065586,0.007855138,0.002579041]::REAL[]),
(12, [-0.0071203155,-0.077416815,0.0020619605,0.03731288,0.0025718512,-0.036210317,0.024419947,0.08512436,0.050787207,0.015647825,0.013938462,-0.057454664,0.9350033,0.018651027,0.0023123855,0.012648197,0.040314704,-0.0017228782,0.027190315,5.5455824E-4,0.05718095,-0.07107627,-0.004397025,0.05389712,0.045182757,0.046459667,0.08284644,0.10055898,-0.12313219,0.06571552,0.008797753,-0.017945537,-0.02302937,-0.01347289,-0.06956779,-0.043811038,0.06293015,0.0648722,-0.010762314,0.0035086917,-0.031962197,0.011727208,0.045058083,-0.06705441,0.02719382,0.031570274,0.01855023,-5.663476E-4,-0.0032705665,-0.029479967,0.03264665,-0.07695984,0.045074508,-0.03199821,0.0439363,0.045707677,0.027607555,0.057029285,0.023251243,-0.0073802834,0.027725711,0.036259353,-0.022225419,-0.0014125141]::REAL[]),
(13, [0.01254284,-0.012892235,-0.01678919,-0.030008458,0.030261755,0.035605863,-0.03827701,0.0656016,0.0384703,-0.05455907,0.072604276,0.056527097,5.697449E-4,0.9561829,0.021398349,0.010342069,-0.019914351,-0.06276052,-0.031729322,-0.0135924425,-0.047435377,0.009829347,0.037730373,-0.014965182,0.048251446,-0.03801909,-0.044127867,-0.036999445,-0.017053502,0.0015690841,-0.056332067,-0.04546384,-0.06248871,0.018359927,0.02678737,0.044499982,-0.03230001,-0.0118155,-3.1108197E-4,-0.050340418,0.022090817,0.029943159,-0.025010569,0.04735906,-0.023999605,0.075173624,1.2064514E-4,-0.06490386,-0.026885448,0.038335934,-0.030376993,-0.04037621,0.03491527,0.05286767,0.039883263,-0.02604431,-0.020530108,-0.038055662,0.008694776,-0.025478581,-0.018082185,-0.013770525,-0.0026397593,-0.033569008]::REAL[]),
(14, [0.005483499,0.0026828873,-0.07974544,0.05452926,-0.023940042,-0.021909256,0.04606174,0.007520624,-0.035516247,-0.008627234,0.10939089,-0.055048317,-0.017946571,-0.019556535,0.9401858,0.018317936,-0.01702248,0.015126455,0.01979819,-0.009202427,0.022053065,-0.028145242,-0.0026837124,-0.023668738,0.053814378,0.073820285,0.06323079,-0.06979075,-0.06414448,-0.04323606,0.045368515,0.08031395,-0.068240955,0.030727059,-0.032496925,0.007830875,-0.009693497,0.0015214519,-0.03696071,-0.027247708,0.033795167,-0.0055241147,-0.01843027,-0.006106789,-0.026695894,-0.021973256,-0.013170219,-0.030336777,-0.06960357,0.009570695,0.010841121,0.106768355,0.06724914,0.0012203701,0.042131532,0.039483517,0.03075544,0.042620912,-0.021874852,0.030288106,0.03646086,-0.072808,0.060543034,0.0011227389]::REAL[]),
(15, [0.020541117,0.04924303,0.008808244,-0.08971212,-0.0062575922,0.009017214,0.03991588,-0.06034095,-0.020319633,-0.007015112,0.0067042504,-0.10316121,-0.035436787,0.0059980927,-0.0215679,0.92614585,0.058427565,-0.022608338,0.0149215665,0.067101024,-0.022117415,-0.057774883,0.047300823,0.033298675,-0.03817193,0.04864007,0.0706787,0.03672557,0.019208007,0.121616565,-0.035023212,-0.047657788,-0.01733563,0.06360895,0.015955426,0.0074596866,0.043481443,0.03669083,-0.017329399,-0.056824606,-0.010019634,-0.062027406,0.0032813577,-0.05575509,0.0802649,-0.08738801,-0.012757939,0.028534027,-0.005937235,0.023302756,0.06278315,0.04041928,0.064766556,0.11109454,0.019765606,0.0017500642,0.03417542,-0.020866098,-0.0036487214,0.018059714,-0.039174084,0.0059889285,-0.06998642,-0.057709493]::REAL[]),
(16, [-0.032753877,-0.041568406,0.011142116,-0.03147908,0.022703413,0.033131007,-0.10231407,0.105376914,-0.031155163,-0.02236707,0.020943198,-0.02909364,-0.07613961,0.008186552,0.017779227,-0.068507835,0.93817383,-0.014607454,0.013776951,0.027244061,-0.013219937,0.029008457,0.068456836,0.0019317043,0.015877848,0.04852001,0.024471994,-0.013845085,-0.098487794,0.018137787,-0.009482064,-0.007593592,0.022034882,-0.01439515,-0.045163963,0.041078262,0.022491109,0.0116619505,0.022929246,0.031930286,0.0037677914,0.0067715505,0.047507863,-0.10102728,-0.07402941,0.04276443,0.077318214,0.08082465,0.027146844,0.075416215,-0.0063752364,0.003041074,0.018963816,0.05351263,-0.046056155,0.041963544,0.0039634425,0.040946662,-0.018505454,-0.047432,-0.023248125,0.017327944,-0.031340256,-0.005996062]::REAL[]),
(17, [-0.010344057,0.06977335,-0.06779426,-0.0023596913,-0.017716961,-0.03714371,-0.0012558589,-0.007396109,0.08303728,-0.041681457,0.03280999,-2.2870224E-4,0.0051908945,0.045251787,-0.02710722,0.020685272,0.0044178255,0.9573028,-0.029055683,0.015944287,-0.057262886,-0.023338493,-0.039712515,-0.009000501,0.013743446,0.008675414,-0.0110667255,-0.05144877,-0.032926932,-0.038018342,-0.08446352,0.040297575,0.08512931,0.027550185,-0.0107291555,-0.001170338,-0.003639243,-0.01956094,0.024578247,0.013063135,0.04580377,0.033576712,-0.013384841,-0.030345172,-0.04930545,0.017873505,-0.0025454448,-0.023683382,-0.017844908,0.036267776,0.013675188,0.0080641555,0.02004808,0.014525067,0.020027358,0.062136512,0.05403784,-0.0033552118,0.052045815,-0.038674388,-0.014396257,0.029149456,-0.060105752,-0.053615794]::REAL[]),
(18, [0.0065800897,-0.05708939,-0.03823283,0.022577573,0.08909045,0.044335935,0.036133304,-0.0029340615,0.083094425,-0.009337021,-0.031039508,0.026677575,-0.06113078,0.03187458,-0.032828014,-0.026885008,-0.025998814,0.024918174,0.92683077,-0.022962794,-0.035759848,0.06613337,0.0499068,-0.02949653,-0.062181864,-0.026797583,0.07979002,-0.004919932,-0.059595022,-0.006304609,-0.012633385,0.0062931916,-0.07361479,-0.030665332,0.020590175,0.007210391,-0.02530107,0.056576166,-0.015748136,0.0066709444,-0.010499635,-0.08425698,-0.042057954,-0.060128562,0.0056223613,-0.012089458,0.028240416,-0.02346543,0.080838665,-0.08894894,0.045459602,-0.011669888,0.028376915,0.033750042,0.10755016,0.10123525,0.10226552,0.038889114,-0.007072901,0.002675018,0.055231564,0.04682191,0.028764367,-0.008599002]::REAL[]),
(19, [0.040194135,-0.01867082,0.026787112,-0.05231591,0.07228135,-0.058545902,0.005928119,-0.039317936,0.006765831,-0.11129007,0.008787026,0.07710343,-0.016638406,0.012840823,0.01389396,-0.06755418,-0.036466815,-0.012115988,0.007987728,0.9349877,-0.019413387,-0.06415524,-0.010364066,0.022827018,-0.024131233,-0.035683583,0.012672805,-0.036206223,-0.032304294,0.00427582,0.04483498,-0.0018406791,0.027298225,-0.0056591723,0.014593553,-0.029603526,0.10241879,0.059349407,0.006404706,-0.038009297,0.0120314015,-0.023083657,0.06787151,0.029784579,-0.073277354,3.0420706E-4,-0.014093893,0.119584024,-0.01684733,-0.039513484,0.030471692,-0.07231552,0.04436631,-0.010947063,0.020924762,0.019761574,-0.049330354,0.0067659034,-0.008925829,0.028984597,0.10817613,-0.017186435,0.035861112,-0.049229994]::REAL[]),
(20, [0.03495468,-0.053352658,-0.06356698,-0.0483413,0.067889296,0.067923024,0.016742336,0.024934594,-9.006843E-4,-0.016340282,0.018380802,0.067830466,-0.07004213,0.03932282,-0.032138646,0.031849343,-0.012589733,0.06340648,0.024203021,4.8506472E-4,0.94825983,0.036137547,-0.02084492,0.049417656,0.011896496,0.045408413,0.0053756256,0.025559872,-0.048902825,-0.002847178,0.033671502,-0.008291385,-0.04274611,0.025410073,-0.024053544,-0.10419814,-0.034871,0.017714614,-0.031035934,-0.040434636,0.029277688,0.04986251,0.05387642,-0.011135749,-0.053754188,-0.005425214,-0.0017382256,0.08245398,0.012586711,0.020861479,-0.0970064,0.030153783,0.026314827,-1.321619E-4,0.004319585,-0.025227401,-0.011820778,-0.025280729,-0.031793218,-0.018654374,-0.014706052,0.045925148,0.014264223,0.006069183]::REAL[]),
(21, [0.022179104,0.035802413,-0.062044103,-0.08609554,0.007041662,0.016351627,-0.022187939,0.002071061,-0.112500064,-0.015953794,-0.014654622,0.002241513,0.083900176,-0.025307138,0.04503424,0.024486138,-0.020951515,0.026704174,-0.06578061,0.05438413,-0.032988574,0.93475753,3.4297077E-4,0.018351862,-0.12969728,-0.019333648,0.024752738,0.116389886,0.0050348393,0.0437863,0.015818018,0.009801289,-0.034605175,0.02581614,0.07669958,0.042738773,0.056378774,0.028725179,-0.02207265,-0.038653534,0.020173518,-0.0026410033,-0.017532581,0.026780581,-0.025855124,0.06148835,-0.054800306,-0.035845418,0.03847363,0.011090065,-0.02969396,-0.02563517,0.026469946,0.041541178,0.0059353467,0.041946597,0.02425752,-0.0592942,0.016141605,-0.046980154,0.020764716,-0.05582487,-0.043791555,-0.017358724]::REAL[]),
(22, [0.029014586,0.023833634,-0.04735863,0.017983846,-0.030227637,-0.014568302,0.068716615,-0.061758995,0.023790428,0.064109474,-0.03743341,0.022775512,0.00281905,-0.030214556,-0.024643654,-0.039315715,-0.048571028,0.035249475,-0.054329403,0.0061442438,0.00516695,-0.002309911,0.9538957,-0.011849303,-0.03689051,0.05001348,0.05583765,-0.04123432,-0.050281804,0.026511783,-0.0062068333,0.06940238,-0.012020658,0.048038326,-0.029007709,-0.029930897,-0.0068951054,0.027597014,-0.0754448,-0.0021702272,-0.0033733514,0.026475571,0.021407876,0.037230946,-0.058212943,-0.025162965,0.0060667153,-0.05743763,-0.017805673,0.05811896,-0.020467069,-0.05926933,0.040824823,-0.031053662,0.020485362,-0.005352946,-0.053576134,-0.020048086,0.0025917557,0.014949172,-0.031182427,0.017977752,0.079707466,0.02788406]::REAL[]),
(23, [0.018136345,-0.03220325,0.014467394,-0.019731417,-0.058248326,-0.054666065,5.0653855E-4,0.0076858304,0.017369166,0.029906405,-0.04109794,-0.009454807,-0.023986515,0.011791908,0.03136068,-0.033463668,0.011983926,-0.009134376,0.052790772,-0.011109226,-0.027750758,-0.03359014,0.016191611,0.9515576,-0.025114376,-0.031669,-0.053245425,-6.0616195E-4,0.039579954,-0.021923415,-0.006050215,0.035685148,0.034081064,0.06473762,0.066555075,-0.03316921,-0.016997121,-0.031444896,0.011397498,0.014218789,0.004352494,-0.017050447,-0.0058963266,0.03777602,-0.038831986,0.05007597,-0.088811874,-0.05384686,0.05529577,0.10222636,0.037906483,0.059592236,-0.055306092,-0.018004112,-0.0049771294,0.029428197,0.03430912,-0.030905273,0.031111065,0.023068637,-0.035322826,-0.06746379,-0.017440187,-0.07513529]::REAL[]),
(24, [-0.049845647,-0.0010195668,-0.028487729,-5.7750597E-4,0.031843763,0.021892905,0.05267116,-0.022911068,0.0016496511,-0.0012441367,0.016163373,0.008321052,-0.03401486,-0.0510965,-0.055817995,0.015647348,-0.016700884,-0.020396532,0.027299061,0.05286751,-0.03222048,0.122564115,0.023924006,0.01404628,0.949514,-0.013626147,-0.017014481,0.024758749,0.010415157,0.03543558,-0.07930087,0.0809702,-0.06167726,0.06752911,-0.0029749419,-0.0422679,-0.02301258,0.025912179,-0.047801115,0.0034506128,-0.057011917,-0.030383531,-0.01405852,0.0037927108,0.02571994,-0.019404069,-0.010413606,-0.007144544,0.06958498,0.050827604,-0.02626712,0.061024394,-0.031866204,0.018588059,0.04533192,0.078535005,-0.033909358,-0.010406211,0.010957407,-0.015301099,-0.005733816,0.04606635,-0.04419709,-0.011117662]::REAL[]),
(25, [0.0068450724,-0.03192482,0.05925572,0.035391252,0.0072635603,1.5766683E-4,-0.0012000399,-0.011150226,0.103619315,-0.08062016,0.043155808,0.012531991,-0.031945173,0.04415215,-0.07757424,-0.037164606,-0.041247495,-0.0135578355,0.010749786,0.023984138,-0.05447283,0.04168664,-0.024708908,0.020419938,0.004149739,0.94348395,-0.005687857,0.023095794,0.020895753,0.020289399,0.06833222,0.067977935,-0.0119201355,-0.0062055127,0.12546934,-0.04385622,-0.01756015,-0.05144538,0.07660118,0.05517844,0.045869254,0.006559152,0.019830545,-0.009979728,0.054586772,-0.014945217,-0.03567916,0.036222853,-0.021411583,-0.044563454,-0.043766946,0.060555015,-0.028410845,0.009476783,-0.007860885,0.024998687,0.005060622,0.063983805,0.010207314,-0.009744087,-0.008251373,-0.05119868,0.017408201,0.01053819]::REAL[]),
(26, [-0.045037016,0.005079862,0.007829855,-0.04014448,-0.031458378,-0.09361673,0.0058016414,0.08043688,-0.09274221,0.021346547,-0.010324279,0.048391085,-0.08224257,0.05693899,-0.06846001,-0.08342512,-0.043643437,0.013425172,-0.052712295,-0.019075451,-0.020932255,-0.0077853533,-0.05487249,0.0462232,0.019210396,-0.0101749245,0.9342414,0.02003754,0.012560297,-0.04203972,-0.022956217,0.0053719897,-0.00862544,0.016553026,-0.048198465,-0.06548738,0.07658889,-0.02545803,0.027270183,-0.011313117,0.010326434,-0.0020690807,-0.0082595255,-0.04211358,0.07249019,-0.04387951,0.0055741416,0.059964914,-0.0035722465,0.059701942,-0.019243503,0.045828488,0.024355117,0.049377535,-0.012723144,-0.06268115,-0.013044715,0.05819291,0.06859722,0.039966874,-0.07031796,-0.04255165,0.053457215,0.008631368]::REAL[]),
(27, [-0.044223383,0.025218008,-0.028135484,0.009119466,-0.022863343,0.015452225,-0.06065965,0.00433362,0.044838715,0.025114529,-0.0069077136,-0.008573485,-0.1088225,0.027943363,0.07930368,-0.031421136,-0.017478643,0.034733124,0.009090098,0.03679082,-0.020027641,-0.10158704,0.045094337,-0.019018665,0.008783291,-0.027059568,-0.0139896795,0.93849915,0.015438335,0.007829511,0.0515317,-0.015591165,0.030404912,-0.0151767535,0.04540842,0.011932658,-0.047512095,-0.050142385,-0.0155414725,-0.0011775661,0.076995894,0.01930829,0.12281943,-0.05627659,-0.038581982,0.059654284,0.07726708,-0.049285583,0.012494151,-0.013428803,0.076295264,-0.011510057,-0.01642361,-0.030319607,0.03363039,-0.04766633,-0.019220531,0.054218564,0.043640267,-0.03748376,-0.04904578,0.0041631428,-0.014779382,-0.042994943]::REAL[]),
(28, [-0.037087318,0.044852946,-0.035253346,0.043752484,-0.025982825,0.01404215,0.025735037,0.03211133,-0.043214384,-0.01135854,0.024925906,0.06106576,0.11977029,0.011226823,0.048701532,-0.004467763,0.10430644,0.039810807,0.07269748,0.03909799,0.05314872,-0.036738105,0.05339155,-0.027517464,0.0024515013,0.011436552,0.028440213,0.010092278,0.93988216,-0.00863094,0.010492722,0.002112072,-0.096018784,0.032922905,-0.031576592,0.051427025,-0.009961179,0.038468305,0.00844441,0.034979094,0.03515318,0.0051245345,-0.042097494,0.06895598,-0.053910386,0.01600851,0.011976084,0.021809872,-0.012315708,-0.022516187,-0.026175834,-0.03421076,0.0035271435,-8.8021427E-4,-0.068474516,0.011761183,0.0608059,-0.08478842,0.0054561556,-0.03628687,0.063660905,-0.018374262,-0.025702272,0.05455502]::REAL[]),
(29, [-0.04419244,0.013000875,0.041233756,0.014329347,-0.06050254,0.042708565,-0.06773797,0.03153734,-0.012464246,-0.014985019,0.037524365,0.08129687,-0.048135024,0.007876533,0.053507064,-0.114196055,-0.030715307,0.057011098,0.00825488,-0.012034864,-0.002243152,-0.030493071,-0.022287186,0.018000003,-0.031789873,-0.027876163,0.008341896,-0.018586699,0.01107404,0.94791645,0.0107488455,0.01639217,-0.026405994,-0.0864718,-0.043711152,-0.026986115,0.043356296,-0.027011786,-0.021858348,0.05519434,-0.0018385093,0.021261109,0.011666506,0.029221632,0.0531257,-0.090272285,-0.027219426,0.010532206,0.07533383,0.032056153,0.015619775,0.04248572,-0.037137676,0.033762775,0.01544309,-0.035976484,-0.0044147107,-0.036994785,-0.067555845,-0.0035598604,0.0018336431,0.02342921,0.031712137,-0.016290648]::REAL[]),
(30, [-0.0071854047,-0.040223163,0.008715673,-0.025610203,0.039652586,0.05662758,0.022126207,-0.0073587927,0.021310953,0.041201342,0.054507907,-0.008016555,-0.014441973,0.030698156,-0.048826855,0.043574594,0.0010214265,0.056394808,0.019745095,-0.03447469,-0.060865916,0.0017211713,0.0032670777,0.015190455,0.08571499,-0.06263178,0.047914337,-0.056914613,-0.012603137,0.029605126,0.9343639,-0.003701142,0.050238322,0.07889962,-0.021126593,0.060809366,-0.061202098,-0.02307881,0.019400142,-0.11799698,0.0018592064,0.0846766,0.009645017,-0.029875396,-0.030449994,0.031003516,-0.0096306745,0.001067667,-0.101066664,-0.0011637651,-0.05426193,-0.069946356,-0.0111837145,-0.07211934,-0.055239033,0.041894305,0.07713867,-0.025079003,-0.021040343,-0.020910552,-0.04068308,0.042769384,-0.029385084,-0.021245273]::REAL[]),
(31, [0.0011489625,-0.031441562,-0.04537817,-0.012554278,-0.03190204,0.005852204,-0.019908596,-0.058007654,-0.021035677,-0.022958258,-0.0064416425,0.0016015859,0.04020833,0.038455788,-0.07246644,0.05717274,0.009344589,-0.06609828,-0.010376528,0.007232615,0.027289264,-0.030417737,-0.063414775,-0.056594323,-0.078751415,-0.06217265,0.023394665,0.009384533,0.010692227,0.007693677,-0.01099455,0.93189937,0.10429844,0.031111885,0.00896217,0.06553503,-0.08661454,0.009034217,-0.021737745,-0.0015749705,0.027498154,0.048203003,-0.072946355,-0.009278736,-0.066317506,0.06339121,0.03781995,0.0036661564,0.020660968,0.04074175,0.025337333,-0.020146681,-0.113602564,0.0438375,0.05851261,0.05296621,-0.007785769,0.07053044,-0.08271212,-0.0075160987,-0.0046054875,-0.050610628,-2.753708E-4,-0.07122416]::REAL[]),
(32, [0.021201944,-0.022115553,-0.051268853,0.019038694,-0.008991719,0.026625622,0.018630655,0.037158433,-0.013161178,0.024639715,0.0064738267,-0.009340133,0.03795676,0.036990203,0.05661487,0.012034618,-0.024977798,-0.071555726,0.08093004,0.008901018,0.03990186,0.029739344,0.03199705,-0.040490318,0.04912372,0.016896827,0.036198065,-0.024702711,0.074673444,0.052895598,-0.054532643,-0.11414202,0.9294512,-0.011964823,-0.0043959147,0.0059581217,-0.06551149,-0.013496417,-0.031213833,-0.007343744,-0.014651561,-0.087731384,0.012775082,0.0060684346,-0.036076542,0.06466329,-0.019227933,-0.020590423,-0.04185223,-0.06780082,-0.10741091,0.0928289,-0.013390492,0.038041197,0.0069866935,0.07534471,-0.045329817,-0.036147006,-0.0154115185,-0.035480946,-0.07768493,-0.092068315,-0.042919833,0.030689096]::REAL[]),
(33, [-0.03409166,0.017478095,-4.750932E-4,0.007409943,-0.0066275485,0.04441402,0.03307453,0.050852608,0.0061198073,-6.8185845E-4,-0.0017972166,-0.08694168,-0.013450826,-0.012806081,-0.029073432,-0.093839645,-0.014415493,-0.03355691,0.021948354,-3.3024055E-4,-0.016723253,-0.022496019,-0.05567495,-0.05715944,-0.07307362,0.007456967,-0.028445384,-0.010990581,-0.0128630595,0.10312915,-0.076143354,-0.023051606,-0.0044676345,0.9466323,-0.008922112,-0.0077113537,-0.040474605,-0.008657342,-0.04001531,-0.02906462,-0.027179634,-0.040879358,0.0848086,-0.07552712,-0.027557142,0.011049231,0.008366841,0.028379457,-0.005953359,-0.009391189,0.017347544,-0.02381539,0.08098829,-0.025603995,-0.018405724,3.6954155E-4,-0.01925644,0.07675684,0.09373167,-0.007517916,0.0071633584,-0.030343367,-0.021607818,0.013318268]::REAL[]),
(34, [-5.6674867E-4,0.012714213,0.07268971,0.074834675,0.012685631,-0.022134583,0.09247851,0.057542887,-0.016454171,0.07800913,0.021084847,-0.028384859,0.051099725,-0.010672107,0.038684413,2.8875668E-4,0.060883418,0.03673532,-0.007041703,0.013231946,0.049752653,-0.046477336,0.01625746,-0.052754622,0.018505696,-0.09441412,0.06154977,-0.050576083,-0.002347847,0.05038351,-0.004198109,-0.009613033,0.0035796457,-0.009322591,0.93122536,0.013954178,-0.0996838,0.03710359,-0.0562919,0.0071995175,-0.05122645,0.008908883,-0.057651203,-0.026598806,0.05240568,0.0026330673,0.060591307,0.053323273,-0.003695156,0.02695549,0.040109187,-0.049385298,-0.038807683,-0.11845781,-0.03223596,-0.072134145,-0.0035829823,-0.01773964,0.025026934,-0.05785721,-0.020893069,-0.018192867,0.034215268,0.05070371]::REAL[]),
(35, [0.030541062,0.023123117,0.0020267721,0.011453845,0.023834841,0.034381,0.04547744,-0.05636777,-0.0067442963,-0.04674136,0.0093902,-0.04709512,0.021272682,-0.047344174,-0.027957443,-0.034623954,-0.043948404,0.005894643,-0.0068741743,0.024894102,0.09184357,-0.052607704,-0.004869585,0.04429662,0.036509857,0.06611771,0.07279718,-8.8603527E-4,-0.05277413,0.032043908,-0.053785153,-0.05247571,-0.021292029,-0.009519172,-0.016338242,0.9535858,0.0078013944,0.050885897,-0.012932914,-0.037702065,-0.029152049,-0.01014344,0.024809135,0.035468645,-0.03712057,-0.0059534716,-5.7632447E-4,-0.054936267,0.08163249,0.030938359,-0.044296063,0.017830778,0.06087439,-0.011390904,-0.021178871,-0.006697192,-0.012159114,-0.0085024545,0.032332323,-0.027357697,-0.050583664,-0.012412762,0.06131868,-0.039437894]::REAL[]),
(36, [-0.0034413214,-0.009844943,0.0030438453,0.012163983,-0.039700195,0.043075796,0.05842,0.032077942,-0.013640997,-0.060158234,0.0027007153,0.025390321,-0.05866576,0.037253596,0.0098500615,-0.02841744,-0.028592892,-0.0064381864,0.015707152,-0.11949705,0.033841267,-0.045907214,0.024188152,-0.00529575,0.03959106,-0.0069837742,-0.07522371,0.025783392,0.011804423,-0.048174348,0.046648126,0.08753216,0.09052482,0.04259563,0.11192396,0.009306376,0.9405219,-0.01685336,0.0017310106,0.0070851482,-0.0037318387,-0.04616961,0.06197977,0.018108025,2.1249485E-4,-0.0057859435,0.01834688,0.021656018,0.00950452,-0.001304611,0.019038355,-0.04081098,0.015278016,0.011543905,-0.029407151,0.0065358006,0.13529386,0.021003837,-0.03899953,-0.05104219,0.020770347,0.025405815,-0.007808008,-0.009012744]::REAL[]),
(37, [-0.05175516,-0.032387424,-0.0051474012,-0.031720538,-0.071728356,0.0134078115,0.07430536,-0.05419334,5.955274E-4,-0.006090093,0.00805542,-0.045348786,-0.09726291,0.034690604,0.002828194,-0.056352623,-0.008506273,0.015634544,-0.05561155,-0.065360375,-0.01792972,-0.016921308,-0.034296397,0.043414567,-0.015037691,0.038953263,0.00784974,0.03473838,-0.016265057,0.019956073,0.012352323,0.011273323,0.04205442,-0.01680439,-0.027435258,-0.038272414,-0.020001251,0.94897205,5.65894E-4,0.02179436,-0.004119731,0.012013232,0.09120081,0.0028970335,0.09937922,0.0079384325,-0.014044793,-0.017989136,-0.07835834,-0.012773127,0.023817204,-0.06230891,0.0027225446,0.0191322,-0.031287078,-0.004223878,0.030052958,0.01949016,0.021572607,-0.025077296,0.07549378,0.019140072,-0.057440825,0.040518075]::REAL[]),
(38, [-0.014115224,0.02927089,0.014216136,-0.022127662,0.018085588,0.03675527,0.04387725,0.053173136,-0.025878942,0.051159583,-0.0034057018,-0.0037565136,0.0063703726,-0.00723457,0.037375614,0.026402619,-0.025905523,-0.015339632,0.017082522,-0.00288433,0.017569032,0.01003787,0.06557241,-0.005379226,0.034382183,-0.0665933,-0.02200116,0.030518115,-0.024036588,0.033096865,-0.040007044,0.05106753,0.029886348,0.023979897,0.030305043,7.2473916E-4,-0.030282013,0.005826483,0.95683724,-0.026118398,-0.038691178,0.02184205,0.008329907,0.05320355,-0.011583641,-0.035337012,-0.029803906,0.033825044,0.042411417,0.01776016,-0.06996689,-0.014928244,0.13706048,-0.05520966,-0.012312119,-4.9039506E-4,0.03852562,0.026797606,-0.0017441928,-0.052461576,0.029976826,0.0050871177,0.029681422,0.06029406]::REAL[]),
(39, [0.04780916,-0.037491385,-0.04259598,-0.04842109,0.0755714,0.030194605,0.056804437,0.097559445,0.07891639,0.03711535,-0.06205586,-0.0147537235,-0.019952381,0.040417153,0.028863491,0.09040285,-0.04697875,-0.017642586,-0.024544077,0.028479518,0.01803215,0.033792637,-0.0061548036,-0.00844866,0.005450082,-0.049060382,0.044754047,-0.008498658,-0.040082943,-0.017861042,0.08140113,-0.015967334,0.002614816,0.040217455,-0.019934464,0.043702073,-0.008350165,-0.007676345,0.0052960366,0.9405302,0.058453135,0.014493334,-0.019148987,0.05748848,-0.06648946,0.007277924,0.02796477,-0.00612562,-7.0525194E-4,0.002150473,0.024084076,-0.033080935,0.0069013843,-0.07580262,-0.0916631,0.06843621,-0.043715965,0.044999372,-0.03368462,-0.053808544,0.02150836,0.018380204,-0.018103963,-0.017723657]::REAL[]),
(40, [0.010701735,-0.021957422,0.0066739493,-0.027505718,0.047212992,0.07839652,0.020627467,0.023856528,0.0076876325,0.038472738,-0.015013362,-0.0048279124,0.047632884,-0.042153083,-0.04845217,0.0057290294,1.9270563E-4,-0.040792678,0.013592224,-0.008254176,-0.033488054,-0.020597992,0.010797302,-0.009925224,0.05052866,-0.053677354,-0.0027863248,-0.066604674,-0.03102138,0.024065698,-0.032363523,-0.02687352,-0.0220789,0.015657885,0.04524455,0.013811691,0.021302762,0.035271596,0.025401201,-0.073356144,0.9638349,0.009595262,3.0665495E-4,-0.011916202,-0.020408286,-0.0060442607,-0.012496574,-0.020182624,-0.02252881,-0.028627649,-0.03126872,0.105513655,-0.0053161727,-0.039301556,-0.019082922,0.012795945,-0.022598257,-0.0029127705,5.2501814E-4,0.0013132076,-0.0285813,-0.07964593,-0.0027774018,-2.2822249E-4]::REAL[]),
(41, [-0.06965947,0.10504572,0.038616247,0.004923004,0.03741733,-0.025474753,-0.056647982,0.028756475,0.06628824,-0.0044007795,-0.018283151,0.0155996885,-0.01711712,-0.042359527,0.015248706,0.06718918,-0.005262231,-0.046542283,0.08495882,0.00782288,-0.029448643,0.006557649,-0.014563241,0.016501475,0.02256143,1.8330009E-4,0.019963283,-0.031387333,0.009322942,-0.0022275005,-0.07962372,-0.04208695,0.0532902,0.024337253,0.018578105,-0.009962506,0.07140946,0.022819633,-0.028440492,-0.024275217,-0.036487192,0.9299378,0.011083917,-0.012181222,-0.043983996,0.056304805,0.0040643406,-0.094562694,0.06616365,-0.13734488,-0.03860127,0.015845606,0.06617488,-0.017085446,-0.049653973,0.03849621,-0.09296737,0.038605172,-0.011776493,0.042027283,0.0047516874,-0.048242826,0.0039939373,-0.06613323]::REAL[]),
(42, [-0.045717474,-0.074135624,0.037251,0.050637268,0.0022147053,-0.022582607,0.024098076,-0.017562712,0.08633301,0.021720253,0.042901818,0.023655877,-0.017204758,0.015642684,0.013820598,0.04382145,-0.027759027,0.0074119926,0.0066644684,-0.046996653,-0.033380143,0.064431764,-0.017183706,0.0030715298,-1.21697785E-5,-0.05334663,0.030590296,-0.13091962,0.06520715,-0.03251706,-0.025969204,0.0542557,-0.010190154,-0.0693788,0.037696917,0.006357552,-0.077330664,-0.10294707,-0.006423606,0.003440775,0.008172066,-0.00897851,0.9367351,0.005426074,0.050504908,-0.03292547,0.016474262,-0.06410858,0.04019649,0.018657632,0.023706889,-0.040739857,-0.05056877,0.013793273,0.0062282514,0.030129794,-8.5260853E-4,0.065584004,-0.07155163,-0.06786594,0.06267971,-6.075126E-4,0.015549511,0.028794281]::REAL[]),
(43, [0.0030768462,-0.023212379,0.052937638,-0.03997095,-0.016710863,0.0047310833,-0.019738091,0.002522631,-0.009518829,0.03073953,-0.0022674876,0.009551384,0.04607944,-0.037191864,-0.0056080804,0.041403282,0.09489305,0.041008964,0.059623152,-0.038826007,-0.00991797,-0.038724307,-0.042789627,-0.040613532,-4.4435644E-4,0.02412279,0.046063807,0.05817954,-0.08092518,-0.020416766,0.0354907,-0.003647862,0.0077827373,0.06786883,0.026123455,-0.05275007,-0.021111926,0.011944187,-0.0622743,-0.062989116,0.005203243,-0.015837956,0.0066553615,0.95097363,-0.048238393,-0.032924052,0.048891496,-0.009163971,0.082616135,-0.0057622986,-0.02355543,0.013882023,0.043132126,0.066517286,-0.039204728,-0.014492152,-0.031869527,0.05833784,0.012256571,-0.0113299955,0.043036748,-0.013739528,0.02916302,-0.049638733]::REAL[]),
(44, [0.0061101653,-0.022305511,-0.12068928,-0.023185322,0.058365535,-0.0382238,-0.023579685,0.020012978,-0.06290909,-0.05705537,-0.013396223,0.05055723,-0.005196797,0.021094035,0.03195549,-0.041200854,0.07146861,0.041258805,0.0106904805,0.06787858,0.045066457,0.014417572,0.063533485,0.029276328,-0.0156624,-0.048531204,-0.084252216,0.027379494,0.02232775,-0.05205307,0.025721725,0.04782155,0.060828257,0.054981526,-0.047692075,0.06061238,-0.016694011,-0.083730504,-0.0016291783,0.04951455,0.04580165,0.06948026,-0.03905594,0.06314399,0.93830496,-0.010915938,0.016575873,0.016887926,0.0049360823,-0.010708484,-0.03608743,-0.04867119,-0.02222992,-0.04194823,-0.0035956122,-0.010962551,0.04423645,0.049316954,0.029605385,0.023291228,-0.001339553,-0.00641021,0.04613652,-0.0019933574]::REAL[]),
(45, [-2.2404021E-4,-0.017896406,-0.031730425,-0.034561668,-0.03446778,0.027388789,0.016211895,0.034143545,0.023335032,0.02147546,-0.0021794904,0.015160901,-0.053424068,-0.08847354,0.015363495,0.0618727,-0.045862775,-0.008667342,-0.01023226,0.001578772,0.008358346,-0.055162087,0.018930798,-0.04563869,0.013839813,0.031694625,0.049762152,-0.0776979,-4.1990733E-4,0.086223155,-0.027575655,-0.053564474,-0.07855286,-0.02798578,-0.0066163195,-0.013394336,0.016084414,-0.0057814596,0.03387803,-0.015673736,-0.0034793653,-0.06523826,0.023175433,0.039080337,0.041851796,0.95582086,0.006006399,0.0065127327,0.048135452,0.010558983,0.022246206,-0.040747076,0.013820944,-0.029812984,0.055817723,-0.0035264485,0.023872983,0.057831105,-0.010954552,0.03282997,-0.045054223,0.00926617,-0.036725048,-0.039054926]::REAL[]),
(46, [0.006010961,-0.02414715,0.08187713,0.03336819,-0.049118735,0.05988516,0.065179616,-0.002757237,0.03372586,0.032500032,0.012613639,0.010363241,-0.004844988,0.011080244,0.015853504,0.014179951,-0.07826561,0.0020401469,-0.032129236,0.038364474,-0.0018219039,0.079407796,-0.0031733308,0.07704602,-0.012688926,0.026532171,-0.009956078,-0.058406882,0.006133207,0.013657243,-0.0047552017,-0.03477944,0.01263457,0.005790753,-0.06308786,-0.005122024,-4.4071366E-4,0.014401711,0.046802092,-0.03615302,-0.0019141579,0.005421437,-0.031922773,-0.024596589,0.009954653,-0.009443817,0.9549874,-0.0036381823,0.020122781,0.03417084,0.007514183,0.09912524,-0.10065569,-0.023321152,-0.029485825,0.036602423,0.027784418,-0.027988635,0.013778956,0.049062505,0.0018839503,0.026213162,-0.0030674322,-0.023939302]::REAL[]),
(47, [0.038376823,-0.035249103,0.032872465,-0.060132146,-0.0034484298,-0.0010038817,-0.06939303,0.022531446,0.050315607,0.016691871,-0.018652175,-0.023608208,-7.0863235E-4,0.040653065,0.050928354,0.004277779,-0.09585761,0.016774409,0.016928177,-0.12932613,-0.08784794,0.044601366,0.05869865,0.043871637,0.02363546,-0.0325439,-0.055868484,0.026453985,0.011597417,-0.007972908,-0.040106904,0.001462884,0.02625651,-0.036508113,-0.03574656,0.06610542,-0.038077515,0.011705552,-0.05554034,-0.012876722,0.018568376,0.07809,0.052997783,0.015772315,-0.030585332,-0.0028093413,0.002071516,0.94277996,6.209045E-4,-0.01904378,-0.028229535,-0.051831227,0.029836627,-0.060814634,0.0014274174,0.020425137,0.03159896,0.04981221,0.034071766,0.040470634,-0.022549506,-0.005201202,0.017386647,-0.0520112]::REAL[]),
(48, [0.07579722,-0.018541802,-0.027440464,-0.0042755203,6.392953E-4,0.006765337,0.011790141,0.020315792,0.014717232,-0.0127987545,0.0118556935,0.026038606,0.0011648714,0.039519068,0.057395384,0.0013304435,-0.021305183,0.012306988,-0.10431749,0.0015067498,-0.02013156,-0.05494798,0.013908061,-0.059485447,-0.045613874,0.022693861,0.010995075,-0.015687088,0.015140595,-0.07027742,0.101333834,-0.02762754,0.034349475,0.01578152,-0.0019420577,-0.06499796,-0.022536142,0.074426584,-0.028533626,-0.022524336,0.022643259,-0.04634255,-0.03034528,-0.078786574,0.003858171,-0.05088209,-0.025276115,0.004136188,0.94815964,-0.018910259,0.009596868,-0.02048955,0.0045682997,-0.04894985,-0.009375629,0.07350177,0.03027797,-0.021180935,-0.046061546,0.02779756,-0.02991463,-0.058942005,-0.073986724,0.026719477]::REAL[]),
(49, [-0.02069714,0.088164866,-0.102258064,0.07359472,-0.058798745,0.04389549,-0.0017110168,-0.06652263,0.08752357,0.015190503,6.2985666E-4,0.056011815,0.043017805,-0.035442833,-0.019269325,-0.014542423,-0.056553546,-0.065840304,0.09729956,0.033308897,-0.021453299,-0.014001773,-0.067796804,-0.09322202,-0.045192678,0.035589375,-0.039205074,0.014540903,0.006298406,-0.03126823,0.017275484,-0.055928133,0.057859883,-0.0150208,0.003615016,-0.032189604,0.004029194,0.010704753,-0.025812667,0.004296048,0.029782137,0.10223436,-0.008388973,-0.0055325474,0.018429317,-6.610332E-4,-0.020103432,0.02632589,0.011411186,0.9305913,-0.027012516,0.0039299666,0.119428754,0.036307458,-0.039191384,0.035715897,8.5303665E-4,0.0042112106,0.013859237,0.0022213773,0.06844205,-0.027541965,-0.024341604,-0.002482984]::REAL[]),
(50, [-0.0068144775,0.0012645461,-0.019684598,-0.024913618,0.10389378,-0.011894142,0.07324776,-0.064539894,-0.05128818,0.034885727,0.023866808,0.039268903,-0.009671159,0.037810195,-0.021223467,-0.06178943,0.007300596,-0.017506167,-0.038388178,-0.0418736,0.08925915,0.05181937,0.019157553,-0.027824707,0.037519768,0.051585298,0.013365558,-0.05343852,0.029087309,-0.0033451293,0.02318372,-0.04140154,0.10173861,-0.0016624673,-0.037758652,0.036465805,-0.02881052,-0.03280287,0.062283054,-0.040785737,0.026853787,0.056002397,-0.028617749,0.041096047,0.008329244,-0.012371945,-0.021979656,0.03295943,-0.017257687,0.018412985,0.9502181,0.021649865,0.027392808,-0.010635069,-0.03529431,0.040731553,0.017779104,0.019746276,-0.043949213,0.033139393,0.011273656,0.004587876,-0.017117472,-0.021324186]::REAL[]),
(51, [0.07986753,-0.05280132,0.03142265,0.031328242,0.020067856,-0.025621371,-0.050344307,-0.033149533,-0.025395894,0.002822658,-0.012466879,-0.0030085265,0.07657566,0.044593856,-0.08453122,-0.04427394,-5.9778115E-4,0.016588325,-0.003617729,0.052071095,-0.027497005,-0.004829836,0.071473226,-0.05872214,-0.05808218,-0.084075265,-0.043116584,0.027036272,0.015584798,-0.0383862,0.08856842,0.034108233,-0.069866344,0.024357399,0.046314385,0.0069365925,0.029138912,0.06180957,0.00279945,0.057410967,-0.09566391,0.025310637,0.06037253,-0.0073719416,0.04340165,0.064704806,-0.06582942,0.060675886,0.010564284,-0.012863335,7.771012E-4,0.9274611,0.064977884,0.060191445,0.014699239,-0.070694484,0.0519901,8.8484836E-4,0.008542553,-0.022259757,0.034912016,0.01736081,-0.059360318,0.072450176]::REAL[]),
(52, [-8.545485E-4,0.0036826031,0.02404928,-0.014868126,0.0065154247,-0.07146351,-0.03537521,-0.020970345,0.03921459,-0.046314057,0.023204314,0.005698556,-0.045377053,-0.024825973,-0.06388952,-0.04739461,-1.422173E-4,-0.01698582,-0.044217274,-0.06335689,-0.013368467,0.0023983489,-0.049814325,0.06824652,0.02955021,-0.006530004,-0.040559787,-0.008185016,0.04441853,0.030875271,0.036320034,0.1208954,0.03044065,-0.09330667,0.04515519,-0.04581145,-0.031870466,-0.024352275,-0.107693285,0.024027392,0.021639135,-0.084488586,0.021496354,-0.038868472,0.026409922,-0.0057736845,0.12119708,-0.048004787,-0.006982906,-0.094682015,-0.003621838,-0.045783814,0.93070954,-0.016081015,0.049035694,0.0019458267,-0.05242256,-0.0040325234,0.03415183,0.06526732,-0.0155353425,-0.020258898,0.012003359,0.01280546]::REAL[]),
(53, [0.052979335,0.04067956,-0.047780816,-0.027582673,0.091351084,-0.016652212,0.01714366,-0.022071663,-0.021569641,-0.055678274,0.017464371,0.033760395,0.04038397,-0.06613917,0.016576387,-0.095131464,-0.05925132,-0.016998062,-0.05503374,-0.030452594,0.0027738642,-0.065679595,0.040395606,0.025299001,0.0063070618,-0.03415088,-0.041759394,0.00554963,-0.0047959303,-0.019664906,0.0747726,-0.047421552,-0.016141552,0.024610152,0.11737769,0.0083966665,-0.04584742,-0.016945131,0.053132307,0.06981645,0.042925857,0.036320075,-0.0013299045,-0.053696536,0.006439805,0.03322384,0.04920884,0.051741853,0.028946672,-0.046307843,-0.0034445073,-0.08460895,-0.0033070908,0.93895924,-0.0010775285,0.040552437,0.042253546,0.017003272,0.05005644,-0.019995637,0.017442362,0.009521521,0.029198408,-0.019972164]::REAL[]),
(54, [0.087113455,0.011315398,-0.011668248,-0.057987154,-0.053841185,-0.057182312,0.048813637,-0.017335458,0.040687244,-0.02291517,0.030743621,0.0489041,-0.025327548,-0.0364468,-0.032658618,-0.011555413,0.07041369,-0.028879497,-0.094099864,-0.035115797,0.0038970558,0.002136667,-0.030965162,-3.8876387E-4,-0.02208961,-0.0024290015,0.006734807,-0.025933001,0.069950625,-0.013998356,0.058762208,-0.08130897,0.02695033,0.043066036,0.029699178,0.032074552,0.020653045,0.019780502,0.028520802,0.07754122,0.030928876,0.081151016,-0.010169048,0.04656758,-0.02106555,-0.055952366,0.024640048,0.0016449027,-0.007081852,0.03729699,0.012245484,-0.012965863,-0.049056478,-0.032804992,0.948926,-0.0019251416,0.03505114,0.038747862,0.012393218,0.010137654,0.028068095,0.025402708,0.030387413,0.02895667]::REAL[]),
(55, [0.037488542,0.03550239,0.011033677,0.013062539,-0.031331856,-0.009646884,-0.05435139,-0.011132146,0.09220139,0.004128152,-0.025138095,0.015387272,-0.04542868,0.021516684,-0.031167537,-0.014409468,-0.008388526,-0.0422603,-0.113717556,-0.029134043,0.040944804,-0.04736282,0.0019171513,-0.01658856,-0.06842747,-0.04860563,0.05642042,0.053244505,0.010293692,0.03820631,-0.024273561,-0.047052346,-0.08060302,-0.010953216,0.076883264,0.009531612,0.016736016,-0.005214636,0.008741684,-0.071642,-0.02616682,-0.04703773,-0.026763463,0.024187082,0.044095673,-0.009011682,-0.03613497,-0.009529136,-0.0824516,-0.032412656,-0.028560346,0.0626545,-0.0149559025,-0.0342973,-0.01633844,0.93992865,-0.079546005,0.048460122,0.0086269295,0.06180267,0.055469267,0.030707646,9.085103E-5,0.049606778]::REAL[]),
(56, [0.036100686,0.048273515,0.006514067,-0.012333329,0.03695538,-0.0058297794,-0.0048653544,0.026084892,-0.045833305,0.044315945,-0.03218919,-0.012757117,-0.031458706,0.003083368,-0.033766985,-0.03150127,-0.015882434,-0.07613612,-0.09563424,0.06387532,0.0095567,-0.03119386,0.023421876,-0.029489841,0.029201051,0.013323621,0.023773871,0.0122846365,-0.055000048,0.02740385,-0.10152837,-0.008055383,0.029070083,-0.0076660565,-0.008360708,-0.011495816,-0.12135786,-0.03347834,-0.068489715,0.018415706,0.013062514,0.0801175,0.012261702,0.036066853,-0.05515269,-0.021951534,-0.013956173,-0.05051794,-0.03499796,-0.010406678,-0.040580627,-0.028438572,0.054433394,-0.05177947,-0.035204805,0.0697799,0.945604,0.01412734,-0.0011022234,-0.014751518,0.0036054146,-0.005459023,-0.023706988,-0.03151185]::REAL[]),
(57, [0.017109444,0.06278945,-0.07352209,-0.023499267,-0.041248567,-0.027143864,-0.011560208,-0.07229848,-0.103543065,0.08120804,-0.008270175,-0.119395256,-0.01607817,0.053372234,-0.03352647,6.4471166E-4,-0.026312483,0.0113209775,-0.016935803,0.021926595,0.036197096,0.051412426,0.020819983,0.033108916,0.013206243,-0.03328477,-0.063076,-0.06031893,0.10121044,0.042652458,0.0275488,-0.077961616,0.016242255,-0.07946864,0.013441736,-0.0019576757,-0.0026213252,-0.011993591,-0.025090996,-0.039677043,0.0039539663,-0.037372198,-0.06793689,-0.042241886,-0.05046567,-0.049909372,0.016587641,-0.048763935,0.02725902,4.272583E-5,-0.038064525,0.012761102,-0.005113995,-0.011542552,-0.0408644,-0.04901343,-0.022244312,0.9349614,0.0011887986,-0.03250803,0.022743711,0.04401193,0.0035105476,-0.043438874]::REAL[]),
(58, [-0.014046351,-0.03863713,0.02496393,-0.0599696,-0.0111442385,-0.013541026,0.06477389,-0.01899587,-0.03182689,0.007461446,-0.007339533,0.07095962,-0.019050185,0.002015647,0.031348813,0.024817908,0.021394355,-0.0498459,0.016598258,-0.0075734807,0.039411362,-0.011488717,0.001136463,-0.050379947,-0.011181873,-0.007052007,-0.056385867,-0.056678448,-0.0049490836,0.053922974,0.033207312,0.07606427,0.019396916,-0.09645201,-0.028457534,-0.019527256,0.02457929,-0.032179922,0.0017713371,0.025696225,-0.0018274869,0.013581185,0.05034285,-0.0070704133,-0.034143604,-0.0012917835,-0.020053137,-0.03236553,0.044457115,-0.008268159,0.03120782,0.0015322183,-0.049740132,-0.043176237,-0.016050482,0.014711111,-0.0016888469,-0.0047903736,0.96196824,-0.023016034,0.03260485,-0.027436307,-0.0440345,-0.033559214]::REAL[]),
(59, [-0.05609554,-0.07090057,-0.03959094,-0.042675905,-0.096789576,-0.06987483,0.028831432,0.005598704,0.058337584,0.020841995,-0.004258921,0.03876478,0.01858468,0.033629436,-0.016508,0.0021708435,0.058448635,0.035512496,0.011598188,-0.0150111485,0.02869894,0.055690862,-0.007316713,-0.049833592,0.025533857,-0.012785291,-0.047065288,0.03323753,0.02467554,0.0071363924,0.02336408,-3.315039E-5,0.036636986,0.020560203,0.07198066,0.05116312,0.020901639,0.012804768,0.056332078,0.057363063,0.0064056218,-0.028642323,0.05707614,0.00458302,-0.042217635,-0.020713437,-0.04360499,-0.039242186,-0.0124260485,0.0035613931,-0.031712543,0.009434897,-0.059220377,0.030691039,-0.04337763,-0.061430942,0.045390513,0.02825134,0.0072971913,0.952594,0.006701722,0.00767881,0.031995192,0.010490408]::REAL[]),
(60, [-0.0065685227,0.011334311,-0.035297927,-0.036857877,0.010630973,-0.05387182,-0.0611941,-0.046900474,0.030702885,0.062522046,0.06259515,-0.06416613,-0.03692993,0.01863148,-0.038881466,0.033539765,0.01686937,0.0063739805,-0.04919011,-0.09259071,0.015851734,-0.019289408,0.034870557,0.043304864,0.031389892,0.016113838,0.073771186,0.03485632,-0.04718702,0.017280199,0.010435546,-0.0113591105,0.080659054,0.008245809,0.011677614,0.048475873,-0.019748725,-0.082993954,-0.024169056,-0.02389724,0.03361721,-0.016064474,-0.06535974,-0.054279525,0.0010100901,0.054756556,0.012256637,0.009876583,0.033799432,-0.049884215,-0.02635841,-0.011051394,-0.010192368,-0.02362497,-0.02616245,-0.06903443,-0.009011476,-0.05083485,-0.017412012,-0.0077528916,0.94988,-0.010107423,0.00439751,-0.0016797052]::REAL[]),
(61, [0.06306677,-0.005591058,-0.01024592,-0.04083716,-0.056432605,-0.012618901,-0.012816025,-0.09663572,-0.008018574,-0.030191295,0.072172426,-0.05958663,-0.0037379141,0.010569559,0.07521818,-0.02400937,-0.009296645,-0.056582533,-0.015457649,0.018110273,-0.041873105,0.0319381,-0.027618604,0.041208956,-0.04285929,0.041815907,0.053124588,-0.009540472,0.032463565,-0.02054691,-0.049092826,0.037424628,0.09386085,0.035760835,0.039930854,1.0817408E-4,-0.02546321,-0.032447975,-0.0017308857,-0.008932812,0.0914459,0.04867129,-0.0021130238,0.016167622,-9.709046E-4,0.010086124,-0.035545383,-0.007971443,0.053748716,0.0110037485,-0.01634371,0.0035735695,0.019238876,-0.013738208,-0.042266473,-0.01784335,-0.008670881,-0.0582109,0.029900141,-0.0032096126,-0.019155426,0.95265114,-0.009116334,-0.013864785]::REAL[]),""",
"""(62, [0.01702429,0.011568033,-0.04554177,-0.05076343,0.02302729,-0.0068848096,-0.0281929,-0.007010831,-0.008532847,-0.067699954,5.389526E-4,-0.025156498,0.028429804,0.007025312,-0.0530665,0.07767094,0.0320481,0.033766903,-0.0239062,-0.0326117,-0.032353926,0.028600521,-0.06390375,-3.0911833E-4,0.032232944,-0.013515567,-0.05291305,0.020141125,0.03611113,-0.008669073,0.023634931,-0.01845421,0.047629625,0.025482126,-0.020790868,-0.06584096,0.0024437003,0.06807538,-0.018059462,0.010447703,-0.0031312422,-0.01573756,0.00407783,-0.044752058,-0.045736156,0.05424338,-3.155114E-4,-0.020744367,0.06000647,0.025479436,0.025656274,0.06089651,-0.017889205,-0.031555105,-0.0419655,0.025384026,0.036254305,-0.021676231,0.04022696,-0.041684605,-0.009853737,0.0028869137,0.96089876,-0.025295759]::REAL[]),
(63, [-0.03312447,0.08637806,-0.030155778,-0.0013074016,0.013215633,0.016810829,0.06022742,0.06302518,-0.040264264,-0.016195998,-0.0447144,-0.0011698155,-0.017410921,0.035769694,-0.0047923303,0.06902818,-0.0052404683,0.039690845,0.019371962,0.051008977,-0.025133926,0.003066282,-0.038794592,0.09132217,0.008504427,0.006357869,-0.021729063,0.034528434,-0.069334246,0.022856824,0.010315049,0.064452685,0.0023588175,-0.01631177,-0.056051046,0.041688368,0.005668646,-0.045988042,-0.07324442,-0.009354424,0.020572877,0.06580146,-0.015921036,0.045080796,-0.034072112,0.04875539,0.026323577,0.041041292,0.0062586917,0.004751981,0.031417713,-0.053337753,-0.012703088,0.026943088,-0.015540748,-0.019892696,0.019536855,0.04867732,0.03173711,0.0050355676,0.0019843536,0.024481218,0.022756292,0.9538123]::REAL[])),
cbs(sub, cent, cb) AS (VALUES
(0, 0, [-0.041373897,0.094898365,-0.05544069,0.19789234]::REAL[]),
(0, 1, [-0.17298372,0.16860574,-0.032739308,0.05380778]::REAL[]),
(0, 2, [-0.28487435,-0.035501223,0.046021163,0.01462124]::REAL[]),
(0, 3, [0.28086847,-0.014124124,0.115322076,-0.101969644]::REAL[]),
(0, 4, [-0.07317724,-0.00434969,0.0029871154,0.011126148]::REAL[]),
(0, 5, [-0.1095266,-0.23322125,0.051501617,0.17410716]::REAL[]),
(0, 6, [0.03308949,-0.14282696,0.13991988,0.15280256]::REAL[]),
(0, 7, [0.09061261,0.06578913,0.076322615,0.19946891]::REAL[]),
(0, 8, [-0.012777477,0.012171681,0.16784889,0.10040963]::REAL[]),
(0, 9, [-0.13312665,0.048702378,-0.059435964,-0.0015600084]::REAL[]),
(0, 10, [-0.05093066,-0.13450527,-0.14006922,0.008160048]::REAL[]),
(0, 11, [0.03297867,-0.020606672,-0.11086192,0.22842436]::REAL[]),
(0, 12, [-0.11822681,-0.13338996,0.13068101,0.19175339]::REAL[]),
(0, 13, [0.14361662,0.1037271,0.16888008,0.044976622]::REAL[]),
(0, 14, [-0.08826513,-0.09594217,-0.10530891,0.22266485]::REAL[]),
(0, 15, [-0.20151654,-0.0031652956,0.02622073,-0.3602867]::REAL[]),
(0, 16, [-0.1523306,0.06349707,0.21381131,-0.119334854]::REAL[]),
(0, 17, [0.12569381,0.12348725,-0.031483676,-0.04850128]::REAL[]),
(0, 18, [-0.13117366,-0.096672736,0.1148566,0.011578548]::REAL[]),
(0, 19, [0.13612369,0.06836265,-0.2762075,-0.06828041]::REAL[]),
(0, 20, [-0.1163462,-0.023452166,-0.19367835,-0.14960858]::REAL[]),
(0, 21, [0.066389486,0.23865426,-0.06474497,0.13829575]::REAL[]),
(0, 22, [0.10413442,-0.07603986,-0.09894791,0.03622215]::REAL[]),
(0, 23, [0.060804002,-0.17498049,0.103972115,-0.21862096]::REAL[]),
(0, 24, [0.045070052,0.048969056,-0.042330366,0.020419165]::REAL[]),
(0, 25, [-0.2114322,-0.19919388,-0.04639609,0.0023460984]::REAL[]),
(0, 26, [-0.10880097,-0.21018091,0.14414883,-0.10239611]::REAL[]),
(0, 27, [0.103203684,0.118331224,-0.13535129,0.1233778]::REAL[]),
(0, 28, [0.22133194,-0.08680919,0.03494246,-0.07339505]::REAL[]),
(0, 29, [0.06999072,-0.23115669,-0.2016477,-0.10993898]::REAL[]),
(0, 30, [-0.22888474,0.036275737,-0.00962047,-0.12722771]::REAL[]),
(0, 31, [-0.017392455,-0.00449491,-0.1563364,-0.08649677]::REAL[]),
(0, 32, [-0.049596746,-0.047247063,0.020684673,-0.17841278]::REAL[]),
(0, 33, [-0.23115592,-0.14760758,-0.027778154,-0.22942452]::REAL[]),
(0, 34, [-0.0011522744,0.043283917,-0.052562915,-0.12905265]::REAL[]),
(0, 35, [-0.025654573,-0.006994505,-0.12676205,0.06815337]::REAL[]),
(0, 36, [-0.019488944,0.2623987,0.050383125,0.027137846]::REAL[]),
(0, 37, [0.1808349,-0.10965783,-0.059750866,-0.14163333]::REAL[]),
(0, 38, [-0.08560212,-0.12015607,-0.051442564,-0.21874194]::REAL[]),
(0, 39, [0.10285605,-0.060826473,0.06093798,-0.020464515]::REAL[]),
(0, 40, [-0.049584236,-0.004354183,0.11478514,-0.036878902]::REAL[]),
(0, 41, [0.05001816,-0.23872092,0.045412228,0.041564777]::REAL[]),
(0, 42, [-0.042398613,0.15787168,-0.12608862,-0.081559084]::REAL[]),
(0, 43, [-0.12802674,-0.07731414,0.020316688,-0.07004571]::REAL[]),
(0, 44, [0.21165794,-0.077087864,0.05373412,0.1256663]::REAL[]),
(0, 45, [-0.12932469,0.08006512,0.02769846,0.2822745]::REAL[]),
(0, 46, [-0.20256081,-0.016976159,-0.23264576,-0.004694246]::REAL[]),
(0, 47, [0.031038772,-0.002843909,-0.2846192,0.11617002]::REAL[]),
(0, 48, [0.2567721,0.100653306,-0.05016427,0.12727274]::REAL[]),
(0, 49, [0.11956751,-0.13042085,-0.023795152,0.11431125]::REAL[]),
(0, 50, [0.08604198,-0.17802511,-0.102495,-0.043629065]::REAL[]),
(0, 51, [0.19240916,0.08424646,0.023776747,-0.18432148]::REAL[]),
(0, 52, [0.0227456,0.16420417,-0.09658965,-0.28010353]::REAL[]),
(0, 53, [0.022423591,-0.019344496,2.5196705E-4,0.11842744]::REAL[]),
(0, 54, [0.023689324,0.11482735,0.12125695,-0.13073318]::REAL[]),
(0, 55, [-0.17130667,0.121533334,0.11108231,0.05805204]::REAL[]),
(0, 56, [-0.1049728,0.12567782,0.0077187624,-0.13832507]::REAL[]),
(0, 57, [0.2080392,0.01179391,-0.14322586,0.075415656]::REAL[]),
(0, 58, [0.062182523,-2.0537483E-4,0.065003425,-0.17134601]::REAL[]),
(0, 59, [0.013165458,-0.04357698,0.2442632,-0.08244908]::REAL[]),
(0, 60, [-0.1738578,-0.020295307,-0.017562771,0.14095691]::REAL[]),
(0, 61, [0.004106971,0.13965338,0.13089819,0.018286062]::REAL[]),
(0, 62, [-0.011131641,0.26072899,0.055006757,-0.11972946]::REAL[]),
(0, 63, [-0.02216406,-0.142845,0.012210018,-0.03555414]::REAL[]),
(1, 0, [0.00933875,-0.14141935,-0.16781403,0.16720304]::REAL[]),
(1, 1, [-0.09943039,-0.13480148,0.011631548,-0.03115014]::REAL[]),
(1, 2, [0.1814998,-0.09103343,-0.08230779,-0.19022919]::REAL[]),
(1, 3, [0.14782234,0.18665676,-0.2650095,-0.033797797]::REAL[]),
(1, 4, [-0.012244892,0.03135909,-0.052931648,0.073645346]::REAL[]),
(1, 5, [0.1676709,0.14314407,0.07116028,0.22517276]::REAL[]),
(1, 6, [-0.0615236,0.3242104,0.121485814,-0.23150936]::REAL[]),
(1, 7, [-0.08681875,-0.16939974,0.19695947,0.11014942]::REAL[]),
(1, 8, [-0.09529107,0.19002207,-0.0628641,-0.009763501]::REAL[]),
(1, 9, [-0.29991633,-0.10650411,-0.03835346,0.028594427]::REAL[]),
(1, 10, [-0.05946964,0.0576504,0.036107324,-0.046786934]::REAL[]),
(1, 11, [0.21432683,0.12767552,-0.09968637,0.08274709]::REAL[]),
(1, 12, [0.073163494,-0.05384393,-0.20785752,-0.17898224]::REAL[]),
(1, 13, [-0.084467664,-0.03618263,-0.24465086,0.10506203]::REAL[]),
(1, 14, [9.2787726E-4,-0.104913786,-0.109895654,0.07406866]::REAL[]),
(1, 15, [-0.12874596,-0.06461443,-0.025831742,-0.16590029]::REAL[]),
(1, 16, [0.10020155,-0.22120671,-0.115180075,0.061658397]::REAL[]),
(1, 17, [0.09151946,-0.028312113,0.06458109,0.104845405]::REAL[]),
(1, 18, [0.17519702,0.08095486,0.103584915,-0.106633626]::REAL[]),
(1, 19, [-0.0054130084,0.10259553,-0.19431913,0.07421444]::REAL[]),
(1, 20, [-0.11491634,4.120329E-4,0.046152726,0.17134814]::REAL[]),
(1, 21, [-0.093506455,0.0375043,-0.09919737,-0.017461233]::REAL[]),
(1, 22, [0.10428635,0.021677244,-0.06886852,-0.0481022]::REAL[]),
(1, 23, [0.07677367,0.031751715,-0.10996987,0.17081144]::REAL[]),
(1, 24, [0.22484688,0.25283134,0.1176205,-0.16606683]::REAL[]),
(1, 25, [-0.2476293,0.15213953,0.0680873,-0.019652775]::REAL[]),
(1, 26, [0.018442322,0.017873084,0.0069720857,-0.23133789]::REAL[]),
(1, 27, [-0.16714333,0.014157406,0.1838997,0.11452744]::REAL[]),
(1, 28, [-0.040768918,0.037847955,0.10009789,0.24571173]::REAL[]),
(1, 29, [-0.29629236,0.115498796,-0.05091273,0.22581525]::REAL[]),
(1, 30, [0.07399317,0.005324292,0.12582476,-0.19178484]::REAL[]),
(1, 31, [0.19108741,0.17851819,-0.13960965,-0.038065024]::REAL[]),
(1, 32, [0.15608235,-0.005147789,-0.116158724,0.052959174]::REAL[]),
(1, 33, [0.12807456,-0.2181158,0.0605294,0.043420907]::REAL[]),
(1, 34, [-0.05815051,0.18986118,0.22254363,0.04626492]::REAL[]),
(1, 35, [0.09837436,-0.096757226,-0.036217425,-0.3254159]::REAL[]),
(1, 36, [0.14227766,-0.15796342,-0.027253615,0.18259051]::REAL[]),
(1, 37, [0.025667874,-0.101658344,0.027433721,-0.1747532]::REAL[]),
(1, 38, [0.22235999,-0.020089043,0.025314998,0.09618673]::REAL[]),
(1, 39, [0.11310479,0.08464369,0.016503407,0.06885001]::REAL[]),
(1, 40, [-0.016715087,0.114182174,-0.21259476,-0.12637721]::REAL[]),
(1, 41, [0.07665189,0.14022027,-0.03135202,-0.10111998]::REAL[]),
(1, 42, [0.050070204,0.21898744,0.09990175,0.091962166]::REAL[]),
(1, 43, [0.08079975,-0.16075167,0.31160352,-0.05439729]::REAL[]),
(1, 44, [-0.09620493,-0.075708725,0.039402097,0.0487258]::REAL[]),
(1, 45, [0.005517831,0.15510017,-0.027921215,0.048371185]::REAL[]),
(1, 46, [-0.16034472,-0.27737767,-0.009880574,-0.12358011]::REAL[]),
(1, 47, [-0.09214206,0.16496366,-0.012840901,0.14437193]::REAL[]),
(1, 48, [-0.08887091,0.024338823,-0.10501096,0.20374109]::REAL[]),
(1, 49, [0.25738236,-0.13865362,-0.17610063,0.14460331]::REAL[]),
(1, 50, [-0.048438538,0.015896084,0.14006542,0.008600073]::REAL[]),
(1, 51, [-0.0034209087,-0.11824932,-0.1308027,-0.06556053]::REAL[]),
(1, 52, [-0.20898347,0.06774955,-0.13626708,-0.020785619]::REAL[]),
(1, 53, [0.022511788,0.009880717,-0.14327052,-0.39048445]::REAL[]),
(1, 54, [0.16117257,-0.07054579,-0.20592444,-0.035369698]::REAL[]),
(1, 55, [0.05849746,0.05657638,0.2828344,-0.0661857]::REAL[]),
(1, 56, [-0.04477963,-0.06280144,0.14321373,0.1412688]::REAL[]),
(1, 57, [0.046930548,-0.0867339,0.06954452,-0.048270646]::REAL[]),
(1, 58, [0.036644883,0.21028228,-0.08457537,0.1803288]::REAL[]),
(1, 59, [0.002949919,-0.25727305,0.014838322,0.16704975]::REAL[]),
(1, 60, [-0.14765929,0.067065164,0.11295865,-0.011009485]::REAL[]),
(1, 61, [-0.13789319,-0.08446765,0.19073269,-0.06505654]::REAL[]),
(1, 62, [-0.046939585,0.11212355,9.6370874E-4,0.2709176]::REAL[]),
(1, 63, [0.06696868,-0.028188236,-0.052122846,0.28186783]::REAL[]),
(2, 0, [-0.05930388,-0.1875456,0.109355435,0.03005199]::REAL[]),
(2, 1, [0.002723429,0.028686138,-0.2770042,0.024428174]::REAL[]),
(2, 2, [0.007356717,-0.06861195,0.06568196,0.08190189]::REAL[]),
(2, 3, [0.10805165,-0.16141015,-0.12750536,-0.1416446]::REAL[]),
(2, 4, [-0.0019964895,-0.12929496,-0.08242509,0.10780992]::REAL[]),
(2, 5, [-0.0021556865,0.13271913,0.17307298,0.12780705]::REAL[]),
(2, 6, [0.07851011,-0.038889766,0.058270276,-0.32814595]::REAL[]),
(2, 7, [0.28220928,-0.23489092,0.15833135,0.3269498]::REAL[]),
(2, 8, [0.119753495,0.2237862,0.09597527,-0.004880254]::REAL[]),
(2, 9, [0.28175312,-0.22063297,0.2758296,-0.02179506]::REAL[]),
(2, 10, [0.09965741,0.26469815,-0.102302395,0.09558345]::REAL[]),
(2, 11, [0.15752272,-0.07130237,-0.09753323,0.2477671]::REAL[]),
(2, 12, [0.021244794,-0.074192315,0.11344688,-0.13137826]::REAL[]),
(2, 13, [0.082448356,0.1310644,-0.08617929,-0.028988367]::REAL[]),
(2, 14, [-0.0882423,-0.056216124,0.14266689,0.25326413]::REAL[]),
(2, 15, [-0.05883116,0.011669211,-0.06639043,-0.20644145]::REAL[]),
(2, 16, [-0.059573047,0.3691931,0.24144596,-0.0039586416]::REAL[]),
(2, 17, [-0.094038405,0.26458928,-0.06314001,-0.05786479]::REAL[]),
(2, 18, [-0.2455125,0.13837305,0.15920514,0.011775089]::REAL[]),
(2, 19, [-0.032917824,0.041437417,-0.08104448,-0.017502403]::REAL[]),
(2, 20, [0.05281518,0.14636663,-0.14840281,-0.24106638]::REAL[]),
(2, 21, [-0.06347796,0.11898507,0.13423723,-0.06087785]::REAL[]),
(2, 22, [-0.18283841,-0.09886243,0.19968149,-0.10733626]::REAL[]),
(2, 23, [-0.09776625,0.23572534,0.06333862,0.07655123]::REAL[]),
(2, 24, [-0.18684179,0.036323436,0.08689715,-0.1937268]::REAL[]),
(2, 25, [0.2133143,-0.049254652,-0.013488541,-0.002567015]::REAL[]),
(2, 26, [-0.12472065,-0.22179517,0.035686497,0.19486378]::REAL[]),
(2, 27, [0.01848513,0.07922015,0.14590886,0.0016229759]::REAL[]),
(2, 28, [0.07910608,-0.1323288,-0.019831171,-0.007340812]::REAL[]),
(2, 29, [-0.11526331,0.15023328,-0.1606825,0.20476206]::REAL[]),
(2, 30, [0.08969214,-0.25527245,0.11198257,0.07766229]::REAL[]),
(2, 31, [-0.101483874,-0.17027771,-0.16822919,-0.02751244]::REAL[]),
(2, 32, [0.1678522,-0.19052494,-5.7392754E-8,0.07453839]::REAL[]),
(2, 33, [0.084387645,0.030310946,-0.1389669,0.111244634]::REAL[]),
(2, 34, [-0.12159125,-0.017513007,0.165827,-0.013117241]::REAL[]),
(2, 35, [-9.568721E-4,-0.035492245,-0.092179276,-0.0955977]::REAL[]),
(2, 36, [0.06660305,-0.07721043,-0.1806346,0.02384639]::REAL[]),
(2, 37, [0.07269411,-0.19030015,0.06717906,-0.14967416]::REAL[]),
(2, 38, [0.083409764,-0.03297868,-0.02720599,-0.0030687158]::REAL[]),
(2, 39, [0.20725714,-0.012215018,0.16460562,0.06295474]::REAL[]),
(2, 40, [0.03193342,-0.11389457,0.23685414,0.086406805]::REAL[]),
(2, 41, [-0.14450975,-0.19385312,-0.0075494577,-0.0642984]::REAL[]),
(2, 42, [0.12510484,0.109510295,-0.029077856,-0.21707134]::REAL[]),
(2, 43, [0.021141764,-0.17887221,0.01520126,0.015384009]::REAL[]),
(2, 44, [-0.1758368,0.013957954,-0.028718224,-0.05667217]::REAL[]),
(2, 45, [-0.07679936,0.0011023502,0.018565219,-0.1419465]::REAL[]),
(2, 46, [-0.1785827,-0.2130845,-0.092460394,0.10137655]::REAL[]),
(2, 47, [0.08485,0.09299961,0.025804209,0.06803584]::REAL[]),
(2, 48, [-0.16696677,0.12785067,-0.06643892,0.046302173]::REAL[]),
(2, 49, [-0.102235325,-0.19566354,-0.059016675,-0.25736478]::REAL[]),
(2, 50, [0.026733013,-0.07422855,-0.32613477,0.2962647]::REAL[]),
(2, 51, [-0.0701245,0.03007685,-0.0074604303,0.14547952]::REAL[]),
(2, 52, [-0.007891242,0.12793648,0.015820237,0.3025576]::REAL[]),
(2, 53, [-0.040241867,-0.011415759,0.07550468,-0.032240015]::REAL[]),
(2, 54, [-0.050282106,-0.07448828,0.18078795,-0.22167957]::REAL[]),
(2, 55, [0.2527496,0.0726329,-0.068773314,0.079692826]::REAL[]),
(2, 56, [-0.15538162,-0.03413644,0.00986397,0.018663798]::REAL[]),
(2, 57, [0.093868226,-0.1283077,0.23362757,-0.16359848]::REAL[]),
(2, 58, [0.14230168,-0.015010952,0.0040827724,-0.14677949]::REAL[]),
(2, 59, [0.18279473,0.10931674,0.15433569,-0.09837333]::REAL[]),
(2, 60, [-0.1775162,-0.012888891,-0.19104692,-0.09671161]::REAL[]),
(2, 61, [0.117402114,0.015667794,0.009589028,-0.048819557]::REAL[]),
(2, 62, [-0.069766745,0.10822228,0.12682728,-0.15713054]::REAL[]),
(2, 63, [0.23565933,-0.06929316,-0.1440223,-0.1019137]::REAL[]),
(3, 0, [-0.21254236,-0.022495808,-0.16432995,-0.13241252]::REAL[]),
(3, 1, [0.16027403,-0.16062005,-0.027480215,0.080344856]::REAL[]),
(3, 2, [-0.16097018,0.17795777,0.11900425,-0.07290554]::REAL[]),
(3, 3, [-0.0056186942,-0.3073596,-0.14287719,-0.080256425]::REAL[]),
(3, 4, [-0.15798107,-0.14114343,-0.1047488,-0.1463007]::REAL[]),
(3, 5, [-0.11753425,0.048838057,-0.19455402,0.005674113]::REAL[]),
(3, 6, [-0.16346648,-0.059371755,0.021301813,-0.04250174]::REAL[]),
(3, 7, [0.055632297,-0.10908947,0.046562664,-0.2283105]::REAL[]),
(3, 8, [0.005794709,0.14521816,0.009058371,0.10778329]::REAL[]),
(3, 9, [-0.08588857,-0.07524176,0.22142991,-0.06586668]::REAL[]),
(3, 10, [-0.17432289,-0.06813822,0.042928826,-0.19575807]::REAL[]),
(3, 11, [-0.10484396,0.15935701,0.20720851,0.112979]::REAL[]),
(3, 12, [0.19278413,0.19915701,-0.023770843,-0.07031794]::REAL[]),
(3, 13, [0.25536472,-0.02775096,0.07828045,0.17253065]::REAL[]),
(3, 14, [-0.0629172,0.28802067,0.0075324993,-0.011540829]::REAL[]),
(3, 15, [0.121426456,-0.14920858,0.3008886,-0.017676188]::REAL[]),
(3, 16, [0.03310354,-0.16279857,0.10586685,-0.103169456]::REAL[]),
(3, 17, [0.05287851,0.060720876,-0.23235938,-0.09896017]::REAL[]),
(3, 18, [0.06541686,0.05548456,0.12774749,0.040108476]::REAL[]),
(3, 19, [0.035613656,0.13486052,-0.20416835,0.1060518]::REAL[]),
(3, 20, [-0.061037023,-0.06057413,-0.27748984,0.05411584]::REAL[]),
(3, 21, [-0.16475466,0.032067545,-0.15716773,0.25171736]::REAL[]),
(3, 22, [-0.01157089,-0.035510816,0.05918825,-0.056484506]::REAL[]),
(3, 23, [-0.29130223,-0.09992571,0.079861894,-0.002872276]::REAL[]),
(3, 24, [0.12015158,0.15857787,0.11514383,-0.12495155]::REAL[]),
(3, 25, [0.03688391,-0.038687073,0.18880907,0.15367603]::REAL[]),
(3, 26, [-0.19140686,-0.030944515,0.16814415,0.023720047]::REAL[]),
(3, 27, [-0.2524863,0.07205522,-0.07512299,0.027746238]::REAL[]),
(3, 28, [0.033447497,0.084219866,-0.012810048,-0.12986557]::REAL[]),
(3, 29, [0.038468607,0.045262903,0.04608828,-0.09076497]::REAL[]),
(3, 30, [-0.09865087,0.017770415,-0.11922739,-0.22225913]::REAL[]),
(3, 31, [0.17282423,0.02233256,0.18318644,-0.09845002]::REAL[]),
(3, 32, [0.23847918,-0.07250418,0.08309826,-0.14783627]::REAL[]),
(3, 33, [-0.040538613,-0.079087354,-0.10536999,0.1749865]::REAL[]),
(3, 34, [0.022645008,-0.084457286,0.017048042,0.08211231]::REAL[]),
(3, 35, [0.15265846,0.17120953,-0.043844763,0.07275291]::REAL[]),
(3, 36, [0.070217334,-2.133731E-4,-0.05095523,0.2706369]::REAL[]),
(3, 37, [-0.04944693,0.13022031,0.08297351,-0.19365408]::REAL[]),
(3, 38, [0.09239302,-0.00879988,-0.02477208,-0.05856945]::REAL[]),
(3, 39, [0.10122779,0.019657476,-0.014619602,0.06835228]::REAL[]),
(3, 40, [-0.110783346,0.118499115,-0.07684661,-0.04284689]::REAL[]),
(3, 41, [-0.03770308,0.070757434,0.1663134,-0.10428096]::REAL[]),
(3, 42, [-0.066868365,-0.009194764,0.05944247,0.14708057]::REAL[]),
(3, 43, [0.14758997,0.18789664,0.113065794,0.092588894]::REAL[]),
(3, 44, [0.22679606,-0.046614464,-0.13845696,-0.09846849]::REAL[]),
(3, 45, [0.0023794486,0.012966374,-0.13315691,0.119623646]::REAL[]),
(3, 46, [0.04869282,-0.07174823,-0.14084874,-0.0653579]::REAL[]),
(3, 47, [-0.12995848,0.070075125,0.017297208,0.045946714]::REAL[]),
(3, 48, [-0.023436269,-0.18136418,-0.016937464,-0.034031175]::REAL[]),
(3, 49, [-0.13963425,-0.08000693,-0.08717704,0.023759436]::REAL[]),
(3, 50, [-0.099227466,-0.33659792,0.0512587,-0.05651742]::REAL[]),
(3, 51, [-0.103390105,-0.021950034,0.26776794,0.30946776]::REAL[]),
(3, 52, [0.25314596,-0.23825201,-0.14908302,0.20716482]::REAL[]),
(3, 53, [0.0352268,0.022273693,-0.07826226,-0.13655254]::REAL[]),
(3, 54, [0.18677743,-0.19255692,-0.15966271,0.05634609]::REAL[]),
(3, 55, [-0.010099572,-0.12074428,-0.16440679,-0.27184153]::REAL[]),
(3, 56, [-0.017188061,-0.23550078,-0.026614195,0.1349772]::REAL[]),
(3, 57, [0.20443611,0.12890786,-0.1209941,0.15348941]::REAL[]),
(3, 58, [-0.038063824,-0.1914386,0.0041221874,-0.14359793]::REAL[]),
(3, 59, [0.09909237,-0.20620972,0.057065524,-0.0017685823]::REAL[]),
(3, 60, [0.11662098,-0.11173698,0.14998983,0.025081435]::REAL[]),
(3, 61, [0.0038776854,0.14578113,-0.13126992,-0.09184337]::REAL[]),
(3, 62, [0.041816093,-0.04963894,0.17233041,-0.22460297]::REAL[]),
(3, 63, [-0.13539915,-0.13431044,-0.15956663,-0.03408191]::REAL[]),
(4, 0, [-0.06583243,0.0966665,0.06289851,-0.06534274]::REAL[]),
(4, 1, [-0.032406885,0.12668449,-0.17505881,-0.058951322]::REAL[]),
(4, 2, [-0.10389603,-0.08813885,-0.06101007,0.043182496]::REAL[]),
(4, 3, [0.040390097,0.0725889,-0.16514573,0.12543452]::REAL[]),
(4, 4, [-0.022693396,0.13388209,0.03333294,0.25699395]::REAL[]),
(4, 5, [0.070647165,-0.067427315,-0.1257298,0.0056099137]::REAL[]),
(4, 6, [0.15740627,0.042428754,0.12705061,0.16702661]::REAL[]),
(4, 7, [0.026501663,-0.034249354,2.7971937E-5,0.10102076]::REAL[]),
(4, 8, [-0.07205555,0.013241739,-0.03202667,-0.060196683]::REAL[]),
(4, 9, [-0.1088584,0.17424765,-0.075104415,0.04977211]::REAL[]),
(4, 10, [0.0357372,-0.024074629,0.059041172,-0.047347773]::REAL[]),
(4, 11, [-0.033201933,-0.009741809,0.18321493,-6.398315E-4]::REAL[]),
(4, 12, [-0.117014125,0.0698801,0.108995095,0.099031895]::REAL[]),
(4, 13, [-0.14439222,0.0461278,-0.15601441,0.13825321]::REAL[]),
(4, 14, [-0.025968775,0.091885015,-0.048450302,-0.20956519]::REAL[]),
(4, 15, [-0.14177354,-0.06025208,-0.009233573,-0.12940162]::REAL[]),
(4, 16, [-0.17837979,-0.26910624,-0.09479698,-0.13083176]::REAL[]),
(4, 17, [0.23744546,-0.072621085,-0.12881099,-0.051372997]::REAL[]),
(4, 18, [0.117575474,-0.2125748,-0.1563373,0.079956636]::REAL[]),
(4, 19, [-0.14292227,-0.04103825,-0.004327039,0.15582629]::REAL[]),
(4, 20, [-0.0045600953,0.19401206,0.06442562,-0.13004525]::REAL[]),
(4, 21, [0.10268852,0.12324458,-0.16602276,-0.10285352]::REAL[]),
(4, 22, [-0.050910998,-0.17778513,0.08038872,0.063548855]::REAL[]),
(4, 23, [0.1494029,0.08176027,0.020247336,-0.01378499]::REAL[]),
(4, 24, [-0.13807434,0.0791858,-0.12214966,0.008372461]::REAL[]),
(4, 25, [-0.074320346,0.07136211,-0.012936082,0.0831909]::REAL[]),
(4, 26, [-0.21593054,-0.08991226,-0.14396815,-0.010272419]::REAL[]),
(4, 27, [0.10949513,0.15145837,0.02746015,-0.13094679]::REAL[]),
(4, 28, [-0.07827395,-0.16156209,0.05450265,-0.083400495]::REAL[]),
(4, 29, [0.13048588,0.02182368,-0.07101793,-0.15603988]::REAL[]),
(4, 30, [-0.03976657,-0.11041374,-0.15156284,0.1299457]::REAL[]),
(4, 31, [0.0422949,-0.015406906,0.26099575,0.10902885]::REAL[]),
(4, 32, [0.0592824,0.24340178,-0.08718145,0.009325384]::REAL[]),
(4, 33, [0.0795166,-0.20864439,-0.063206345,-0.15921585]::REAL[]),
(4, 34, [0.11188424,-0.15312336,0.08795233,0.04387173]::REAL[]),
(4, 35, [-0.016446523,0.20406854,0.12546203,0.14600262]::REAL[]),
(4, 36, [0.1905211,-0.08580135,0.0077402894,0.190587]::REAL[]),
(4, 37, [0.04168638,-0.049152017,-0.07143712,-0.14243163]::REAL[]),
(4, 38, [0.09005,-0.12813714,0.046475954,-0.077047884]::REAL[]),
(4, 39, [-0.23773679,0.2669996,-0.101740606,0.05940252]::REAL[]),
(4, 40, [-0.062201668,-0.25445715,-0.13976564,-0.019750776]::REAL[]),
(4, 41, [-0.09308531,0.2311025,0.2719096,-0.036964856]::REAL[]),
(4, 42, [-0.062995315,-0.06222956,-0.23784584,-0.01180372]::REAL[]),
(4, 43, [-0.2411097,-0.07550888,0.12975584,-0.034491096]::REAL[]),
(4, 44, [0.057850875,0.05795533,0.049273152,-0.28263265]::REAL[]),
(4, 45, [-0.045354575,0.2430436,0.012094525,0.10978576]::REAL[]),
(4, 46, [-0.011748454,0.3696051,0.045879383,-0.1330159]::REAL[]),
(4, 47, [0.2216777,0.0015262592,0.025610628,-0.18242858]::REAL[]),
(4, 48, [-0.14291525,-0.21433762,-0.11515211,0.15906632]::REAL[]),
(4, 49, [0.24125823,-0.18693267,0.088010825,-0.19322674]::REAL[]),
(4, 50, [-0.23176526,0.07850904,0.10903405,-0.10868749]::REAL[]),
(4, 51, [0.0059156814,0.05971952,0.14652722,0.12559824]::REAL[]),
(4, 52, [-0.022594746,0.1254973,0.113827184,0.0119040655]::REAL[]),
(4, 53, [0.1784502,0.024067886,-0.07146645,0.04465618]::REAL[]),
(4, 54, [0.24777849,-0.036393985,0.07579955,-0.01293287]::REAL[]),
(4, 55, [0.06640233,-0.05237717,0.15034652,0.064961255]::REAL[]),
(4, 56, [-0.16680866,0.14415279,0.077362806,-0.016036708]::REAL[]),
(4, 57, [0.016581591,0.08331399,0.16755524,-0.094651856]::REAL[]),
(4, 58, [0.07285161,0.12113878,-0.05577921,0.10520053]::REAL[]),
(4, 59, [-0.10277897,-0.1587425,0.3585034,-0.036388814]::REAL[]),
(4, 60, [0.22170526,0.16643658,0.19632654,-0.024557322]::REAL[]),
(4, 61, [0.04961483,-0.02622792,0.19235003,-0.08068559]::REAL[]),
(4, 62, [-0.06195318,-0.025683966,0.098721445,-0.15087402]::REAL[]),
(4, 63, [0.11204138,-0.032782033,-0.27832416,0.05359106]::REAL[]),
(5, 0, [0.24408022,0.1196249,-0.060301844,0.16380085]::REAL[]),
(5, 1, [0.06331548,0.01874994,-0.27793863,-0.060380317]::REAL[]),
(5, 2, [-0.16617203,0.17137381,0.14542413,-0.16363277]::REAL[]),
(5, 3, [-0.16449828,-0.099240914,0.033322588,0.33358413]::REAL[]),
(5, 4, [-0.056155995,-0.02791845,-0.05977263,-0.13313065]::REAL[]),
(5, 5, [-0.058354847,0.16880436,0.0043563773,0.013493307]::REAL[]),
(5, 6, [-0.12049778,-0.040371545,0.07369659,-0.09127306]::REAL[]),
(5, 7, [0.25646904,0.015191241,0.07897544,-0.053357165]::REAL[]),
(5, 8, [0.10942203,-0.037736423,-0.18123579,0.22978467]::REAL[]),
(5, 9, [-0.04404113,-0.06946341,-0.12516683,0.11552715]::REAL[]),
(5, 10, [-0.15969951,-0.054234814,-0.052566662,0.16972253]::REAL[]),
(5, 11, [0.0032940642,0.13629127,0.13749403,0.26825747]::REAL[]),
(5, 12, [-0.2722813,-0.079752415,-0.106212474,-0.041426968]::REAL[]),
(5, 13, [-0.045184556,0.1137035,-0.16488732,0.091859296]::REAL[]),
(5, 14, [-0.25563958,0.18648939,0.15781437,0.07451707]::REAL[]),
(5, 15, [-0.07713524,-0.08239332,-0.09942791,-0.045356203]::REAL[]),
(5, 16, [0.02127872,0.08833246,0.01804561,0.24861413]::REAL[]),
(5, 17, [-0.13834137,0.029996647,0.101264946,0.10972699]::REAL[]),
(5, 18, [-0.10146603,-0.077922374,0.2209909,-0.3134397]::REAL[]),
(5, 19, [0.07143033,-0.17549267,-0.10717246,-0.014716942]::REAL[]),
(5, 20, [-0.019911293,-0.22820131,0.24650389,-0.08279569]::REAL[]),
(5, 21, [0.13443786,0.085451625,0.19239242,-0.077033095]::REAL[]),
(5, 22, [0.18526699,-0.17203514,-0.020374643,-0.2669265]::REAL[]),
(5, 23, [0.16315085,-0.0023949686,-0.056684416,-0.07645306]::REAL[]),
(5, 24, [0.06742948,-0.057317942,0.10490994,-0.07830848]::REAL[]),
(5, 25, [0.07823521,0.023676127,0.15772936,-0.261933]::REAL[]),
(5, 26, [0.06259734,0.067949146,-0.11426876,0.04929963]::REAL[]),
(5, 27, [-0.15253024,-0.072429754,0.16947445,-0.046240285]::REAL[]),
(5, 28, [0.039009146,-0.15358184,0.068318345,0.15578035]::REAL[]),
(5, 29, [0.13269982,-0.029476507,-0.03716604,0.054287516]::REAL[]),
(5, 30, [0.11502763,-0.0796873,0.106107876,-0.31474382]::REAL[]),
(5, 31, [0.02632028,-0.28280607,-0.10103544,0.031271674]::REAL[]),
(5, 32, [0.020311242,0.040568016,-0.014972549,-0.015145854]::REAL[]),
(5, 33, [-0.032025743,-0.09434171,-0.22993863,-0.09909066]::REAL[]),
(5, 34, [0.12844273,0.06594365,-0.22011335,0.09699768]::REAL[]),
(5, 35, [-0.21818557,0.0019159579,-0.058605686,-0.13466163]::REAL[]),
(5, 36, [-0.08830545,-0.10677986,-0.0015894936,-0.17410912]::REAL[]),
(5, 37, [0.10218161,0.100204654,0.12010761,0.105605535]::REAL[]),
(5, 38, [0.015704336,0.31675345,-0.09779031,0.15009676]::REAL[]),
(5, 39, [0.075566016,-0.014593218,0.008322148,0.023871878]::REAL[]),
(5, 40, [-0.015091221,0.077867314,0.080293,0.016794654]::REAL[]),
(5, 41, [-0.15988857,0.09153536,-0.15350944,-0.052057516]::REAL[]),
(5, 42, [-0.007926819,0.042866983,-0.13496153,-0.057851836]::REAL[]),
(5, 43, [0.08002011,-0.08049095,-0.13276106,0.097052716]::REAL[]),
(5, 44, [0.054854818,-0.015701354,0.10552668,0.10481346]::REAL[]),
(5, 45, [0.016762868,0.17133124,0.08564538,-0.24119313]::REAL[]),
(5, 46, [0.1869724,-0.15763976,-0.025489984,0.008556872]::REAL[]),
(5, 47, [0.1903749,0.17781278,-0.08702595,-0.1612201]::REAL[]),
(5, 48, [0.034325056,0.12770581,-0.06668799,0.1350948]::REAL[]),
(5, 49, [-0.080318876,0.13037677,-0.048776574,-0.19205467]::REAL[]),
(5, 50, [-0.13573317,-0.0649806,-0.1045366,0.04451051]::REAL[]),
(5, 51, [-0.049210925,-0.14611493,0.10759888,-0.19736129]::REAL[]),
(5, 52, [0.099116705,-0.017277252,0.10757885,-0.15799792]::REAL[]),
(5, 53, [0.06263024,0.18938437,0.08948015,-0.019437948]::REAL[]),
(5, 54, [-0.09186117,0.040589653,0.060069274,-0.077558056]::REAL[]),
(5, 55, [-0.120554395,0.21533377,-0.0059165396,0.120208606]::REAL[]),
(5, 56, [-0.002380493,0.12464482,-0.06889595,-0.17463955]::REAL[]),
(5, 57, [-0.028373897,-0.16523273,-0.10556474,0.0719568]::REAL[]),
(5, 58, [0.022783,-0.073125705,-0.0016027029,-0.14750555]::REAL[]),
(5, 59, [-0.03489249,0.051278602,-0.053201463,0.05937368]::REAL[]),
(5, 60, [0.06892708,-0.15016758,0.08741861,6.129285E-4]::REAL[]),
(5, 61, [-0.084159896,-0.17330176,0.06139678,0.039231826]::REAL[]),
(5, 62, [0.060857702,-0.01596234,-0.077070914,-0.24388008]::REAL[]),
(5, 63, [0.17705044,0.09184258,-0.029658798,0.030247658]::REAL[]),
(6, 0, [-0.088607,-0.24003533,0.1445764,-0.045668308]::REAL[]),
(6, 1, [0.021773517,0.1507134,0.05039683,-0.14336267]::REAL[]),
(6, 2, [-0.16185449,0.120937265,0.048834547,0.22560619]::REAL[]),
(6, 3, [0.009180649,-0.20689979,0.06532815,0.016472857]::REAL[]),
(6, 4, [-0.14569587,0.18924959,0.054527204,0.043453626]::REAL[]),
(6, 5, [-0.16971464,0.016926868,0.26681116,0.07836106]::REAL[]),
(6, 6, [0.26380682,0.18771021,0.0655849,-0.0809381]::REAL[]),
(6, 7, [0.09174016,-0.18251912,-0.11767809,0.054480158]::REAL[]),
(6, 8, [0.04358469,-0.07826418,0.06515884,0.18249187]::REAL[]),
(6, 9, [-0.016491251,0.24249078,0.007835344,0.054418497]::REAL[]),
(6, 10, [0.16407108,-0.29113576,0.19782338,0.009723533]::REAL[]),
(6, 11, [0.17472586,0.091905065,-0.07671243,0.21055283]::REAL[]),
(6, 12, [-0.21123995,0.015981667,0.086561866,-0.0071049836]::REAL[]),
(6, 13, [-0.053071592,-0.1633586,-0.15256076,0.1727676]::REAL[]),
(6, 14, [0.04144062,0.11340094,-0.15931153,-0.116960034]::REAL[]),
(6, 15, [0.05535533,0.018688332,-0.056424696,-0.17228723]::REAL[]),
(6, 16, [-0.24226482,0.1906832,-0.06702032,0.081346385]::REAL[]),
(6, 17, [0.044326533,-0.12152155,0.15197504,0.006800537]::REAL[]),
(6, 18, [-0.038232435,-0.16224165,-0.13101038,-0.08482173]::REAL[]),
(6, 19, [-0.12036331,0.044220977,-0.10867986,-0.17019099]::REAL[]),
(6, 20, [-0.18369582,0.11438405,-0.188926,-0.011212939]::REAL[]),
(6, 21, [0.26659998,-0.13108853,0.016822001,-0.059309587]::REAL[]),
(6, 22, [0.16609673,0.04259387,0.051660534,-0.022474311]::REAL[]),
(6, 23, [0.024835762,0.13084853,-0.19849654,0.17151658]::REAL[]),
(6, 24, [0.013932693,0.10409111,-0.0726727,0.030877344]::REAL[]),
(6, 25, [-0.09470318,-0.11974472,0.09562593,-0.14668459]::REAL[]),
(6, 26, [-0.13012308,0.01646028,-0.16405414,0.109410875]::REAL[]),
(6, 27, [-0.04117512,-0.0957366,-0.10855038,-0.23794177]::REAL[]),
(6, 28, [0.18921,-0.07875722,0.071163565,0.13233191]::REAL[]),
(6, 29, [0.12207909,0.043419648,0.1705021,0.06940914]::REAL[]),
(6, 30, [0.11186345,0.098415524,0.008330451,0.09038321]::REAL[]),
(6, 31, [-0.061679065,0.038975965,-0.027505793,0.056873687]::REAL[]),
(6, 32, [0.13714147,-0.20955092,-0.47108445,-0.16314362]::REAL[]),
(6, 33, [0.12677535,-0.11820453,0.01266835,-0.14134856]::REAL[]),
(6, 34, [0.20315504,0.032999016,0.20937322,-0.16688828]::REAL[]),
(6, 35, [0.2002335,0.108007506,-0.13643034,0.053954836]::REAL[]),
(6, 36, [-0.110193394,-0.033289034,0.013897357,0.089332215]::REAL[]),
(6, 37, [-0.030653901,-0.0829591,-0.021425577,-0.11549269]::REAL[]),
(6, 38, [0.018073797,-0.051330265,-0.18574807,-0.024638655]::REAL[]),
(6, 39, [-0.05927734,0.08438492,0.09318982,0.012473423]::REAL[]),
(6, 40, [0.07931996,0.25255117,0.13708319,0.050453085]::REAL[]),
(6, 41, [-0.08711822,0.2226013,-0.14401974,-0.031743966]::REAL[]),
(6, 42, [-0.019073147,0.09148626,-0.108494006,-0.2784964]::REAL[]),
(6, 43, [0.2176098,-0.017661659,-0.088688105,0.098807134]::REAL[]),
(6, 44, [0.07638099,-0.05220083,-0.09041883,0.025359642]::REAL[]),
(6, 45, [-0.051084403,0.012100179,0.0023867893,0.29067665]::REAL[]),
(6, 46, [-0.08750175,-0.10628241,0.022735303,0.16425902]::REAL[]),
(6, 47, [0.022990687,-0.123129,0.036037594,-0.010386792]::REAL[]),
(6, 48, [-0.036504462,0.20965481,0.21870834,-0.07388182]::REAL[]),
(6, 49, [0.03262294,0.037446678,-0.035059236,-0.062349733]::REAL[]),
(6, 50, [0.16209882,0.14438692,-0.06450344,-0.122683614]::REAL[]),
(6, 51, [0.04878722,0.17800686,-0.11189375,0.027653534]::REAL[]),
(6, 52, [0.19708452,0.21866772,-0.2754185,-0.3161314]::REAL[]),
(6, 53, [0.10976072,0.024504019,-0.05572547,0.03306664]::REAL[]),
(6, 54, [0.051860142,-0.06606758,0.086929604,-0.027429702]::REAL[]),
(6, 55, [-0.14304657,-0.22658323,-0.047029544,0.038501907]::REAL[]),
(6, 56, [-0.044652242,-0.027241947,0.19311763,-0.10383655]::REAL[]),
(6, 57, [0.09539559,0.13689992,0.055636838,-0.053035423]::REAL[]),
(6, 58, [0.026131656,0.08619991,0.0861135,-0.019059103]::REAL[]),
(6, 59, [-0.29919714,-0.08277461,-0.036969863,-0.0024358588]::REAL[]),
(6, 60, [-0.12658286,-0.1144626,-0.1443219,-0.2334598]::REAL[]),
(6, 61, [-0.18257327,0.022306165,0.014102783,-0.25426668]::REAL[]),
(6, 62, [-0.10128235,-0.11916953,-0.047142223,-0.05758795]::REAL[]),
(6, 63, [-0.024551356,0.013430597,-0.12584122,0.10890276]::REAL[]),
(7, 0, [0.014048956,-0.37306362,-0.12645195,-0.00950442]::REAL[]),
(7, 1, [-0.008209829,0.25059852,0.24056534,0.07115077]::REAL[]),
(7, 2, [0.0123365605,0.23395032,-0.2618433,0.012601089]::REAL[]),
(7, 3, [-0.044184133,0.12574962,0.1640596,-0.15369447]::REAL[]),
(7, 4, [0.1758528,0.037002955,0.005682585,-0.11783036]::REAL[]),
(7, 5, [-0.23919046,-0.07922391,0.2116693,-0.0927841]::REAL[]),
(7, 6, [-0.32899818,0.110833876,0.10757264,-0.048554517]::REAL[]),
(7, 7, [0.005126732,-0.12694994,0.21234658,0.0509351]::REAL[]),
(7, 8, [0.07266489,0.043788135,-0.0034789941,0.03211507]::REAL[]),
(7, 9, [0.044712227,0.012108242,0.0014131267,-0.23772128]::REAL[]),
(7, 10, [-0.10727077,-0.13216208,0.06370519,0.21636896]::REAL[]),
(7, 11, [0.09851756,-0.0014976789,-0.0057122624,0.33739427]::REAL[]),
(7, 12, [0.1491396,0.1411111,-0.47146866,-0.27711943]::REAL[]),
(7, 13, [0.14095412,-0.13286063,0.10539861,0.30647433]::REAL[]),
(7, 14, [0.16777468,0.010443989,0.17179285,-0.2120932]::REAL[]),
(7, 15, [-0.19119789,0.030156491,-0.23032801,-0.10324591]::REAL[]),
(7, 16, [-0.20613848,-0.12732448,0.14508589,0.06782585]::REAL[]),
(7, 17, [0.119336456,0.14157172,-0.11580299,-0.23002821]::REAL[]),
(7, 18, [0.04745361,0.041575335,0.035403013,-0.09272329]::REAL[]),
(7, 19, [-0.025704505,0.2639011,-0.06243934,0.04278968]::REAL[]),
(7, 20, [-0.0105048735,0.04875522,0.2152538,-0.0032649923]::REAL[]),
(7, 21, [0.2396692,0.07685344,-0.06366361,0.05823474]::REAL[]),
(7, 22, [0.1327343,0.042043243,0.2560878,-0.0077065807]::REAL[]),
(7, 23, [0.124317296,0.09251598,-0.091358796,-0.07453984]::REAL[]),
(7, 24, [-0.061157692,0.0031119455,-0.14615983,0.01171554]::REAL[]),
(7, 25, [-0.1341534,0.16274768,-0.009705467,-0.0013552121]::REAL[]),
(7, 26, [-0.057776887,-0.061118703,-0.090076245,-0.19178167]::REAL[]),
(7, 27, [0.18997347,0.19542553,-0.0014035683,0.11905527]::REAL[]),
(7, 28, [0.10862112,0.09157047,0.17186207,0.15032673]::REAL[]),
(7, 29, [-0.046557944,-0.1538449,0.16645011,-0.22131397]::REAL[]),
(7, 30, [-0.027130635,-0.05647862,0.0059184693,0.04116265]::REAL[]),
(7, 31, [-0.024429562,0.077775285,0.09268805,0.095465556]::REAL[]),
(7, 32, [-0.12572655,-0.08820834,0.14502394,-0.10342834]::REAL[]),
(7, 33, [-0.022863781,0.19854479,0.018969826,-0.102662876]::REAL[]),
(7, 34, [0.09019655,0.32366997,0.16279736,-0.13142239]::REAL[]),
(7, 35, [0.04731991,-9.2758046E-4,-0.039860487,0.12263989]::REAL[]),
(7, 36, [-0.21522886,-0.046769567,-0.08709702,-0.0255019]::REAL[]),
(7, 37, [-0.09660623,-0.027307348,0.12172515,0.08229406]::REAL[]),
(7, 38, [0.036955997,0.038776547,-0.18154897,0.08815593]::REAL[]),
(7, 39, [0.08229973,0.0041386504,0.10974251,0.03993123]::REAL[]),
(7, 40, [0.27268982,-0.07155421,0.10850664,0.03875997]::REAL[]),
(7, 41, [-0.029385006,-0.10398812,-0.011489259,0.10243619]::REAL[]),
(7, 42, [-0.14867312,0.1362773,0.18466964,0.049273916]::REAL[]),
(7, 43, [-0.057264104,0.33621648,-0.036684185,0.13463129]::REAL[]),
(7, 44, [-0.028512472,0.24580914,0.087494835,0.1941511]::REAL[]),
(7, 45, [-0.014073609,-0.08537477,-0.14835803,0.2651964]::REAL[]),
(7, 46, [-0.15805335,-0.003839966,0.22173284,0.003322647]::REAL[]),
(7, 47, [0.04460369,-0.21602918,0.12399384,-0.14050603]::REAL[]),
(7, 48, [-0.16770491,-0.09783837,-0.18718767,0.12831344]::REAL[]),
(7, 49, [0.1510718,-0.077442974,-0.18016061,0.01523336]::REAL[]),
(7, 50, [0.058423627,-0.1503215,0.03255942,-0.05044154]::REAL[]),
(7, 51, [0.13631143,-0.18116283,-0.1353922,-0.02337576]::REAL[]),
(7, 52, [-0.14624791,-0.22255597,0.036010195,-0.07725906]::REAL[]),
(7, 53, [0.021627894,-0.22983722,0.085899785,0.12088578]::REAL[]),
(7, 54, [-0.002891094,0.083425455,-0.047963068,-0.0063615795]::REAL[]),
(7, 55, [-0.14285848,0.0017168985,0.041483633,-0.109189294]::REAL[]),
(7, 56, [0.16979484,-0.07374948,0.054730162,-0.12548468]::REAL[]),
(7, 57, [0.012631928,-0.07437825,-0.11447443,-0.03110495]::REAL[]),
(7, 58, [0.12629187,-0.031988665,0.031162528,0.0034942206]::REAL[]),
(7, 59, [0.113187775,-0.07219877,0.020538231,0.14075504]::REAL[]),
(7, 60, [-0.06487618,0.1010234,-0.13039586,-0.077294804]::REAL[]),
(7, 61, [-0.05887364,0.0555761,-0.017610228,0.03736989]::REAL[]),
(7, 62, [-0.16980174,0.102105126,-0.09628901,0.14719713]::REAL[]),
(7, 63, [0.032967225,0.15466619,-0.061569255,0.1421558]::REAL[]),
(8, 0, [-0.26392984,-0.12288087,0.013025016,0.06182864]::REAL[]),
(8, 1, [-0.1065958,-0.2139162,-0.11740896,-0.015090912]::REAL[]),
(8, 2, [-0.057089165,-0.15905045,0.12480135,0.0905662]::REAL[]),
(8, 3, [-0.10417312,0.094905406,-0.09209061,-0.18719517]::REAL[]),
(8, 4, [-0.012801139,-0.0895087,0.0034284596,0.014962091]::REAL[]),
(8, 5, [0.09730231,-0.06753055,0.16602759,0.011445772]::REAL[]),
(8, 6, [-0.20057184,0.10976687,-0.03676456,0.25163975]::REAL[]),
(8, 7, [0.0591238,-0.18638895,0.0033431232,0.140987]::REAL[]),
(8, 8, [-0.026688356,0.052848168,0.020709213,0.12641773]::REAL[]),
(8, 9, [-0.10887685,-0.09673756,0.14957216,-0.1541417]::REAL[]),
(8, 10, [-0.045892484,-0.0456757,-0.21885629,0.21995594]::REAL[]),
(8, 11, [0.019354219,-0.09660526,0.032270607,-0.08046889]::REAL[]),
(8, 12, [0.09665158,0.051036872,0.024705805,0.03584107]::REAL[]),
(8, 13, [0.10440019,-0.028156623,0.032171153,0.3031458]::REAL[]),
(8, 14, [0.038457908,-0.030393073,-0.022718243,-0.31608975]::REAL[]),
(8, 15, [0.21264175,0.088697165,0.13632098,-0.048681457]::REAL[]),
(8, 16, [-0.0444779,-0.04184082,0.114695966,-0.07969225]::REAL[]),
(8, 17, [-0.16541812,-0.100973494,0.010722617,-0.19854312]::REAL[]),
(8, 18, [0.023596713,0.095966645,-0.13026902,0.24730825]::REAL[]),
(8, 19, [-0.013089528,-0.028447233,-0.021677366,0.062157806]::REAL[]),
(8, 20, [-0.35967904,0.14328773,-0.0942181,-0.15629935]::REAL[]),
(8, 21, [-0.05803971,-0.014685449,-0.23962337,-0.29820275]::REAL[]),
(8, 22, [0.07284603,-0.09711791,-0.22125082,-0.044669498]::REAL[]),
(8, 23, [-0.17682652,0.054311812,-0.052299853,0.060080796]::REAL[]),
(8, 24, [0.15294914,-0.08335415,0.08418312,0.08324861]::REAL[]),
(8, 25, [0.047773335,0.031496596,-0.09948926,-0.034056667]::REAL[]),
(8, 26, [-0.11322458,-0.07386941,-0.007149776,0.20552135]::REAL[]),
(8, 27, [0.08589029,-0.009032913,-0.14101554,-0.21333216]::REAL[]),
(8, 28, [0.1783329,0.12111851,-0.007802973,-0.01051711]::REAL[]),
(8, 29, [0.008007575,-0.197272,0.07811901,-0.0067937793]::REAL[]),
(8, 30, [0.0926869,-0.11571246,0.18118712,-0.24290146]::REAL[]),
(8, 31, [0.078572564,0.13240716,0.07945149,-0.039350532]::REAL[]),
(8, 32, [0.108153224,0.12809907,-0.0725011,0.12893853]::REAL[]),
(8, 33, [0.11480667,-0.18572019,0.24728651,-0.057757996]::REAL[]),
(8, 34, [-0.053024605,0.22303805,-0.017154397,-0.084025376]::REAL[]),
(8, 35, [0.12519667,0.22779891,0.1407561,-0.09202787]::REAL[]),
(8, 36, [0.12754352,0.25864473,-0.124507815,-0.18173918]::REAL[]),
(8, 37, [-0.024527447,0.029943373,0.23519832,-0.05247513]::REAL[]),
(8, 38, [-0.0065692333,0.13834715,0.25851125,-0.15316337]::REAL[]),
(8, 39, [0.034911383,-0.16768461,0.0020447809,-0.1544537]::REAL[]),
(8, 40, [-0.1233641,-0.03400205,0.2457291,0.02940115]::REAL[]),
(8, 41, [0.16143206,-0.040949956,-0.22301297,0.10098298]::REAL[]),
(8, 42, [0.1414586,-0.035476446,-0.020024871,0.06421388]::REAL[]),
(8, 43, [0.032037795,0.1386561,0.1629917,0.13958924]::REAL[]),
(8, 44, [0.07700443,0.19041461,-0.10657813,-0.03449095]::REAL[]),
(8, 45, [-0.12493627,-0.06407881,-0.15919992,-0.11247601]::REAL[]),
(8, 46, [-0.028744623,-0.07827406,-0.07002628,-0.21937868]::REAL[]),
(8, 47, [-0.24618532,0.08231947,0.04912619,-0.081001334]::REAL[]),
(8, 48, [0.21375808,0.0644118,-0.09650193,-0.06846341]::REAL[]),
(8, 49, [0.028990664,-0.04582528,0.106562674,0.13427517]::REAL[]),
(8, 50, [0.20594993,0.03567506,0.14521275,0.16102102]::REAL[]),
(8, 51, [-0.074478775,-0.029277563,0.071254894,0.10969468]::REAL[]),
(8, 52, [0.11689115,0.31067437,-0.019485703,0.00414805]::REAL[]),
(8, 53, [0.10602194,-0.117685065,-0.094155505,-0.05436364]::REAL[]),
(8, 54, [0.16036041,-0.13373299,-0.01959673,0.027819976]::REAL[]),
(8, 55, [0.08665968,0.047548853,0.04493477,-0.2041638]::REAL[]),
(8, 56, [-0.037710063,-0.042562805,0.12700993,-0.23141843]::REAL[]),
(8, 57, [-0.056553636,0.08711028,0.025240658,-0.04989688]::REAL[]),
(8, 58, [0.11832448,-0.058436647,-0.09786584,0.19167133]::REAL[]),
(8, 59, [-0.054253325,-0.04790249,-0.13491511,0.12531278]::REAL[]),
(8, 60, [0.004875627,-0.14983796,-0.13136382,0.05630308]::REAL[]),
(8, 61, [-0.05834472,-0.029858947,-0.017440602,-0.08609062]::REAL[]),
(8, 62, [-0.08913707,0.12535547,-0.13421546,-8.79947E-4]::REAL[]),
(8, 63, [0.16244659,-0.1131929,0.04958077,-0.15472986]::REAL[]),
(9, 0, [-0.10119033,0.1199394,-0.115030974,0.20045008]::REAL[]),
(9, 1, [0.17560722,-0.04403399,-0.11689502,0.1538811]::REAL[]),
(9, 2, [-0.029412234,-6.929935E-4,-0.082946986,0.2483761]::REAL[]),
(9, 3, [0.04525278,0.10936875,0.118021466,-0.05837156]::REAL[]),
(9, 4, [0.020889658,-0.14670235,-0.04891919,-0.04220214]::REAL[]),
(9, 5, [-0.12517086,-0.12694743,-0.29020983,-0.026940351]::REAL[]),
(9, 6, [0.07028786,0.04014016,0.10501153,0.2891609]::REAL[]),
(9, 7, [-0.3083736,-0.023999777,0.010485058,0.11333706]::REAL[]),
(9, 8, [-0.033930734,-0.03822269,-0.07147035,-0.10137979]::REAL[]),
(9, 9, [0.09037432,-0.021337816,-0.08681237,0.16668184]::REAL[]),
(9, 10, [0.29561096,-0.062267303,0.18310618,-0.0137640545]::REAL[]),
(9, 11, [-0.102600865,0.08660865,0.010799843,-0.13745487]::REAL[]),
(9, 12, [-0.06788265,-0.2652402,-0.12692752,-0.092642814]::REAL[]),
(9, 13, [-0.15243384,-0.15612105,-0.06409496,-0.07857305]::REAL[]),
(9, 14, [0.14413014,-0.3397637,-0.10645825,0.13199028]::REAL[]),
(9, 15, [0.06583384,-0.04605914,0.08378415,-0.04348354]::REAL[]),
(9, 16, [0.022542393,-0.10350672,0.15946573,-0.053628165]::REAL[]),
(9, 17, [-0.28089142,-0.20493892,-0.014482635,0.07674974]::REAL[]),
(9, 18, [-0.13944736,-0.061819803,-0.07635505,0.16810903]::REAL[]),
(9, 19, [0.024115898,0.20008391,0.010007453,0.106970906]::REAL[]),
(9, 20, [-0.10152548,-0.16286011,0.12685354,0.0779755]::REAL[]),
(9, 21, [0.1650954,0.052492443,0.13330758,-0.296347]::REAL[]),
(9, 22, [-0.09670821,-0.29134312,-0.011988397,0.12950498]::REAL[]),
(9, 23, [-0.01053035,-0.1747503,0.10863009,0.08611158]::REAL[]),
(9, 24, [-0.17019375,0.113616645,-0.0570661,0.007960806]::REAL[]),
(9, 25, [0.12335501,-0.007437803,0.065388136,0.14196323]::REAL[]),
(9, 26, [0.006116543,-0.12965842,0.03539227,0.051846437]::REAL[]),
(9, 27, [0.0133917695,-0.03394954,0.13466245,0.13034537]::REAL[]),
(9, 28, [-0.09705129,-0.13454612,0.06302507,-0.11243875]::REAL[]),
(9, 29, [0.07489047,0.096077174,0.25636917,0.06628063]::REAL[]),
(9, 30, [-0.34656203,0.10876605,-0.03192682,-0.09933267]::REAL[]),
(9, 31, [0.003080894,-0.16180673,0.13386227,-0.24159274]::REAL[]),
(9, 32, [0.07765911,-0.13660322,-0.039625842,0.07056346]::REAL[]),
(9, 33, [0.15795834,-0.09359069,-0.29658026,-0.03012009]::REAL[]),
(9, 34, [-0.06410987,0.22765642,0.13439175,-0.034620743]::REAL[]),
(9, 35, [0.17718239,0.08128474,0.070564546,0.09981386]::REAL[]),
(9, 36, [-0.06698613,-0.03682291,0.19736758,0.043771297]::REAL[]),
(9, 37, [0.15054566,-0.022531614,0.08051571,-0.033418074]::REAL[]),
(9, 38, [0.21464755,0.09631701,0.0056961617,-0.07958541]::REAL[]),
(9, 39, [0.027832836,0.2020947,-0.092421845,-0.10185463]::REAL[]),
(9, 40, [0.17818101,-0.2782805,0.026034364,0.011946888]::REAL[]),
(9, 41, [-0.20104268,-0.11017822,-0.15567912,0.07452753]::REAL[]),
(9, 42, [0.11134335,0.012967318,-0.01814835,-0.16807686]::REAL[]),
(9, 43, [0.02132418,0.028890798,-0.060983118,0.10004677]::REAL[]),
(9, 44, [0.17107522,-0.20940164,-0.10372064,-0.03310199]::REAL[]),
(9, 45, [0.054118656,-0.16439524,-0.2839152,0.07827312]::REAL[]),
(9, 46, [0.083973005,-0.004152805,-0.1395649,-0.08335333]::REAL[]),
(9, 47, [-0.12897348,0.1043254,-0.16767699,-0.040611517]::REAL[]),
(9, 48, [-0.113985665,0.1484714,0.037655924,0.1925162]::REAL[]),
(9, 49, [0.038068015,0.07044841,0.07604686,0.04582088]::REAL[]),
(9, 50, [0.1346988,-0.09060335,0.2956061,-0.07862697]::REAL[]),
(9, 51, [0.19543779,0.058240455,-0.07553405,0.029985158]::REAL[]),
(9, 52, [-0.13774142,-0.058419164,0.25197798,-0.10642339]::REAL[]),
(9, 53, [0.056410104,0.12884578,-0.21412882,0.04709846]::REAL[]),
(9, 54, [-0.2429018,0.03191394,0.16096306,0.035932466]::REAL[]),
(9, 55, [-0.067671455,-0.04869265,-0.12133586,0.009633975]::REAL[]),
(9, 56, [-0.0011000274,-0.16129088,0.01425234,0.20501392]::REAL[]),
(9, 57, [-0.10539794,-0.013789332,-0.008288888,-0.31411988]::REAL[]),
(9, 58, [-0.05625464,0.07768253,-0.23666747,-0.17332941]::REAL[]),
(9, 59, [-0.027616486,0.043924622,0.0036217296,0.007537094]::REAL[]),
(9, 60, [0.11659905,-0.1295848,0.024212062,-0.13069905]::REAL[]),
(9, 61, [0.00800655,-0.115970545,-0.09867575,-0.18421087]::REAL[]),
(9, 62, [-0.061332166,-0.10772475,0.008505862,0.0054631736]::REAL[]),
(9, 63, [-0.06429514,-0.010644922,0.101438396,-0.12196372]::REAL[]),
(10, 0, [0.044351175,-0.0014869608,0.065805204,0.23612866]::REAL[]),
(10, 1, [0.06397091,-0.15652697,-0.15264198,-0.06751957]::REAL[]),
(10, 2, [-0.1474216,-0.16323912,0.11521562,0.076606445]::REAL[]),
(10, 3, [0.0011222162,-0.056409456,-0.19411492,-0.19724743]::REAL[]),
(10, 4, [-0.14591075,0.03606835,0.09386664,-0.055714667]::REAL[]),
(10, 5, [0.08181155,0.14530927,-0.09282929,0.25102946]::REAL[]),
(10, 6, [0.021441659,-0.1542289,0.040022276,-0.1412469]::REAL[]),
(10, 7, [0.095423676,-0.085892364,0.30296788,0.07965111]::REAL[]),
(10, 8, [-0.07666742,-0.19690943,-0.10179613,0.030824337]::REAL[]),
(10, 9, [-0.07953591,-0.055028386,-0.16524397,-0.05651065]::REAL[]),
(10, 10, [-0.15755591,-0.059389118,-0.18793178,0.06503454]::REAL[]),
(10, 11, [0.07720619,-0.028816814,0.1345725,0.09594234]::REAL[]),
(10, 12, [0.051501274,0.09656975,-0.19313733,0.15704972]::REAL[]),
(10, 13, [0.14142682,-0.17928593,0.07736745,0.14669225]::REAL[]),
(10, 14, [-0.24143314,0.037793763,-0.112350844,0.11194467]::REAL[]),
(10, 15, [-0.11225535,-0.05253799,0.039169565,0.096250616]::REAL[]),
(10, 16, [0.17676742,0.1277908,-0.07076351,-0.092383906]::REAL[]),
(10, 17, [-0.123611964,0.11697568,0.06659682,0.099599734]::REAL[]),
(10, 18, [-0.09261232,-0.07047907,-0.018330641,-0.23081073]::REAL[]),
(10, 19, [-0.052721847,-0.082717195,0.18440554,0.13425617]::REAL[]),
(10, 20, [-0.09549901,0.21610978,-0.14902176,0.12481322]::REAL[]),
(10, 21, [0.10271861,-0.094316155,0.095599405,-0.024396122]::REAL[]),
(10, 22, [-0.09662895,-0.08657849,-0.10255484,0.10042748]::REAL[]),
(10, 23, [0.08618315,0.10907358,-0.09547666,0.0012005573]::REAL[]),
(10, 24, [0.09711263,-0.104092,0.14581507,-0.1954182]::REAL[]),
(10, 25, [0.2843494,-0.06421992,-0.14444849,-0.048199568]::REAL[]),
(10, 26, [-0.23628786,0.0050994563,-0.15995628,-0.105094664]::REAL[]),
(10, 27, [0.0866474,0.18408513,0.15325199,0.11092929]::REAL[]),
(10, 28, [0.056856856,0.11247015,-0.05594896,0.15013894]::REAL[]),
(10, 29, [0.10759214,-0.29157877,-0.05750433,0.02783087]::REAL[]),
(10, 30, [-0.12376249,-0.15814033,-0.04642863,0.20407167]::REAL[]),
(10, 31, [0.19627099,-0.17057335,-0.002479152,-0.06301994]::REAL[]),
(10, 32, [-0.023894077,0.19916846,-0.1022941,-0.19771762]::REAL[]),
(10, 33, [0.2491911,0.26354912,0.032579094,0.02520293]::REAL[]),
(10, 34, [0.061554685,-0.045485035,-0.13693549,0.19703981]::REAL[]),
(10, 35, [-0.07129118,0.08254416,-0.10799507,0.06289286]::REAL[]),
(10, 36, [-0.16881345,0.161081,0.03430153,-0.0862112]::REAL[]),
(10, 37, [0.011246188,0.19349533,-0.2509666,-0.039509714]::REAL[]),
(10, 38, [-0.27372062,-0.032171313,0.10147829,0.076961756]::REAL[]),
(10, 39, [-0.01903986,0.21535276,0.007894303,0.026662359]::REAL[]),
(10, 40, [-0.031238742,0.097698376,-0.16600446,-0.0990458]::REAL[]),
(10, 41, [0.26905578,0.2847727,0.13094878,0.09301912]::REAL[]),
(10, 42, [0.2880695,0.039073564,0.009440688,0.13443848]::REAL[]),
(10, 43, [0.0652594,0.16659787,0.1899961,-0.07695489]::REAL[]),
(10, 44, [0.25514805,-0.16875952,0.15195447,-0.061196618]::REAL[]),
(10, 45, [0.17633161,0.02819734,0.06512517,-0.07433072]::REAL[]),
(10, 46, [0.016566057,-0.015047716,-0.07255549,0.12149671]::REAL[]),
(10, 47, [-0.18359987,-0.024096955,-0.035616383,-0.009259475]::REAL[]),
(10, 48, [-0.02633623,-0.03975837,-0.26020268,0.097981595]::REAL[]),
(10, 49, [0.07997346,-0.0047936393,-0.08287305,-0.1229589]::REAL[]),
(10, 50, [0.034113213,0.053037945,0.04833207,-0.13436484]::REAL[]),
(10, 51, [-0.16541524,0.19546816,0.2786995,0.22855523]::REAL[]),
(10, 52, [-0.057659734,0.013723064,-0.015513285,-0.014612793]::REAL[]),
(10, 53, [-0.31978998,-0.045283698,-0.036267206,-0.11491229]::REAL[]),
(10, 54, [0.12252217,0.00633697,-0.009784746,0.1104765]::REAL[]),
(10, 55, [-0.25187752,0.2304068,-0.15578988,-0.14419428]::REAL[]),
(10, 56, [0.07797694,-0.06455059,0.008413467,0.3459585]::REAL[]),
(10, 57, [-0.031732358,0.055711094,0.13606672,0.010143907]::REAL[]),
(10, 58, [-0.02171898,0.003694026,0.27389517,-0.059034377]::REAL[]),
(10, 59, [0.09181263,-0.121456355,-0.0023092874,0.08947048]::REAL[]),
(10, 60, [-0.0012284943,0.059873514,0.047763042,0.12498419]::REAL[]),
(10, 61, [-0.03600726,-0.18464783,0.050181095,-0.022562675]::REAL[]),
(10, 62, [0.16407017,0.021875525,-0.12031788,-0.30108827]::REAL[]),
(10, 63, [0.20860234,-0.04912319,-0.08777244,0.21268141]::REAL[]),
(11, 0, [-0.15161753,-0.11623922,-0.2020963,-0.039906472]::REAL[]),
(11, 1, [-0.05987975,-0.27622947,0.05783975,0.049460582]::REAL[]),
(11, 2, [-0.1335842,0.002059243,0.006541878,-0.06769161]::REAL[]),
(11, 3, [0.14004956,-0.04283428,-0.17975084,0.24930501]::REAL[]),
(11, 4, [-0.07738751,0.16203952,-0.09693552,0.05661961]::REAL[]),
(11, 5, [0.12211741,0.0019387896,0.21445633,-0.069388166]::REAL[]),
(11, 6, [0.042400185,0.21109249,0.10310524,-0.05485925]::REAL[]),
(11, 7, [-0.008687575,-0.13218008,-0.13917817,0.16763481]::REAL[]),
(11, 8, [0.073894285,-0.1597277,0.06964878,-0.06975424]::REAL[]),
(11, 9, [-0.09000243,0.09113017,-0.081269264,-0.045026433]::REAL[]),
(11, 10, [0.13530998,0.03774513,0.025874402,-0.19477642]::REAL[]),
(11, 11, [-0.030752921,0.10090253,-0.14690451,-0.20917805]::REAL[]),
(11, 12, [0.04104123,-0.21425359,-0.09456,0.048524413]::REAL[]),
(11, 13, [-0.014335326,-0.2719653,-0.101049855,-0.086513385]::REAL[]),
(11, 14, [-0.20535605,0.11891137,0.20113422,-0.13186258]::REAL[]),
(11, 15, [0.03853962,0.19246128,-0.14977178,0.025315827]::REAL[]),
(11, 16, [0.259121,0.037706625,0.022199625,-0.010757709]::REAL[]),
(11, 17, [-0.1779088,-0.071391076,0.124102816,0.16371407]::REAL[]),""",
"""(11, 18, [0.029450106,-0.21959335,0.020518506,-0.1659084]::REAL[]),
(11, 19, [0.03822241,0.0024037343,0.036723923,0.015489261]::REAL[]),
(11, 20, [0.23856206,-0.04458352,-0.02972148,-0.14489889]::REAL[]),
(11, 21, [-0.047145873,-0.06309518,0.05631276,0.13511708]::REAL[]),
(11, 22, [0.1457303,0.02804804,-0.12725642,-0.07735846]::REAL[]),
(11, 23, [-0.23094517,0.092179365,-0.09308873,-0.022841135]::REAL[]),
(11, 24, [-0.21620095,0.06830937,-0.26675582,-0.20424455]::REAL[]),
(11, 25, [0.1772658,-0.18226671,-0.09009725,-0.17931114]::REAL[]),
(11, 26, [-0.0062087593,-0.06898442,-0.053572316,-0.098615855]::REAL[]),
(11, 27, [0.19331752,-0.05512379,0.107378416,0.151517]::REAL[]),
(11, 28, [0.00989977,-0.06886666,-0.005584194,0.15892467]::REAL[]),
(11, 29, [0.06617904,-0.041897777,0.09817863,-0.2743432]::REAL[]),
(11, 30, [-0.3857603,0.17458643,0.0020752335,0.017274337]::REAL[]),
(11, 31, [-0.15852328,-0.1537457,0.058403417,-0.18270937]::REAL[]),
(11, 32, [-0.036639858,0.21170369,-0.12093265,0.31960496]::REAL[]),
(11, 33, [0.14147489,-0.070118554,-0.04074762,0.0639523]::REAL[]),
(11, 34, [0.063167885,0.06652032,0.031332877,0.12504315]::REAL[]),
(11, 35, [0.051284574,0.16359647,0.028871672,-0.15563306]::REAL[]),
(11, 36, [-0.15531804,0.034376197,-0.105454534,0.22066253]::REAL[]),
(11, 37, [-0.083429255,0.08124675,0.0343754,0.0483121]::REAL[]),
(11, 38, [0.14588067,0.09672744,-0.032800097,0.052848432]::REAL[]),
(11, 39, [0.14459924,0.094397694,-0.086916454,0.19499221]::REAL[]),
(11, 40, [-0.13233362,-0.18763211,-0.0023374092,-0.031331897]::REAL[]),
(11, 41, [-0.08595354,0.2029141,0.07561512,0.16292644]::REAL[]),
(11, 42, [-0.2943615,-0.2304199,-0.0183486,-0.10680221]::REAL[]),
(11, 43, [0.0077778525,0.0298524,-0.11720145,0.09147391]::REAL[]),
(11, 44, [-0.32803208,0.0623946,-0.111399904,0.0518981]::REAL[]),
(11, 45, [-0.13855311,0.005109722,-0.07620798,0.011174708]::REAL[]),
(11, 46, [-0.04989966,-0.097530425,-0.16313413,-0.041129537]::REAL[]),
(11, 47, [-0.07668803,0.064245455,0.029196467,0.3074522]::REAL[]),
(11, 48, [-0.043954886,0.08995265,0.19961324,0.08762461]::REAL[]),
(11, 49, [-0.124044515,0.011865859,-0.29084772,0.17005284]::REAL[]),
(11, 50, [0.12107518,-0.05427222,-0.2789177,0.013416289]::REAL[]),
(11, 51, [-0.071512304,-0.18355796,0.0063279984,0.29875037]::REAL[]),
(11, 52, [0.2081037,0.16439213,0.06946024,0.06125325]::REAL[]),
(11, 53, [-0.073792934,0.13279326,0.013990369,-0.17401049]::REAL[]),
(11, 54, [0.04212149,0.22248603,-0.02307996,0.010549306]::REAL[]),
(11, 55, [-0.043942824,-0.016868936,0.15689461,-0.009698778]::REAL[]),
(11, 56, [0.22342047,0.10261506,-0.23033679,0.019416554]::REAL[]),
(11, 57, [0.06675708,-0.19456026,-0.27928153,0.028002955]::REAL[]),
(11, 58, [-0.21728502,0.018165236,0.047607947,0.06127057]::REAL[]),
(11, 59, [0.04623803,0.08585635,-0.09499978,-0.061603907]::REAL[]),
(11, 60, [-0.056421254,0.046193305,-0.2080519,0.021311082]::REAL[]),
(11, 61, [0.15345095,-0.19075625,0.002048758,0.016802793]::REAL[]),
(11, 62, [-0.092356935,-0.10137804,0.037414804,0.02250123]::REAL[]),
(11, 63, [-0.011173766,-0.06247596,0.04586375,-0.1520084]::REAL[]),
(12, 0, [0.018311925,0.040537592,-0.11175896,0.016516047]::REAL[]),
(12, 1, [-0.0066155647,-0.16787003,-0.08392575,-0.14473635]::REAL[]),
(12, 2, [0.08497322,-0.24623081,-0.05534698,0.11883916]::REAL[]),
(12, 3, [0.056704015,0.14538075,0.0117685,0.08873972]::REAL[]),
(12, 4, [0.29672483,-0.23241442,0.0022671102,0.047660798]::REAL[]),
(12, 5, [-0.24559037,-0.07316434,0.1488808,0.04025055]::REAL[]),
(12, 6, [0.057490773,-0.14470041,0.026455598,-0.036661524]::REAL[]),
(12, 7, [-0.07630759,0.10603728,-0.046029158,0.12992114]::REAL[]),
(12, 8, [0.005711923,-0.01858214,0.21047181,0.07844731]::REAL[]),
(12, 9, [-0.17191675,-0.09502391,-0.032917533,0.14618127]::REAL[]),
(12, 10, [-0.1551398,-0.06442349,0.02969806,-0.0021093593]::REAL[]),
(12, 11, [-0.10383319,-0.12697637,0.096543916,0.0036480678]::REAL[]),
(12, 12, [0.09759215,0.24452186,-0.15119037,0.02604839]::REAL[]),
(12, 13, [0.16830443,0.027676927,0.08423348,0.016702363]::REAL[]),
(12, 14, [-0.024719015,0.03353398,0.046416927,0.04986648]::REAL[]),
(12, 15, [-0.19191363,-0.083006494,-0.13527776,0.009227948]::REAL[]),
(12, 16, [0.011592284,-0.035817776,-0.13690855,0.1164729]::REAL[]),
(12, 17, [-0.02888469,0.039472822,0.166429,-0.26807383]::REAL[]),
(12, 18, [0.10342296,-0.05861717,0.19203362,-0.086693354]::REAL[]),
(12, 19, [0.20824821,-0.032393068,0.120965704,-0.28173837]::REAL[]),
(12, 20, [-0.0914894,0.05069731,0.06535435,0.09033133]::REAL[]),
(12, 21, [-0.006563328,-0.0018443795,-0.023704577,-0.01061214]::REAL[]),
(12, 22, [0.15636413,-0.16714245,0.079081014,0.22749123]::REAL[]),
(12, 23, [0.06870558,-0.017575981,-0.2716453,0.15482996]::REAL[]),
(12, 24, [0.08407188,0.06405197,-0.06129334,-0.11288918]::REAL[]),
(12, 25, [0.21721634,0.1523103,-0.1299734,0.09551554]::REAL[]),
(12, 26, [0.08883726,-0.049798153,-0.080349185,-0.22580615]::REAL[]),
(12, 27, [-0.054464143,-0.23363721,-0.08282194,-0.029424304]::REAL[]),
(12, 28, [0.009717091,-0.016913388,-0.11352112,-0.1117851]::REAL[]),
(12, 29, [-0.23450327,0.10908298,-0.01555351,0.039067518]::REAL[]),
(12, 30, [-0.23237202,0.008602763,0.019466918,-0.17916614]::REAL[]),
(12, 31, [-0.09198171,0.25304294,0.104804955,0.016632907]::REAL[]),
(12, 32, [0.1797215,-0.09875849,-0.17667475,-0.01471621]::REAL[]),
(12, 33, [0.07497692,-0.1557506,0.27712232,0.15478735]::REAL[]),
(12, 34, [0.15460582,-0.0691488,-0.030297622,-0.0841246]::REAL[]),
(12, 35, [0.09309085,-0.20945743,0.10595919,-0.14420515]::REAL[]),
(12, 36, [0.07066749,0.11247821,-0.0865686,-0.25157872]::REAL[]),
(12, 37, [-0.008694211,-0.02204471,0.10348483,-0.008232268]::REAL[]),
(12, 38, [-0.060302235,-0.06522576,-0.121508196,-0.06453297]::REAL[]),
(12, 39, [0.040256467,-0.020397233,0.07579311,-0.13657062]::REAL[]),
(12, 40, [0.12635504,3.6004395E-4,-0.07043425,0.19048102]::REAL[]),
(12, 41, [0.06252149,0.14015207,-0.0034829858,-0.05542664]::REAL[]),
(12, 42, [0.18341033,0.087280065,0.12914662,-0.11418583]::REAL[]),
(12, 43, [0.0019876529,-0.09159538,-0.016515398,0.09376068]::REAL[]),
(12, 44, [-0.039697666,-0.115807325,0.105328694,0.18486826]::REAL[]),
(12, 45, [0.064998776,0.06709704,0.16794293,0.17910907]::REAL[]),
(12, 46, [-0.18709284,0.16117138,0.022382123,-0.10850565]::REAL[]),
(12, 47, [0.18340772,0.19092447,0.088839695,-0.10928931]::REAL[]),
(12, 48, [-0.05432683,-0.1578105,0.24533898,0.04292549]::REAL[]),
(12, 49, [-0.18312843,0.036376696,0.0048974217,0.26127973]::REAL[]),
(12, 50, [-0.13479117,0.058582794,-0.11878612,-0.048875593]::REAL[]),
(12, 51, [0.073445626,0.0029061204,-0.18426406,-0.07549599]::REAL[]),
(12, 52, [-0.041926417,0.1448186,-0.1703293,-0.07307043]::REAL[]),
(12, 53, [0.06739688,0.24495922,0.047428645,-0.04134746]::REAL[]),
(12, 54, [-0.014225888,-0.025921993,-0.01958037,-0.14419004]::REAL[]),
(12, 55, [0.36733618,-0.17744413,0.14916743,-0.094733655]::REAL[]),
(12, 56, [-0.11131997,0.07975636,0.0073037427,-0.007458205]::REAL[]),
(12, 57, [0.039984703,0.15136985,0.33726323,-0.3089657]::REAL[]),
(12, 58, [-0.082217224,0.11910145,0.16267988,0.091767445]::REAL[]),
(12, 59, [0.24853893,0.047194533,-0.11354883,-0.080888435]::REAL[]),
(12, 60, [-0.15255342,-0.22304383,0.07220182,-0.094328456]::REAL[]),
(12, 61, [0.0039469795,0.1312238,0.15491678,-0.059069153]::REAL[]),
(12, 62, [-0.1428377,0.047821205,-0.15831524,0.18980321]::REAL[]),
(12, 63, [-0.116789736,0.006344964,-0.15801755,-0.1935102]::REAL[]),
(13, 0, [0.33039552,-0.026560977,0.090888664,0.016560817]::REAL[]),
(13, 1, [0.016864754,0.22587654,-0.078065895,-0.018919397]::REAL[]),
(13, 2, [0.006078695,-0.0052384795,0.08652058,0.07404127]::REAL[]),
(13, 3, [0.091596305,0.0840003,-0.13384391,-0.11614783]::REAL[]),
(13, 4, [-0.025281537,0.13895237,-0.20090386,-0.14974496]::REAL[]),
(13, 5, [0.010143059,0.2429295,0.13409603,0.01737428]::REAL[]),
(13, 6, [0.22604126,-0.12864642,-0.15578376,0.12523775]::REAL[]),
(13, 7, [-0.07540468,0.109479,0.15753625,0.11014632]::REAL[]),
(13, 8, [-0.111640625,-0.2381951,-0.10690148,-0.017314158]::REAL[]),
(13, 9, [-0.084082484,0.09786009,-0.06927641,-0.10977693]::REAL[]),
(13, 10, [-0.012497652,-0.13175349,0.18675168,0.20741409]::REAL[]),
(13, 11, [0.22356196,-0.039735086,0.10546305,0.11800627]::REAL[]),
(13, 12, [-0.014674794,8.135129E-4,-0.1859576,-0.046128806]::REAL[]),
(13, 13, [0.086096056,-0.13388418,0.0067545073,0.075886875]::REAL[]),
(13, 14, [0.024015553,0.08448768,0.13508552,-0.039341412]::REAL[]),
(13, 15, [-0.15639313,0.18442605,-0.060133953,0.17778897]::REAL[]),
(13, 16, [-0.048394874,-0.14625897,0.051338896,0.065518685]::REAL[]),
(13, 17, [0.08741397,0.21350038,0.060186807,-0.08382994]::REAL[]),
(13, 18, [0.012382296,0.1164176,0.2341756,-0.0074204477]::REAL[]),
(13, 19, [0.09809516,-0.0326124,-0.047849968,-0.03849852]::REAL[]),
(13, 20, [-0.0131654395,-0.0028232546,-0.025714252,-0.08503026]::REAL[]),
(13, 21, [0.088758685,0.049423743,0.013486477,0.08802514]::REAL[]),
(13, 22, [0.1309419,0.056850053,-0.14430499,0.057109933]::REAL[]),
(13, 23, [-0.095124915,-0.12321276,0.004321325,-0.018497374]::REAL[]),
(13, 24, [0.07233909,-0.11393896,0.15433833,-0.22032371]::REAL[]),
(13, 25, [0.22792862,-0.037332118,0.13955696,-0.15374091]::REAL[]),
(13, 26, [0.08740744,-0.12803864,-0.16992842,-0.12419873]::REAL[]),
(13, 27, [-0.26048744,-8.181562E-4,-0.1006924,-0.0986803]::REAL[]),
(13, 28, [0.25592595,0.11309354,0.1476518,-0.023263626]::REAL[]),
(13, 29, [0.07265132,0.10590454,-0.095598,0.19055332]::REAL[]),
(13, 30, [-0.24465357,0.15605107,0.34869653,0.022493165]::REAL[]),
(13, 31, [-0.030175406,-0.023582697,0.008151534,-0.21811622]::REAL[]),
(13, 32, [-0.06939906,-0.07811823,-0.13444214,0.2223717]::REAL[]),
(13, 33, [-0.019338937,-0.040857587,-0.15244432,-0.29419068]::REAL[]),
(13, 34, [-0.0499861,0.05609472,-0.13093288,0.096029125]::REAL[]),
(13, 35, [-0.16425939,-0.0065109567,-0.037287306,-0.2665069]::REAL[]),
(13, 36, [0.18835858,-0.25110638,0.2289459,0.036821313]::REAL[]),
(13, 37, [-0.2165054,-0.01040298,0.10830039,-0.029010523]::REAL[]),
(13, 38, [-0.11640644,0.14000629,-0.20131871,-0.15683225]::REAL[]),
(13, 39, [-0.01844836,-0.06113957,-0.16459407,0.036310934]::REAL[]),
(13, 40, [0.18716744,0.058176182,-0.08607939,-0.057440355]::REAL[]),
(13, 41, [-0.1868587,-0.11016998,0.01899473,-0.18024907]::REAL[]),
(13, 42, [-0.17704421,-0.10377091,-0.015583374,0.10368301]::REAL[]),
(13, 43, [-0.2621037,0.018669639,-0.10123342,0.052014206]::REAL[]),
(13, 44, [0.063936,-0.07163261,0.26290423,0.0031125627]::REAL[]),
(13, 45, [0.07714678,-0.0071677607,0.035029657,0.18366195]::REAL[]),
(13, 46, [-0.12195097,-0.10481282,0.18717872,0.021763586]::REAL[]),
(13, 47, [-0.16345125,0.07304405,0.28783906,-0.040271398]::REAL[]),
(13, 48, [0.06430368,-0.18603472,0.030608086,-0.14791043]::REAL[]),
(13, 49, [0.049071483,-0.021975806,0.0027640166,0.028616864]::REAL[]),
(13, 50, [0.27837598,-0.05049422,-0.10413851,-0.047258805]::REAL[]),
(13, 51, [0.17337921,-0.10791204,0.07174656,-0.0097370315]::REAL[]),
(13, 52, [-0.095900536,0.031564303,0.057244543,0.11495468]::REAL[]),
(13, 53, [0.08694493,0.060027074,0.057770677,-0.10420906]::REAL[]),
(13, 54, [-0.20734172,0.07387367,0.04944391,0.045435656]::REAL[]),
(13, 55, [0.07908622,-0.15116176,0.15927108,0.07524166]::REAL[]),
(13, 56, [0.06695791,-0.18030578,-0.06719701,0.004373061]::REAL[]),
(13, 57, [0.19293799,-0.0878513,0.065017164,0.2293225]::REAL[]),
(13, 58, [0.20534906,0.034163795,0.029074658,-0.14094837]::REAL[]),
(13, 59, [-0.043683246,0.104962714,0.0389044,-0.019946815]::REAL[]),
(13, 60, [-0.06219581,0.15258971,0.09412897,-0.15816171]::REAL[]),
(13, 61, [0.026412826,0.053852614,0.21344745,-0.16113515]::REAL[]),
(13, 62, [-0.19354883,0.18455434,0.023258187,0.12547639]::REAL[]),
(13, 63, [0.0034990225,0.12220044,0.06555719,0.14035735]::REAL[]),
(14, 0, [0.0392597,-0.13050544,-0.059732568,0.20050497]::REAL[]),
(14, 1, [-0.11703488,-0.09225158,0.21552013,-0.031980354]::REAL[]),
(14, 2, [-0.11371321,-0.030288514,-0.03437588,0.023730896]::REAL[]),
(14, 3, [0.11309277,-0.1439549,-0.07805645,0.11431269]::REAL[]),
(14, 4, [0.15735671,-0.002895516,0.14970599,-0.16828081]::REAL[]),
(14, 5, [0.16080403,0.1651729,0.1768765,-0.0019854861]::REAL[]),
(14, 6, [0.1675266,-0.049638383,0.04339868,-0.11021116]::REAL[]),
(14, 7, [0.16206513,-0.06685301,0.12304484,0.17362896]::REAL[]),
(14, 8, [-0.29491067,0.07022221,-0.14231427,0.18739963]::REAL[]),
(14, 9, [-0.056587834,-0.1623535,-0.010225129,0.07823797]::REAL[]),
(14, 10, [-0.17026938,0.01467781,0.026946144,0.15030594]::REAL[]),
(14, 11, [-0.07812027,-0.0033267618,-0.20375003,-0.13886078]::REAL[]),
(14, 12, [0.110983774,0.061545268,-0.10025584,-0.2566929]::REAL[]),
(14, 13, [0.040632267,-0.004549081,-0.13216148,0.01839593]::REAL[]),
(14, 14, [0.26894325,0.17513251,-0.0051723868,0.109431505]::REAL[]),
(14, 15, [-0.016689692,-0.0061165597,0.4132781,0.18906605]::REAL[]),
(14, 16, [0.08069038,0.15471876,-0.25930512,-0.09983953]::REAL[]),
(14, 17, [-0.082506225,-0.004438718,-0.17257625,0.18314233]::REAL[]),
(14, 18, [0.068726875,-0.27872646,-0.214294,-0.06360413]::REAL[]),
(14, 19, [-0.04531842,-0.13014662,-0.12033395,0.019588465]::REAL[]),
(14, 20, [0.030318568,-0.002709355,0.24253221,0.038387004]::REAL[]),
(14, 21, [0.10185547,0.15343468,-0.05642587,0.032717492]::REAL[]),
(14, 22, [0.02498822,-0.2138114,-0.1780057,-0.010137527]::REAL[]),
(14, 23, [0.08035907,0.07104298,0.09616054,0.10278822]::REAL[]),
(14, 24, [-0.013557914,-0.1000608,-0.08615856,-0.26987723]::REAL[]),
(14, 25, [0.2121537,0.01881597,-0.13554716,0.04469511]::REAL[]),
(14, 26, [-0.28788316,-0.004185945,0.07258979,-0.00775213]::REAL[]),
(14, 27, [0.08703916,0.0033845396,0.011102482,0.020896297]::REAL[]),
(14, 28, [-0.05608934,0.2575036,-0.11921752,-0.04219021]::REAL[]),
(14, 29, [-0.03971978,0.09303325,0.21472968,0.2652551]::REAL[]),
(14, 30, [-0.22301218,0.07793912,0.022485621,-0.0397467]::REAL[]),
(14, 31, [-0.0853365,-0.09862794,-0.29807067,0.05236448]::REAL[]),
(14, 32, [-0.085258916,0.060418963,-0.29077956,0.050491393]::REAL[]),
(14, 33, [0.042330455,0.11020491,0.3574867,-0.21042092]::REAL[]),
(14, 34, [-0.20835274,0.13191913,-0.108779736,-0.0035071222]::REAL[]),
(14, 35, [-0.20913959,-0.20002756,-0.07768769,-0.15552363]::REAL[]),
(14, 36, [0.05644088,-0.2444361,0.13660686,-0.018339083]::REAL[]),
(14, 37, [-0.054149505,0.060472753,0.0056595155,-0.17623533]::REAL[]),
(14, 38, [0.09864951,-0.112259485,0.07899728,0.08771228]::REAL[]),
(14, 39, [0.16027081,0.019295797,-0.028974432,-0.15144596]::REAL[]),
(14, 40, [0.06784424,-0.23144136,-0.013656056,-0.06926344]::REAL[]),
(14, 41, [-0.105984904,-0.13441181,0.11239376,0.09001483]::REAL[]),
(14, 42, [-0.1233381,0.15529092,0.2333176,-0.1122031]::REAL[]),
(14, 43, [0.050048746,0.18514934,0.17151625,-0.2002394]::REAL[]),
(14, 44, [-0.11287088,-0.1026918,-0.03618841,-0.0844362]::REAL[]),
(14, 45, [-0.03448811,0.044109847,0.03806175,0.09946269]::REAL[]),
(14, 46, [0.2514243,-0.08404762,0.0011586415,-0.004267885]::REAL[]),
(14, 47, [0.016380297,-0.18080062,0.09867482,-0.20512955]::REAL[]),
(14, 48, [0.061130755,-0.053490095,-0.25100693,-0.049219448]::REAL[]),
(14, 49, [-0.20846432,-0.11758416,-0.11828457,-0.033882055]::REAL[]),
(14, 50, [-0.2535059,-0.080528505,0.053532653,-0.18821758]::REAL[]),
(14, 51, [0.03070701,-0.015892906,-0.090937704,-0.15169618]::REAL[]),
(14, 52, [-0.1451181,0.035201542,0.122287236,-0.045558993]::REAL[]),
(14, 53, [0.15104312,0.34336367,0.0039996393,-0.13131045]::REAL[]),
(14, 54, [-0.012602831,0.057448704,-0.054489587,0.20854571]::REAL[]),
(14, 55, [0.1259038,-0.033134572,-0.1088056,0.2892286]::REAL[]),
(14, 56, [-0.10508103,0.12703812,0.094738916,0.13110702]::REAL[]),
(14, 57, [0.19645521,-0.078633085,-0.23141928,-0.044928953]::REAL[]),
(14, 58, [-0.037182674,-0.05213042,0.10541731,-0.12351227]::REAL[]),
(14, 59, [-0.15448777,0.026908245,-0.0959436,-0.14614113]::REAL[]),
(14, 60, [-0.07406616,0.053966433,-0.18665174,0.03885594]::REAL[]),
(14, 61, [-0.013699733,0.16699919,0.020628108,-0.033035967]::REAL[]),
(14, 62, [-0.022235135,-0.03148899,0.050522402,-0.044321574]::REAL[]),
(14, 63, [0.18626009,0.13049805,0.0792205,-0.1063834]::REAL[]),
(15, 0, [0.16650535,-0.003642174,-0.018270995,0.060090326]::REAL[]),
(15, 1, [-0.025091529,0.04526816,0.11264048,0.13503917]::REAL[]),
(15, 2, [0.077764496,0.021099664,-0.16847542,-0.05432554]::REAL[]),
(15, 3, [-0.12946355,0.05479303,-0.0076600863,0.07584714]::REAL[]),
(15, 4, [-0.010666138,-0.035765,-0.10199456,-0.05420012]::REAL[]),
(15, 5, [-0.1725937,0.12787685,-0.14085187,-0.012815475]::REAL[]),
(15, 6, [0.059065025,0.075320505,0.052004207,0.08970979]::REAL[]),
(15, 7, [-0.059441473,-0.03186213,-0.037627403,0.05437792]::REAL[]),
(15, 8, [-0.029901532,-0.32205406,0.032846343,-0.1598407]::REAL[]),
(15, 9, [-0.062366165,0.14581537,0.22763737,-0.03271797]::REAL[]),
(15, 10, [-0.03572877,0.17918952,-0.18330178,-0.10721895]::REAL[]),
(15, 11, [0.21247107,0.13374874,0.028943323,0.2909289]::REAL[]),
(15, 12, [0.058129612,0.0051463363,0.20089376,0.030340748]::REAL[]),
(15, 13, [0.13291092,0.22757484,0.16699134,0.08109744]::REAL[]),
(15, 14, [-0.017515358,0.10074294,-0.14279537,0.087911226]::REAL[]),
(15, 15, [-0.18486917,-0.015140418,-0.09950954,-0.038652528]::REAL[]),
(15, 16, [0.08780672,0.12884393,0.13053647,0.077779405]::REAL[]),
(15, 17, [-0.095446974,-0.14510214,-0.057195704,-0.1928458]::REAL[]),
(15, 18, [0.13626745,0.030290358,-0.20458972,0.08427479]::REAL[]),
(15, 19, [0.07472969,0.035313107,0.12565948,-0.07988516]::REAL[]),
(15, 20, [-0.13929495,-0.020443747,0.17837012,0.15078822]::REAL[]),
(15, 21, [-0.046143353,-0.11463034,0.18910076,0.03885776]::REAL[]),
(15, 22, [0.21509695,-0.06945686,0.018571967,-0.051870536]::REAL[]),
(15, 23, [0.07225638,0.20286569,0.11237696,-0.21297474]::REAL[]),
(15, 24, [-0.11786233,-0.043570343,0.095139734,-0.1330133]::REAL[]),
(15, 25, [0.14314479,-0.12588574,0.21676126,0.06087378]::REAL[]),
(15, 26, [0.012174887,-0.26780725,-0.16180971,0.11523557]::REAL[]),
(15, 27, [-0.09144214,0.06163824,-0.016885357,-0.049070366]::REAL[]),
(15, 28, [0.035884645,0.27330595,-0.055272784,-0.22400096]::REAL[]),
(15, 29, [0.004603746,0.021826392,0.09980197,-0.30714375]::REAL[]),
(15, 30, [-0.017803349,-0.034917735,-0.03199143,0.13738088]::REAL[]),
(15, 31, [0.023062361,0.04515157,0.016681971,-0.029115742]::REAL[]),
(15, 32, [-0.028949464,-0.18522798,0.094523944,0.19540639]::REAL[]),
(15, 33, [0.013100378,-0.18003882,-0.17128998,-0.107165076]::REAL[]),
(15, 34, [-0.14640336,0.07770883,0.041808985,0.23460881]::REAL[]),
(15, 35, [0.10980106,-0.20527638,-0.05173935,-0.110431656]::REAL[]),
(15, 36, [-0.09905353,0.07039237,-0.05663098,-0.21725386]::REAL[]),
(15, 37, [-0.08026568,-0.09304902,0.23702869,-0.11002778]::REAL[]),
(15, 38, [0.042079736,0.0035468547,0.034613594,-0.16549926]::REAL[]),
(15, 39, [-0.09678696,-0.105836,-0.016708912,-0.038107146]::REAL[]),
(15, 40, [0.09341375,-0.13219737,-0.13843139,0.058990087]::REAL[]),
(15, 41, [0.0715803,-0.14946541,-0.016440757,0.13976179]::REAL[]),
(15, 42, [0.08602703,0.19153635,-0.04330134,0.008454744]::REAL[]),
(15, 43, [0.032601483,-0.19739462,0.09010186,-0.005110156]::REAL[]),
(15, 44, [0.05629684,-0.0013363604,-0.17868634,-0.20275222]::REAL[]),
(15, 45, [0.092505865,-0.042041212,-0.049767043,0.23482911]::REAL[]),
(15, 46, [0.082732216,-0.21302544,-0.12365854,0.10386315]::REAL[]),
(15, 47, [0.2788933,-0.034183476,0.14287551,-0.09230986]::REAL[]),
(15, 48, [-0.16663392,0.035939805,-0.146476,0.16018578]::REAL[]),
(15, 49, [-0.118570134,0.2610419,-0.04413255,0.030050248]::REAL[]),
(15, 50, [-0.0310498,0.23296294,0.13130364,0.0147172185]::REAL[]),
(15, 51, [-0.27622566,0.027059352,0.008167952,0.023130164]::REAL[]),
(15, 52, [-0.09541136,-0.20430274,0.14484048,-0.05940446]::REAL[]),
(15, 53, [-0.06569421,0.017319564,0.06604311,0.025620412]::REAL[]),
(15, 54, [-0.1315381,-0.20577359,-0.015393252,-0.015622463]::REAL[]),
(15, 55, [0.25082013,0.12617971,0.06617159,-0.07136494]::REAL[]),
(15, 56, [0.14135642,-0.05736324,0.25795117,-0.06426509]::REAL[]),
(15, 57, [0.23515435,0.05247725,-0.069955245,-0.057206288]::REAL[]),
(15, 58, [0.067077175,-0.15005608,0.027278125,-0.29031774]::REAL[]),
(15, 59, [0.07486948,0.1318117,-0.13260294,-0.14453213]::REAL[]),
(15, 60, [-0.1844346,-0.16144489,-0.06901376,0.06756499]::REAL[]),
(15, 61, [-0.033455897,0.081011236,0.19399692,0.23756096]::REAL[]),
(15, 62, [-0.22382781,0.0640146,0.034046397,-0.13419579]::REAL[]),
(15, 63, [-0.12553422,-0.10374239,-0.23804687,-0.051232796]::REAL[])),
rb AS (
  SELECT e.vec_id AS id,
    list(CAST(list_sum(list_transform(list_zip(r.rr, e.embedding),
      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS REAL) ORDER BY r.i) AS v
  FROM embeddings e, rot r GROUP BY e.vec_id),
qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
codes AS (
  SELECT id, sub, cent AS code FROM (
    SELECT rb.id, c.sub, c.cent, row_number() OVER (PARTITION BY rb.id, c.sub ORDER BY
      list_sum(list_transform(list_zip(rb.v[c.sub*4+1:c.sub*4+4], c.cb),
        x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), c.cent) AS rn
    FROM rb, cbs c) t WHERE rn = 1),
lut AS (
  SELECT rb.id AS qid, c.sub, c.cent,
    list_sum(list_transform(list_zip(rb.v[c.sub*4+1:c.sub*4+4], c.cb),
      x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))) AS sd
  FROM rb JOIN qids ON rb.id = qids.qid, cbs c),
cd AS (
  SELECT l.qid, co.id, sqrt(list_sum(list(l.sd ORDER BY l.sub))) AS dist
  FROM codes co JOIN lut l ON co.sub = l.sub AND co.code = l.cent
  GROUP BY l.qid, co.id),
pred AS (
  SELECT qid, list(id ORDER BY rn) AS pred FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
    FROM cd) t WHERE rn <= 10 GROUP BY qid),
bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
gtd AS (
  SELECT q.id AS qid, r.id,
    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv),
      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
gt AS (
  SELECT qid, list(id ORDER BY rn) AS gt FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
per AS (
  SELECT g.qid,
    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
    coalesce(1.0 / (SELECT min(pos) FROM (
      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
      WHERE list_contains(g.gt, pid)), 0.0) AS rr
  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
SELECT 'opq_pq' AS algorithm, count(*) AS n_queries,
  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
FROM per
HAVING round(avg(recall), 4) >= 0.50""").mkString("\n"),
    "j11_hnsw_global" ->
      """SELECT 'hnsw_global' AS algorithm, count(*)::BIGINT AS n_queries,
        |       0.85::DOUBLE AS recall_floor,
        |       (count(*) * 10)::BIGINT AS n_rows, 0::BIGINT AS n_bad_dist
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    // components = min reachable id over the same jaccard pair graph the
    // dedup_jaccard_pairs oracle defines, via a recursive transitive
    // closure (fine at gate scale; the Spark side is the scalable
    // pointer-jumping formulation)
    "dedup_components" ->
      """WITH RECURSIVE t AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM t l JOIN t r ON l.lang = r.lang AND l.doc_id < r.doc_id
        |  WHERE len(list_intersect(l.toks, r.toks))::DOUBLE
        |      / len(list_distinct(list_concat(l.toks, r.toks))) >= 0.9),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src::BIGINT AS doc_id, min(dst)::BIGINT AS component
        |FROM reach GROUP BY src""".stripMargin,
    // stateful-dedup gate: grouping by normalized text ≡ grouping by its
    // 64-bit fingerprint at gate scale (no collisions); first-seen wins
    "st_dedup_stateful" ->
      """SELECT min(doc_id)::BIGINT AS doc_id
        |FROM documents
        |GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')""".stripMargin,
    // J4 E2LSH replicated in SQL like j3: seeded gaussian planes AND
    // uniform offsets (java.util.Random(42), 8x4x64, w=4.0) embedded as
    // literals; float-faithful dot products ((x*y)::REAL), floored
    // buckets, the polynomial key fold key = ((b0*P+b1)*P+b2)*P+b3
    // (P=1000003, |key| << 2^63 so BIGINT matches Long exactly),
    // vote/cap/L2-rerank, recall vs exact GT.
    "j4_e2lsh_pipeline" ->
      """WITH planes(tbl, h, pl) AS (VALUES
        |(0, 0, [1.1419053,0.91940796,-0.94986665,-1.1069903,0.28097764,0.6846228,-0.8172214,-1.3966434,-0.19094451,1.4862134,0.8023071,-0.12151293,1.4105062,-0.6402328,-1.2096444,0.3537577,-0.49034965,0.5507215,-1.203551,0.32101607,1.5511476,0.4385303,0.48159805,1.519631,-0.27683172,-0.08393898,1.255833,-0.3252728,-0.17329033,-1.8585851,1.4238069,-1.363726,-1.9646661,-0.91859484,-2.5488875,-1.6309607,-0.12200478,1.289159,-0.26913884,0.2574914,-0.31991437,-1.7684999,-0.48345032,-0.50999045,1.1166734,-0.040947203,-1.1076715,1.8623214,1.1457411,-1.0586772,1.0725992,-1.9317441,0.3010252,0.24752316,1.4061569,-1.5202208,0.27092943,0.56124926,-0.52982956,0.5390222,2.21234,-0.63293356,-1.883176,0.38656598]::REAL[]),
        |(0, 1, [0.32582927,-0.9013043,-0.002680309,-0.47395927,-0.54797816,-0.019100148,1.6468164,-1.1070626,0.5938104,-0.15566462,0.6632873,1.2267934,0.88396984,0.22172454,0.9197021,-0.7393758,0.80351776,-0.25394174,-0.7638389,-1.8645568,-1.8613062,-0.5765999,-0.4089938,0.24846093,-0.48091295,0.44621205,-0.4465889,0.045638688,0.7045663,-0.27182403,0.08074878,1.2590965,0.7635098,1.7220811,0.14595005,-0.994663,0.20074962,0.8962364,1.5117192,-1.4034737,-1.9069697,1.3685654,-0.559673,0.74460816,1.5736656,1.1280434,-0.19208159,-2.2544937,0.43985185,0.6568003,-0.7449502,1.1994753,1.7797468,0.06740415,1.295064,-0.58267653,0.76886827,0.41766456,-0.46909225,0.41414818,0.66302276,0.86719465,0.29670087,0.32152307]::REAL[]),
        |(0, 2, [2.2242954,0.8358482,-1.1933023,0.11880515,0.55804104,-1.9527105,1.4960554,-0.7625822,0.89517766,-0.1826709,0.92976344,-0.43748036,-0.10491094,-0.6114382,0.35276467,-1.1445166,-0.6538318,2.677097,0.15132171,1.8470372,0.44074333,0.8773091,0.9469807,-0.69977367,-2.3152072,0.094800204,0.1920371,-1.0081308,-2.1507173,1.6170416,0.54735094,1.6230097,0.3696693,1.2240527,0.87512094,-0.29000443,0.43333453,1.0069743,1.7830081,1.3568703,0.44593024,1.3915128,0.032955416,-0.80182487,-0.017182633,-1.3164854,-0.027818555,1.9719833,1.3758681,-1.2706898,0.2920338,1.5333192,0.10462043,-1.3131604,1.7799965,0.39525476,-0.50046283,-2.0407393,1.086929,-1.0408491,1.9616582,0.9258632,1.3616569,2.8896525]::REAL[]),
        |(0, 3, [-0.49101368,-0.7101986,1.5704668,-0.8424085,-0.33193076,-1.6988477,-0.5311415,-2.587563,0.3015645,-1.1528053,-1.7133285,0.08131976,-1.3278612,0.6965862,-1.2876713,1.2509059,0.0125522,0.6566975,-1.321353,0.8149172,0.61104095,0.12348089,0.38840258,-0.5821272,0.43343568,-0.7960431,0.0639953,-0.7421111,1.1806636,0.9198186,1.2380052,-0.0708855,-0.56589603,1.0508212,0.94411653,-0.6911609,0.8859638,-2.5333714,0.41632038,0.4062904,0.84186167,-0.3480736,1.0703545,-0.23477691,0.1557264,0.66830957,0.36851215,0.097099334,-1.2388537,-0.2653297,-0.60313874,-0.14638329,1.8821104,1.8435869,-0.77437156,-0.15335007,0.1372088,-0.9119326,0.1906821,0.7232172,-0.43633628,-0.18091542,0.80377895,1.3862531]::REAL[]),
        |(1, 0, [-0.34849292,1.0537138,0.04988928,1.3674486,0.26673916,0.027260168,-0.8305161,0.39806983,0.23473635,0.5199782,-0.22443649,0.95187896,-0.1536108,-1.1594658,0.9177144,-0.8937789,0.077611126,0.9697328,-0.41934183,-0.037735414,-0.47323003,-0.85537076,2.205183,-0.66502315,1.8022978,0.7233623,0.83436567,1.5078868,1.8732773,0.17565735,0.82304984,-1.064201,-1.3185016,0.39534023,0.29381594,0.90824544,0.039042428,0.41234463,-0.85727626,-0.40453556,0.9311183,0.44258368,-0.76406085,-1.0046799,1.1489059,0.58237356,-0.5201546,-0.94274586,-1.1920553,1.578016,1.6356236,0.9829002,-0.80200714,0.7028919,0.56728625,-1.0987394,-0.27559388,-1.4118258,0.1979111,-1.1248175,-0.43698686,0.38553774,-1.8919102,1.7424648]::REAL[]),
        |(1, 1, [-0.31202272,0.58211184,-0.6334365,-0.1492018,-0.05736999,0.98360384,-0.1869009,-2.08269,-0.20208369,-1.1284105,-0.50273246,0.10121097,-0.7281547,-0.90409815,1.7114681,0.07125395,-0.53386426,0.16661367,0.006043533,0.37528643,0.5705074,1.5388314,2.7053251,0.72537476,-0.7094079,1.2062201,0.7686773,-1.1438981,0.3171178,0.96065944,-1.6097267,0.50507927,0.5597531,0.80192196,0.021637611,0.014730824,-0.5038,0.2470066,0.090334706,1.1542443,0.73116267,-1.7981107,0.5763067,1.0139308,-0.03306593,1.6079849,1.4417757,-0.022262115,-1.0228027,0.9625032,-0.96539193,-0.5667563,-0.35354325,-0.8305718,1.7736344,-0.04961288,-0.79600984,1.4538388,0.4728192,-0.72334695,-0.33057666,1.7535285,-1.3114457,-0.57376635]::REAL[]),
        |(1, 2, [-0.82414275,-0.61035335,2.38223,-0.43710193,-0.8144601,-2.0368812,0.15789293,-1.9772673,0.6284728,-0.8293935,-1.4368079,0.32387498,-1.6328206,-1.1268798,0.4614917,-0.9490178,0.98100257,0.076214895,-2.1668916,0.62198925,-0.40088737,0.06683877,-1.3856146,-1.3346008,-1.1369321,0.08227182,0.6753996,-1.2204801,0.3643601,0.36679652,0.4202495,-0.80098283,0.38146576,0.015684871,0.15477474,0.91974723,1.3063258,1.0133315,0.122387774,-1.0648166,0.79428685,-0.24126299,-0.13010608,-0.6282955,0.35313526,-1.013086,-0.7972854,0.86701167,-0.83819324,-1.2974653,1.0274886,0.7489571,1.9913282,1.3823301,1.0785115,0.9778204,1.2596722,0.0065888786,1.2453074,-0.57544893,0.55758744,0.7728855,0.06482652,0.13659231]::REAL[]),
        |(1, 3, [-0.462095,-2.3827059E-4,1.414465,-0.6953025,1.1935239,1.587308,0.5756964,0.9319408,-0.19255224,0.73576194,-0.7618477,-1.4761138,0.3855245,0.9551002,0.43418193,-0.71303433,0.7291061,0.7140485,0.1646725,0.6545959,0.9496842,1.5374349,0.11582717,1.2134252,0.36638013,-1.0237579,1.4068768,0.112674214,-0.8768156,1.8153486,-0.84493625,-0.6664403,0.7297172,-0.32806098,0.3753248,-1.1018261,0.7453755,0.096080564,-0.5979477,0.61031187,-2.0395582,-1.3213967,0.31625706,0.28532383,1.0480481,-0.33974603,-0.26203868,1.0626092,0.45096517,0.86400396,1.2982172,-0.06409809,0.60466206,1.3214992,1.2161407,-0.41379336,-2.065915,-0.5511291,-0.023591142,-1.1753969,0.026157098,0.8924236,-1.0139178,-0.50989693]::REAL[]),
        |(2, 0, [-0.42563918,-0.9115563,0.32330683,-0.24102408,0.7201737,-0.48257357,1.7274693,-0.9636025,0.22320968,0.476848,0.5300888,0.8810354,-1.6436863,0.5878631,-0.9060511,0.7766036,-1.086184,0.59267575,-1.0061908,-2.1803586,1.2377214,-0.26750335,0.40384427,-1.060191,-1.7655029,-1.3991987,1.3296188,-0.61934936,0.086991884,-1.3741286,-0.7203411,-1.073385,-0.2541711,-0.61495596,0.38234076,0.053005617,-1.1090883,-1.3163748,1.0800232,-0.32063186,0.012690425,-0.49006343,0.47657287,-1.9092209,-0.9842191,1.5312023,0.36941165,-0.9647389,1.5200453,-1.1171633,1.0438013,-1.488996,0.3717334,-1.5907797,1.908014,1.3969177,-0.05546741,-0.03792636,-0.17385697,-0.09965271,0.26481992,0.31107658,-0.051595554,0.597137]::REAL[]),
        |(2, 1, [0.8983801,-0.4155027,1.1114036,1.8066708,0.7131825,-0.4835196,0.34000313,0.15902527,-1.647532,-0.21045841,-0.64089507,-0.6492632,-0.53536415,0.27849177,-0.080395214,-0.30820873,0.7505158,1.2753073,1.9871554,-0.4157005,0.27419496,-0.57161766,1.6139575,0.4792802,-0.31345108,0.68881816,0.56126153,-0.7192497,-0.23883629,-0.8245601,-0.14678636,0.6171102,1.4875629,1.1695781,2.746488,-0.4097788,0.41167852,-1.3022133,0.39003485,0.8058092,0.906392,-1.6748418,0.28566805,0.41813222,0.39578557,-0.32112247,0.2694449,-0.22607793,0.66627747,-0.7736185,-0.62538016,-0.3018475,-0.33408052,1.3438357,-0.6179037,-1.1147497,0.44564307,0.7541264,-0.41587362,-0.66895217,-0.8638925,1.1517668,1.1312973,-0.9118383]::REAL[]),
        |(2, 2, [-0.55142516,-2.3332508,-0.43140978,0.12134326,1.6341206,-0.21622881,0.00786879,0.8982653,0.1818816,0.2876715,0.19511464,-0.005225745,-0.80159277,1.4856964,0.73918986,1.4003674,1.060053,-1.5340832,1.0467391,0.19082855,-0.008106467,-1.3542943,0.31055138,0.19046435,-1.3602659,-0.31839752,0.97683036,-0.59998673,-0.9064709,0.9754792,0.008169875,-0.108325355,0.49660164,0.81747574,-0.50702405,0.82883984,0.66262704,0.22532192,-2.620033,0.051770724,-0.013297376,1.0915066,-0.7391172,0.5275154,-0.68426895,-1.7181525,0.28111538,1.2865392,-0.43460262,2.0047565,-0.07755306,0.2533868,-1.1007756,-0.93872607,-1.180138,-0.19564275,-1.3236336,0.613049,2.3134723,-1.1512216,-0.21176548,0.14130421,-0.096944936,1.5430846]::REAL[]),
        |(2, 3, [-0.25316978,0.68324184,-0.8967571,-0.10470907,0.7968147,0.83374476,0.5801886,1.4385645,0.3466526,1.0136826,-0.4576116,0.5509097,-1.0972198,-0.21979496,-1.0740559,0.10204031,-0.9691674,-0.9043898,1.7838287,-0.32979882,0.11777096,0.5077338,-0.2809318,-0.5578324,1.0062048,0.30785447,-0.9700537,1.9974008,0.27126852,0.5642877,-0.06818794,0.96112204,-0.3044629,1.8474942,0.721655,0.033229284,0.79194766,1.674071,0.07074364,-2.2652466,-0.8621333,-1.9521874,-1.5112274,0.80415666,1.0489287,0.4526766,1.1567395,-0.7212525,0.26935157,1.1419201,-1.3110634,1.7871358,-0.5988638,0.22407228,1.0224267,-0.39441156,0.2810579,-1.0614908,-1.3631215,0.824204,-0.06329136,-0.04003545,-1.2864664,0.4575636]::REAL[]),
        |(3, 0, [-1.6521605,0.47820246,0.92200786,-0.58907485,0.36146942,0.25161412,0.103210464,0.5618738,-0.77722293,-1.1055294,-0.18122107,0.18991472,-2.101159,1.0868812,1.061755,-0.16861014,0.102220505,-1.1532737,2.2631726,-1.131854,-0.5784802,-0.4016354,-0.09825855,0.581572,-1.3362157,-0.26468727,1.0008812,0.752079,1.1883428,1.4647707,0.987312,1.5280682,-0.6377051,-0.02355528,-0.44860727,0.24508342,0.034759104,-0.7668008,1.9368657,0.38672918,1.0279815,0.30251384,-0.87661994,-1.1188155,0.02932412,1.0538036,0.6949324,0.28516448,-1.0912304,0.45425266,-0.0685578,0.4845258,1.2791038,-0.8634731,-0.6557466,-0.486521,0.199132,0.2857669,0.6396476,-0.6264514,-1.9325874,0.9432993,-0.6812753,-1.2356576]::REAL[]),
        |(3, 1, [0.46530083,0.40739307,0.8686724,-1.8601041,-0.82685804,0.35920995,0.87805605,0.049789626,-1.3509521,1.1382595,-0.78417444,0.5639877,-0.12574427,1.7376537,0.10896824,-0.6093433,-0.09727955,-0.6800524,-2.0755668,1.5875008,-0.5647691,0.97153807,-2.2065911,1.3082117,1.9003513,0.88946176,-0.73875713,1.3034518,0.27526417,-1.8368104,-0.9642602,-0.06623541,0.8180937,-0.64392936,-0.044620592,1.3774664,-0.7284816,-0.4138312,0.3242464,0.5079875,1.209334,0.26119784,0.7161847,-1.4988033,1.2386521,0.25932118,0.34347153,1.0449095,-0.1204401,0.8282711,-0.19898553,-0.3335438,-0.5895374,-0.76744646,-0.660835,-1.2708147,-0.07585337,-1.4504522,0.9192448,-0.5030785,1.401126,0.13469097,-1.6596352,-1.535141]::REAL[]),
        |(3, 2, [-0.9755806,1.2881418,0.23677804,0.5841021,-0.031750914,-2.86503,-0.118807495,0.15944831,0.121203676,-0.09000155,-0.9117334,-1.753989,-0.540427,-1.7165782,0.59952813,-0.7947844,-2.1164794,0.50746685,-0.21220472,-0.097332604,0.6081862,0.3133186,0.52961624,0.071274005,-0.5778827,-0.49755716,-0.6434263,-0.5521543,0.6171821,-0.017695712,0.07041683,-1.2677649,0.871146,-0.20830616,-0.7610336,-0.38159904,0.48447323,-3.0960257,0.007509277,0.48805252,-0.8517418,1.9186175,1.7162682,0.28527692,-0.9004815,-0.8922192,0.6153806,-0.7850337,-0.43047935,-0.4004313,0.6226444,0.4009569,1.5804793,0.88181835,0.5660654,0.94244486,-1.5018033,-0.6118606,-0.78321207,-0.5407018,-0.6146224,-0.21707715,1.9697908,1.0478747]::REAL[]),
        |(3, 3, [-0.40079144,-0.16732362,0.040423024,0.3571653,-0.9464834,-2.886061,-1.519172,0.4226132,0.6669779,-0.67469186,0.5903829,0.89456934,0.5910545,-2.6611392,-0.76157933,-1.5406681,0.7385589,-0.91030395,0.42765614,1.1566164,0.19138119,-0.67565304,0.3234987,0.3596937,2.4642496,0.28764915,-1.6543683,0.47625023,0.735359,1.813463,2.1232867,0.87736875,-0.049685456,-0.46573135,-0.6548038,-0.7600445,-0.48030743,0.3087329,-0.43904504,1.001838,-1.7047175,-0.6030398,1.807692,0.04866805,-0.8727912,-0.5352277,0.040051803,0.7243549,-0.48277652,-0.29926637,-1.0489018,0.1836232,-0.6832016,1.442804,1.475614,0.31687465,1.1326668,-2.1984024,0.6326266,-0.86450315,0.53273034,0.8862673,-0.15660465,-0.03826508]::REAL[]),
        |(4, 0, [-0.03678217,0.76563925,-0.3833612,-0.63326275,0.61481005,0.91205084,0.85314155,0.98562586,-0.12574545,-0.9810826,-0.24556957,0.26295334,1.5668913,-0.29253736,0.47118005,-0.85789895,-0.70534116,0.7385325,1.058058,0.12855877,-0.695561,-0.82289803,-1.5876956,0.6684453,-0.2570684,-0.7577673,-0.87171614,1.8251622,-1.868335,0.38815033,-1.9269673,0.13404351,0.14820613,-0.011316324,0.3639212,1.2214248,0.623082,1.1140727,-0.119680405,-0.30423284,0.33916485,2.3118193,0.20676324,-0.4275573,1.3692468,0.27319178,-0.3904163,1.0886462,0.5293278,-0.12430166,-0.026092837,-1.6284006,-0.29190904,0.24834758,-0.60121393,-0.5483223,-0.3377935,-0.26972675,0.58397114,-0.66440433,0.3094509,0.52569646,-1.2606881,-1.1364609]::REAL[]),
        |(4, 1, [-0.14160444,-0.20163405,0.6030491,-0.1588339,1.2968025,-0.29607114,1.8125132,-0.7648855,0.14150931,-1.5416578,1.1216403,-1.2966685,1.0779653,0.06685032,-1.3461938,-2.9467096,-1.4997902,-0.65809554,-0.1901475,-0.1868791,0.3237951,0.042969327,-0.6299883,-0.7081965,-1.2507809,0.15282188,2.0890088,0.2154894,0.19944747,-0.21069464,-0.16347541,-0.021297574,-0.07039539,1.1973907,0.5335724,-0.22400747,0.5574826,0.71510214,-0.045564048,-0.7992216,0.595249,1.1754309,-0.18878683,-0.713506,-0.41660413,0.7741486,-0.22200227,0.8236769,0.92788917,-2.0188959,-0.08022052,-0.9549477,0.37023544,-0.4184654,-1.0410959,1.5064873,0.20675789,-0.74934506,-0.34469345,-1.343803,-0.6354189,-0.12895645,0.45617628,-0.031864066]::REAL[]),
        |(4, 2, [2.1360455,-0.24794394,0.6528697,-0.039207954,-0.28436208,0.85701656,-1.1627718,-0.5125842,0.26649806,-0.5976455,-0.0919686,-0.34506354,1.7383295,1.3768997,0.33931288,-2.0430312,-0.1676506,-1.1273874,-0.16346087,1.2822871,1.6266615,-0.9957345,1.4879346,-0.51247,0.35111833,0.24532889,-0.14244659,-0.3305641,-0.19414887,-0.2526901,1.3031899,0.22253516,0.82473165,-1.3081034,-0.7178295,-2.6099992,-0.15937658,1.0583805,1.2501647,0.74365443,1.9476674,0.4771471,-2.5861886,1.3209109,0.63625807,0.29873267,-2.3110585,-1.0117009,-0.19197492,0.6440874,-0.11205406,0.208244,-1.3984869,-2.675096,-0.0650913,-0.2767536,1.2386174,-1.01758,0.032399885,-1.7718678,0.77632546,-0.406733,0.70547205,0.7090013]::REAL[]),
        |(4, 3, [1.0882368,-1.1389186,1.4540465,1.5815042,-1.3658966,-0.01990105,0.5126579,1.4819824,0.8790639,0.6783315,1.5198222,0.5139379,0.47654995,-1.4586544,0.031519655,-0.62322366,0.2154396,-1.8333793,0.229745,-0.26903388,-0.7766692,0.8978097,0.0017178523,0.5407992,-0.6246456,0.058384586,0.74789196,0.4358568,1.634621,1.6733943,0.4038024,1.0945624,-0.8124862,-0.09697466,-0.39493558,-0.5752413,-0.32270357,-0.08402372,-0.0033788297,0.032540638,-1.3160095,0.12751956,-0.24491923,1.0556587,-0.036037177,0.6612997,-0.8498139,2.0790129,0.67655057,-1.3164201,0.18009438,-0.8395128,1.6754833,-0.71384454,-1.4733123,1.2155578,0.48091695,-0.46689853,-0.4905288,-1.5366908,1.5757871,0.30824918,0.30642134,-0.06940412]::REAL[]),
        |(5, 0, [2.0207863,-0.76218265,-0.92121524,0.63022816,-0.40192246,0.59289765,-0.67878574,0.71510124,0.5938164,-0.2518882,-1.5298381,-1.3494785,0.25981048,0.90779805,-0.6405588,-0.35551113,-0.65622294,-0.31633133,0.2932111,-1.4587903,0.84016293,1.2594714,-1.322323,-0.22717616,0.5724557,0.3274647,0.6717333,-0.962541,1.655065,-0.029440317,-0.875687,0.7563279,-0.22250134,-0.48888636,-0.35660213,0.8971863,-0.54040205,0.7811021,0.40626264,-0.37652194,-0.15922277,-0.64035296,-1.962302,-0.55850464,1.0743421,-0.009580064,2.2137012,0.033707634,1.0693337,0.8277506,0.011305681,-0.01480071,-0.12634002,0.042185348,1.2998371,-0.19280173,-1.1096427,1.5599638,1.3458121,0.9104294,-1.2652414,-0.7228522,-2.7578971,-0.4908208]::REAL[]),
        |(5, 1, [0.36947682,-0.4193165,-1.0948279,2.8228998,-0.45150942,-1.2507597,-0.31409046,-0.20893073,0.21935534,-0.27084854,0.38769442,-0.11075365,2.4273503,-0.34197038,-0.6761027,-1.64968,-2.5436852,0.9560992,-0.72209424,-0.26605433,-0.98597515,1.6630937,-0.2838109,-0.49222326,0.3259572,-0.086272106,-1.2929617,0.307134,-1.7017668,0.28603584,-1.8122076,0.7211614,0.83046806,-0.83978564,-0.8038732,0.20821989,0.5187521,-0.8171345,-0.26715684,0.79536295,-0.17833306,-1.4014319,-0.76665986,0.53453743,0.3889015,-1.851105,-0.15481417,0.34180632,-1.8238999,-2.5759425,1.0750484,1.0339973,0.44492212,1.0253497,1.2283974,1.4043239,0.6107433,-0.45952192,-0.20628446,-1.6077722,-0.7866762,-1.9993546,-0.6847625,-0.45269948]::REAL[]),
        |(5, 2, [-0.03926918,-1.2801263,0.9389616,0.9532576,0.21531937,-2.4069715,-0.53371984,-1.6193751,-1.0289994,0.3038354,0.49466842,-1.7409849,-0.09785956,0.5851981,-0.39423898,0.111242175,0.41321406,0.94176733,0.63469064,-1.0830138,1.1711501,1.9928232,-0.83627397,-0.5036252,-1.5285945,0.56810015,0.68039584,0.22462945,1.5669222,-0.24323788,0.5037234,-0.6536785,0.5723473,-0.356776,0.8047586,0.21760508,0.8717139,3.0779164,0.513355,0.3823857,1.6113216,-2.1093237,-0.13972552,1.1786196,1.4535441,0.051037982,0.8409685,-0.88196933,-0.67692393,1.2599431,-0.3975511,0.19904843,0.6491846,0.6162653,1.2742015,1.6261692,-2.149294,0.0408826,-0.56300104,-0.09657099,-1.1138593,0.09820784,-0.36586893,-1.9708605]::REAL[]),
        |(5, 3, [-1.0172013,-0.10739625,-0.7717764,-0.09031486,1.0473819,-1.7848616,0.44410598,-1.249227,0.4520344,0.2639987,-1.8513007,0.62930924,-0.260542,0.3445649,0.5178679,-0.0066946372,-1.9336324,-2.6920288,-1.5848374,-0.039582282,-1.0038286,-0.8268288,2.5121703,-0.50733405,0.15877694,-0.33990127,-0.007350388,0.987027,-0.5930278,-0.20843236,0.43316168,0.6198604,0.64172435,0.627056,0.679976,0.7005882,0.84644365,-1.9250687,-0.95263714,0.5587027,-0.8783665,0.124943756,-0.7149976,-1.0762132,-0.36267072,1.5571635,0.9053461,-0.6903016,-0.76242894,-0.29907256,-1.6005151,-0.5386813,-0.30574685,0.8704279,0.9559865,0.5475303,-0.097224735,1.2539866,-0.9068516,-2.053627,-0.21673375,0.33708698,0.802123,0.042252332]::REAL[]),
        |(6, 0, [-0.44609976,0.14027393,0.37788844,-0.016033312,0.4022007,-0.6698558,0.41598642,0.07538816,-1.2194812,0.57687455,-0.6488552,1.9042579,-0.6656092,-1.2111553,-0.07993756,0.96013075,0.30487925,0.044019487,0.2954766,0.0647965,-1.8347875,-0.12322256,-0.8368238,-0.03767446,-0.53936124,0.9312859,2.2494333,-0.5782759,-0.40598732,-0.8772893,-0.99099404,-0.9368763,0.22291619,1.387903,2.2172098,-1.0219223,0.18596628,0.21546014,-1.3071029,1.1738377,1.2872633,-0.045190953,0.9013378,0.30119765,0.1885608,1.7213106,-0.038241215,-0.8734868,-0.8743224,0.88706154,-0.113938384,-0.35698318,-1.0307337,0.0564999,0.3527484,-0.47978732,-0.85668314,-0.5921498,0.964196,1.7910713,-0.2259576,0.5255914,-0.6760451,1.3182644]::REAL[]),
        |(6, 1, [-0.4796258,-0.11558204,0.37772208,-1.4643848,-1.3757209,-0.8737486,0.5518202,2.387738,-2.4035819,-0.899006,-0.010560739,-1.0034178,-0.31095353,0.4208907,0.5473446,-0.5578108,-0.7589877,0.18010706,-0.1960884,-1.4610246,-0.3638428,0.55631864,-0.10161762,0.079880215,-1.0386002,0.6649842,0.6378836,-0.6940691,-0.10986796,-0.8908545,-1.1800393,0.5693004,0.8013397,0.7544293,1.4602301,-0.19274594,-0.16738917,0.50063497,-0.25392073,1.682086,0.8960169,1.1576294,1.4249786,-0.37314433,3.2215884,0.1780884,0.56166047,0.8886529,0.6168854,1.7308326,-0.87121445,1.1150328,-0.4643228,-0.13018368,1.340675,-0.3372874,1.4239833,-1.1764975,-0.65344584,-0.6283273,-0.22990233,0.20521651,1.0323449,0.809308]::REAL[]),
        |(6, 2, [1.6776825,0.22307722,-0.89997697,-0.61170226,-0.2617458,0.46046504,0.23044765,0.5911724,-1.6663405,0.9423332,0.4218831,-0.28277448,-1.1299067,-0.089194655,-0.88575906,0.108355835,-0.48048946,-0.42893863,1.2928613,-0.97875404,1.1269498,-0.106758006,-0.06392041,-0.5793846,-1.0139283,0.92678607,-1.2750009,0.16359821,1.3967563,-0.28335023,-0.49129358,0.26449913,1.2070631,0.51107615,-0.24853839,-1.3866533,0.27598125,-0.7161355,1.0468066,-0.6631181,-0.2196202,-1.1126841,0.06926225,-0.25495332,-0.3478766,-0.6466121,-1.2663275,-0.9003519,-1.1477455,-1.4410291,-1.8175625,-0.40172625,0.8018589,0.020649597,1.1703414,1.5096258,-2.0841768,-0.9966258,0.049005616,-0.25869375,-0.45426074,-0.5212379,1.7997789,-0.15262826]::REAL[]),
        |(6, 3, [-0.92488897,1.3429806,-1.606025,-0.6899168,1.502739,-0.5049008,-1.7743243,1.2549864,0.5244354,0.5581584,-0.23867364,-0.26866645,0.25257012,-1.2259101,1.0287093,-1.1982101,-2.074786,-0.43033248,1.0536113,1.4369844,0.08735091,0.63552076,-0.91206545,-1.770182,0.65263236,1.6482116,0.5418579,-0.051042803,-0.94081587,-1.9099915,0.434618,-1.789054,-0.6952295,-1.0418179,0.8645906,1.2126513,-0.14931247,0.15160799,-0.28391752,-0.76571083,0.58927184,1.0304685,0.85414946,-0.5003128,-0.09515917,-0.29037443,-0.66089493,0.31345814,-1.2753495,1.3289922,-0.26760578,-1.2746266,-2.3385448,0.2944524,0.8212577,0.67934924,0.5967736,0.7128649,0.5745613,-0.51084495,-0.5215391,-1.1743221,1.1317667,-0.23917729]::REAL[]),
        |(7, 0, [0.06305683,-2.1476984,1.3867191,0.13056198,-0.08684403,-0.70265424,0.30070367,-0.5627678,-0.22914322,-0.41974252,0.588714,0.04133307,-0.22668703,-1.516374,-0.92502743,-0.71376914,0.54893094,-0.14489916,2.4595137,0.15325603,0.58836156,0.38022244,-1.700186,0.8740797,-0.854797,1.5193825,-0.9609029,-0.26425242,-1.6544137,1.8745518,1.1515281,1.7577312,1.4296066,1.3300147,-0.08849664,1.6873788,0.29921356,1.3920287,0.8852703,0.85801685,-1.0615736,-0.69159806,-1.3130782,0.4610389,0.61283296,0.5772,1.7106155,-0.19495808,0.40587956,-0.34008518,0.91226923,-0.47059527,0.42773777,0.29134753,0.7339294,-0.47847643,0.7550542,0.4400196,-0.67544115,-0.57802576,2.6539266,0.2857918,-1.0365521,0.2407044]::REAL[]),
        |(7, 1, [-0.556617,-1.0702306,-1.6733772,0.4798448,-0.09146408,-1.0096248,0.02805272,1.1414814,0.056253705,-0.11901822,0.40710637,-1.6597424,0.5583012,1.3154204,0.8050769,0.77868694,1.6495185,0.1581775,0.1671376,-1.4572237,-0.01643066,0.63570213,-1.1682646,0.193274,-0.42331114,1.1514955,-0.14274448,2.4057288,1.1012312,0.6771309,0.26375216,2.115423,1.4858509,0.7694225,-1.2280612,-1.9061155,-0.10350611,-0.31834143,1.013761,0.031322837,-0.07394022,-1.1894615,-0.7147238,-0.10364894,-0.68510526,1.1619759,1.609646,-0.04050761,1.3978249,-0.33020788,1.3130696,-0.122336045,0.059999432,1.8237989,1.6521257,0.8602108,-0.23168725,1.2682294,-1.6222003,0.73273486,0.7973442,1.3026732,0.6376914,0.43362543]::REAL[]),
        |(7, 2, [-1.0339466,1.3006696,0.16007711,-2.0350895,-1.3088402,1.2246952,0.52632886,0.20416065,-0.3639984,-1.4656845,-1.8340564,0.41682035,-1.57247,-1.5633562,0.45428827,1.0911407,-1.9346927,-0.9030172,-0.009847258,1.029306,1.1766441,1.1765927,-1.9288701,-1.4887885,0.41514504,-0.21301793,0.35314104,-0.61532426,0.26587626,-1.202779,-0.17291205,1.371236,0.84378976,0.7890683,-0.2281121,-0.8867146,1.6937038,0.34827092,0.8024406,-0.026659632,1.4175771,-0.114869244,-0.034890514,1.400617,0.19675568,0.29503074,0.9415648,-0.64135474,-0.59059566,-0.21317054,1.2098185,-0.11089959,1.1851586,-0.8650561,-2.1445348,-0.14041926,-0.5315434,-0.9211766,-0.7771415,0.61875665,0.53951055,0.5090443,-0.13550426,0.2222063]::REAL[]),
        |(7, 3, [-1.6573023,-1.8584775,-0.21526454,0.06632187,-0.32366976,-1.3056808,0.3241371,0.19980331,0.6413385,0.26166528,-0.17855604,-0.26761952,0.4463276,1.1344373,-0.46769515,0.32531247,-0.55206406,2.5291805,1.3044819,0.7159536,-0.50621533,-0.4703148,-1.1949838,-0.37426072,-1.5922945,-0.032291442,0.6001909,-0.1558946,1.1910053,0.8601205,0.42316464,-0.2827673,0.36852917,0.74597085,-1.2002157,-0.21139628,-1.8327159,-0.017875085,0.9340136,1.0863868,-0.14117368,-0.605964,-0.43329233,-0.31863254,0.06010809,-0.005990455,-0.46372506,0.3784556,-0.21690735,-0.20738699,-1.458674,-0.23507641,0.92521983,-1.5932279,-1.2049524,-0.177138,-1.5026863,-0.6762005,-0.51229817,0.8484876,1.5612814,1.6996258,-0.84498036,0.7791882]::REAL[])),
        |offsets(tbl, h, off) AS (VALUES
        |(0, 0, 1.4234696421363138::DOUBLE),
        |(0, 1, 1.8741317678971625::DOUBLE),
        |(0, 2, 1.5524648002775963::DOUBLE),
        |(0, 3, 2.7311151109359777::DOUBLE),
        |(1, 0, 0.9552994088556077::DOUBLE),
        |(1, 1, 1.5859530426155075::DOUBLE),
        |(1, 2, 0.4509297872000473::DOUBLE),
        |(1, 3, 2.4575865646619994::DOUBLE),
        |(2, 0, 0.911998505219473::DOUBLE),
        |(2, 1, 0.6081033856341587::DOUBLE),
        |(2, 2, 1.737132236478534::DOUBLE),
        |(2, 3, 2.552845110938633::DOUBLE),
        |(3, 0, 2.0609227953061966::DOUBLE),
        |(3, 1, 1.3703874026561498::DOUBLE),
        |(3, 2, 2.499008411801439::DOUBLE),
        |(3, 3, 3.430404765360292::DOUBLE),
        |(4, 0, 3.9313771479301773::DOUBLE),
        |(4, 1, 1.357887475247233::DOUBLE),
        |(4, 2, 0.5388206670994773::DOUBLE),
        |(4, 3, 1.0185016421224833::DOUBLE),
        |(5, 0, 3.5605340506694705::DOUBLE),
        |(5, 1, 3.7334819916711983::DOUBLE),
        |(5, 2, 2.1328409561219264::DOUBLE),
        |(5, 3, 3.0672297553613586::DOUBLE),
        |(6, 0, 0.7600770280233209::DOUBLE),
        |(6, 1, 1.6931543855300553::DOUBLE),
        |(6, 2, 3.6814500805617936::DOUBLE),
        |(6, 3, 3.4121623622214887::DOUBLE),
        |(7, 0, 1.417363571818139::DOUBLE),
        |(7, 1, 0.8149593279976735::DOUBLE),
        |(7, 2, 2.452898500432594::DOUBLE),
        |(7, 3, 2.8479014377800493::DOUBLE)),
        |b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0),
        |dots AS (
        |  SELECT b.id, p.tbl, p.h,
        |    list_sum(list_transform(list_zip(p.pl, b.v),
        |      x -> ((x[1]::DOUBLE * x[2]::DOUBLE)::REAL)::DOUBLE)) AS dot
        |  FROM b, planes p),
        |buck AS (
        |  SELECT d.id, d.tbl, d.h, floor((d.dot + o.off) / 4.0)::BIGINT AS bk
        |  FROM dots d JOIN offsets o ON d.tbl = o.tbl AND d.h = o.h),
        |keys AS (
        |  SELECT id, tbl,
        |    ((sum(CASE WHEN h=0 THEN bk END)*1000003
        |      + sum(CASE WHEN h=1 THEN bk END))*1000003
        |      + sum(CASE WHEN h=2 THEN bk END))*1000003
        |      + sum(CASE WHEN h=3 THEN bk END) AS key
        |  FROM buck GROUP BY id, tbl),
        |qkeys AS (SELECT k.id AS qid, k.tbl, k.key FROM keys k JOIN qids ON k.id = qids.qid),
        |votes AS (
        |  SELECT qk.qid, k.id, count(*) AS votes
        |  FROM qkeys qk JOIN keys k ON qk.tbl = k.tbl AND qk.key = k.key
        |  GROUP BY qk.qid, k.id),
        |capped AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, id) AS rn
        |    FROM votes) t WHERE rn <= 320),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS dv FROM embeddings),
        |cd AS (
        |  SELECT c.qid, c.id,
        |    sqrt(list_sum(list_transform(list_zip(qb.dv, rb.dv), p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM capped c JOIN bv qb ON c.qid = qb.id JOIN bv rb ON c.id = rb.id),
        |pred AS (
        |  SELECT qid, list(id ORDER BY rn) AS pred FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM cd) t WHERE rn <= 10 GROUP BY qid),
        |gtd AS (
        |  SELECT q.id AS qid, r.id,
        |    sqrt(list_sum(list_transform(list_zip(q.dv, r.dv), p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM bv q JOIN qids ON q.id = qids.qid, bv r),
        |gt AS (
        |  SELECT qid, list(id ORDER BY rn) AS gt FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM gtd) t WHERE rn <= 10 GROUP BY qid),
        |per AS (
        |  SELECT g.qid,
        |    coalesce(len(list_intersect(g.gt, p.pred))::DOUBLE / len(g.gt), 0.0) AS recall,
        |    coalesce(1.0 / (SELECT min(pos) FROM (
        |      SELECT unnest(p.pred) AS pid, generate_subscripts(p.pred, 1) AS pos) u
        |      WHERE list_contains(g.gt, pid)), 0.0) AS rr
        |  FROM gt g LEFT JOIN pred p ON g.qid = p.qid)
        |SELECT 'e2lsh' AS algorithm, count(*) AS n_queries,
        |  round(avg(recall), 4) AS recall_10, round(avg(rr), 4) AS mrr_10
        |FROM per
        |HAVING round(avg(recall), 4) >= 0.40""".stripMargin,
    "a1_a6_metrics" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |d AS (SELECT qid, id,
        |        sqrt(list_sum(list_transform(list_zip(qv, bv),
        |             p -> (p[1]-p[2])*(p[1]-p[2])))) AS dl2,
        |        -list_sum(list_transform(list_zip(qv, bv), p -> p[1]*p[2])) AS dip
        |      FROM q, b),
        |gtr AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY dl2, id) AS r FROM d),
        |gt AS (SELECT qid, list(id ORDER BY r) AS gt FROM gtr WHERE r <= 10 GROUP BY qid),
        |prr AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY dip, id) AS r FROM d),
        |pred AS (SELECT qid, list(id ORDER BY r) AS pred FROM prr WHERE r <= 10 GROUP BY qid),
        |j AS (SELECT g.qid AS qid, g.gt AS gt, p.pred AS pred
        |      FROM gt g JOIN pred p ON g.qid = p.qid),
        |pos AS (SELECT qid, gt, unnest(pred) AS pid,
        |          generate_subscripts(pred, 1) AS pos FROM j),
        |hits AS (SELECT qid, pos, list_contains(gt, pid) AS hit, len(gt) AS ng
        |         FROM pos),
        |cum AS (SELECT qid, pos, hit, ng,
        |          sum(CASE WHEN hit THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY qid ORDER BY pos) AS cnt FROM hits),
        |agg AS (SELECT qid,
        |          sum(CASE WHEN hit THEN cnt::DOUBLE / pos ELSE 0 END) AS apsum,
        |          sum(CASE WHEN hit THEN 1.0 / log2(pos + 1) ELSE 0 END) AS dcg,
        |          max(ng) AS ng,
        |          min(CASE WHEN hit THEN pos END) AS firsthit
        |        FROM cum GROUP BY qid),
        |idcg AS (SELECT qid, sum(1.0 / log2(jj + 1)) AS idcg
        |         FROM (SELECT qid, unnest(generate_series(1, least(ng, 10))) AS jj
        |               FROM agg) GROUP BY qid)
        |SELECT j.qid AS qid,
        |  len(list_intersect(j.gt, j.pred))::DOUBLE / len(j.gt) AS recall_10,
        |  len(list_intersect(j.gt, j.pred))::DOUBLE / 10 AS precision_10,
        |  round(coalesce(a.apsum, 0) / a.ng, 6) AS ap_10,
        |  round(CASE WHEN i.idcg > 0 THEN a.dcg / i.idcg ELSE 0 END, 6) AS ndcg_10,
        |  CASE WHEN len(list_intersect(j.gt, j.pred)) > 0 THEN 1.0 ELSE 0.0 END AS hit_10,
        |  CASE WHEN a.firsthit IS NULL THEN 0.0 ELSE 1.0 / a.firsthit END AS rr_10
        |FROM j JOIN agg a ON j.qid = a.qid JOIN idcg i ON j.qid = i.qid""".stripMargin,
    "a7_latency_stats" ->
      """SELECT round(avg(value), 6) AS mean,
        |  round(quantile_cont(value, 0.5), 6) AS median,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(quantile_cont(value, 0.99), 6) AS p99,
        |  round(min(value), 6) AS min,
        |  round(max(value), 6) AS max
        |FROM events""".stripMargin,
    "p5_text_filter" ->
      """SELECT doc_id, length(trim(text)) AS text_len FROM documents
        |WHERE length(trim(text)) > 0""".stripMargin,
    "a14_dedup_text" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "j13_align_join" ->
      """SELECT n_name, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "j14_train_test_split" ->
      """SELECT count(*) AS n_train, sum(vec_id)::BIGINT AS idsum
        |FROM embeddings WHERE vec_id NOT IN (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin,
    "t1_global_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    "p1_normalize" ->
      """WITH t AS (SELECT vec_id,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS norm,
        |    embedding[1]::DOUBLE AS e0
        |  FROM embeddings)
        |SELECT vec_id, round(e0 / norm, 6) AS e0_unit, round(norm, 6) AS norm
        |FROM t""".stripMargin,
    "dedup_exact_fp" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_unique
        |FROM documents""".stripMargin,
    "dedup_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  round(len(list_intersect(l.toks, r.toks))::DOUBLE
        |    / len(list_distinct(list_concat(l.toks, r.toks))), 6) AS jaccard
        |FROM t l JOIN t r ON l.lang = r.lang AND l.doc_id < r.doc_id
        |WHERE len(list_intersect(l.toks, r.toks))::DOUBLE
        |    / len(list_distinct(list_concat(l.toks, r.toks))) >= 0.9""".stripMargin,
    // identical computation over the seeded subset only: equals the
    // restriction of the full-corpus output because the join is exact
    // (see the queries entry) — near-linear in DuckDB at 10×, so this
    // one joins the scaled pass where the full oracle cannot
    "dedup_jaccard_sampled" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  round(len(list_intersect(l.toks, r.toks))::DOUBLE
        |    / len(list_distinct(list_concat(l.toks, r.toks))), 6) AS jaccard
        |FROM t l JOIN t r ON l.lang = r.lang AND l.doc_id < r.doc_id
        |WHERE len(list_intersect(l.toks, r.toks))::DOUBLE
        |    / len(list_distinct(list_concat(l.toks, r.toks))) >= 0.9""".stripMargin,
    // subset-scoped variants: the oracle runs the SAME all-pairs /
    // closure replay, but over the induced mod-7 subcorpus only — the
    // quadratic cost drops ~49x, which keeps DuckDB feasible on the
    // 10x-scaled pass (COVERAGE.md scaled-subset rule)
    "dedup_components_sampled" ->
      """WITH RECURSIVE t AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id % 7 = 0),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM t l JOIN t r ON l.lang = r.lang AND l.doc_id < r.doc_id
        |  WHERE len(list_intersect(l.toks, r.toks))::DOUBLE
        |      / len(list_distinct(list_concat(l.toks, r.toks))) >= 0.9),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 7 = 0
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src::BIGINT AS doc_id, min(dst)::BIGINT AS component
        |FROM reach GROUP BY src""".stripMargin,
    // the pair rank must use the RAW double (the `cosine` output alias
    // would shadow p's column in ORDER BY, silently ranking by the
    // 6-decimal rounded value) — Spark's orderBy runs before its
    // rounding select, and under replica ties at 10x the two orderings
    // pick different top-20 sets (caught by the first scaled run of
    // this gate)
    "dedup_embedding_sampled" ->
      """WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |p AS (SELECT l.id AS a, r.id AS b,
        |    1.0 - (1.0 - list_sum(list_transform(list_zip(l.v, r.v), x -> x[1]*x[2]))
        |      / (sqrt(list_sum(list_transform(l.v, x -> x*x)))
        |         * sqrt(list_sum(list_transform(r.v, x -> x*x))))) AS cos_raw
        |  FROM t l JOIN t r ON l.id < r.id)
        |SELECT a, b, round(cos_raw, 6) AS cosine FROM p
        |ORDER BY cos_raw DESC, a, b LIMIT 20""".stripMargin,
    // raw-double rank, same reason as dedup_embedding_sampled above
    "dedup_embedding_top" ->
      """WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT l.id AS a, r.id AS b,
        |    1.0 - (1.0 - list_sum(list_transform(list_zip(l.v, r.v), x -> x[1]*x[2]))
        |      / (sqrt(list_sum(list_transform(l.v, x -> x*x)))
        |         * sqrt(list_sum(list_transform(r.v, x -> x*x))))) AS cos_raw
        |  FROM t l JOIN t r ON l.id < r.id)
        |SELECT a, b, round(cos_raw, 6) AS cosine FROM p
        |ORDER BY cos_raw DESC, a, b LIMIT 20""".stripMargin,
    "text_quality" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n_tokens, n_punct,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, t -> list_contains(
        |           ['the','a','an','and','or','of','to','in','is','it',
        |            'on','for','with','as','at','by','be','this','that','are'], t)))::DOUBLE
        |           / len(toks) END AS stop_ratio
        |  FROM b)
        |SELECT doc_id, n_tokens, n_punct,
        |  round(stop_ratio, 6) AS stopword_ratio,
        |  round((least(n_tokens::DOUBLE / 20.0, 1.0)
        |    + least(stop_ratio * 4.0, 1.0)
        |    + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |        ELSE n_punct::DOUBLE / length(text) END) * 5.0)) / 3.0, 6) AS quality
        |FROM c""".stripMargin,
    "text_langid" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE length(regexp_replace(text, '[\x00-\x7F]', '', 'g'))::DOUBLE
        |              / length(text) END AS non_ascii,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, non_ascii,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, t -> list_contains(
        |           ['the','a','an','and','or','of','to','in','is','it',
        |            'on','for','with','as','at','by','be','this','that','are'], t)))::DOUBLE
        |           / len(toks) END AS stop_ratio
        |  FROM b)
        |SELECT doc_id,
        |  CASE WHEN non_ascii > 0.3 THEN 'other'
        |       WHEN stop_ratio >= 0.05 THEN 'en'
        |       ELSE 'unknown' END AS lang_pred
        |FROM c""".stripMargin,
    // Repetition signals: gram counting via unnest + GROUP BY, the top
    // gram picked by the same (count desc, gram asc) tie-break, fractions
    // as the same integer-ratio double division
    "text_repetition" ->
      """WITH b AS (
        |  SELECT doc_id, length(trim(text)) AS tl,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, tl, toks, len(toks) AS n,
        |    length(array_to_string(toks, ' ')) AS norm_len
        |  FROM b),
        |g1 AS (SELECT doc_id, unnest(toks) AS gram FROM base WHERE tl > 0),
        |c1 AS (SELECT doc_id, gram, count(*) AS c FROM g1 GROUP BY 1, 2),
        |t1 AS (SELECT doc_id, c * length(gram) AS chars,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
        |       FROM c1),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, n),
        |         i -> toks[i] || ' ' || toks[i+1])) AS gram
        |       FROM base WHERE tl > 0 AND n >= 2),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, c * length(gram) AS chars,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
        |       FROM c2),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, n - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |       FROM base WHERE tl > 0 AND n >= 3),
        |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
        |d3 AS (SELECT doc_id, sum(c * length(gram)) AS dup_chars
        |       FROM c3 WHERE c >= 2 GROUP BY doc_id)
        |SELECT base.doc_id,
        |  round(CASE WHEN tl = 0 THEN 0.0
        |    ELSE coalesce((SELECT chars FROM t1
        |      WHERE t1.doc_id = base.doc_id AND rn = 1), 0)::DOUBLE / norm_len
        |    END, 6) AS top_word_frac,
        |  round(CASE WHEN tl = 0 THEN 0.0
        |    ELSE coalesce((SELECT chars FROM t2
        |      WHERE t2.doc_id = base.doc_id AND rn = 1), 0)::DOUBLE / norm_len
        |    END, 6) AS top_2gram_frac,
        |  round(CASE WHEN tl = 0 THEN 0.0
        |    ELSE least(1.0, coalesce((SELECT dup_chars FROM d3
        |      WHERE d3.doc_id = base.doc_id), 0)::DOUBLE / norm_len)
        |    END, 6) AS dup_3gram_frac
        |FROM base""".stripMargin,
    // PII scrub: the same three REs in the same order (emails → phones →
    // IPs); counts measured on the pre-stage text exactly as piiCounts
    "text_pii_scrub" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 555-867-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.0.' || (doc_id % 256) || '.7' AS t
        |  FROM documents),
        |e AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t1 FROM b),
        |p AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b',
        |    '<PHONE>', 'g') AS t2 FROM e)
        |SELECT doc_id,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |    '<IP>', 'g') AS scrubbed,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t1,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(t2,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip
        |FROM p""".stripMargin,
    // Cross-doc span stats: same tokenization/5-gram construction as the
    // repetition oracle; shared = span present in >= 2 docs (spans are
    // distinct per doc, so count(*) counts documents)
    "dedup_span_stats" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |      || toks[i+3] || ' ' || toks[i+4])) AS spans
        |  FROM b),
        |x AS (SELECT doc_id, unnest(spans) AS span FROM s),
        |g AS (SELECT span, count(*) AS ndocs FROM x
        |      GROUP BY span HAVING count(*) >= 2),
        |cnt AS (
        |  SELECT x.doc_id, count(*) AS n_spans,
        |    count(*) FILTER (WHERE g.span IS NOT NULL) AS n_shared_spans
        |  FROM x LEFT JOIN g ON x.span = g.span
        |  GROUP BY x.doc_id)
        |SELECT b.doc_id,
        |  coalesce(cnt.n_spans, 0) AS n_spans,
        |  coalesce(cnt.n_shared_spans, 0) AS n_shared_spans,
        |  round(CASE WHEN coalesce(cnt.n_spans, 0) = 0 THEN 0.0
        |    ELSE cnt.n_shared_spans::DOUBLE / cnt.n_spans END, 6)
        |    AS shared_span_frac
        |FROM b LEFT JOIN cnt ON b.doc_id = cnt.doc_id""".stripMargin,
    // Deterministic hash sampling: same md5 hex prefix, same threshold —
    // bucket < 6553 (= 0x1999, floor(0.1·65536)) expressed as a
    // fixed-width lowercase-hex string compare
    "corpus_sample" ->
      """SELECT lang, count(*) AS n_rows,
        |  count(*) FILTER (substr(md5(doc_id::VARCHAR || ':graft'), 1, 4) < '1999')
        |    AS n_sampled
        |FROM documents GROUP BY lang""".stripMargin,
    // Salting is a pure execution-plan rewrite — the oracle is the
    // UNSALTED join, so any salt-induced row loss/dup breaks the hash
    "skew_salted_join" ->
      """SELECT d.doc_id, d.lang, c.n_in_lang
        |FROM documents d
        |JOIN (SELECT lang, count(*) AS n_in_lang FROM documents GROUP BY lang) c
        |  USING (lang)""".stripMargin,
    // Winnowing replayed end-to-end in SQL: same splitmix64/hashCode
    // macros as the minhash/simhash oracles; the 4-step gram-hash chain
    // is staged one CTE per step because g_sm64 evaluates its argument
    // twice — nesting the calls would square the expression tree per
    // level. Trailing window-min over list slices (short docs: the
    // p = m window covers all grams), distinct mins, df cap, self-join
    // pair counts. HUGEINT min == the engine's unsigned 64-bit min.
    "dedup_winnow" ->
      """CREATE OR REPLACE MACRO g_m64(x) AS x % 18446744073709551616::HUGEINT;
        |CREATE OR REPLACE MACRO g_mul64(a, b1, b0) AS g_m64((a*b0) + (((a*b1) % 4294967296::HUGEINT) * 4294967296::HUGEINT));
        |CREATE OR REPLACE MACRO g_smA(x) AS g_m64(x + 11400714819323198485::HUGEINT);
        |CREATE OR REPLACE MACRO g_smB(z) AS g_mul64(xor(z, z >> 30), 3210233709::HUGEINT, 484763065::HUGEINT);
        |CREATE OR REPLACE MACRO g_smC(z) AS g_mul64(xor(z, z >> 27), 2496678331::HUGEINT, 321982955::HUGEINT);
        |CREATE OR REPLACE MACRO g_sm64(x) AS xor(g_smC(g_smB(g_smA(x))), g_smC(g_smB(g_smA(x))) >> 31);
        |CREATE OR REPLACE MACRO g_jh32(s) AS CASE WHEN s = '' THEN 0::HUGEINT ELSE
        |  list_reduce(list_prepend(0::HUGEINT,
        |    list_transform(string_split(s, ''), c -> unicode(c)::HUGEINT)),
        |    (a, b) -> (a*31 + b) % 4294967296::HUGEINT) END;
        |CREATE OR REPLACE MACRO g_ju64(h) AS CASE WHEN h >= 2147483648::HUGEINT
        |  THEN h + 18446744069414584320::HUGEINT ELSE h END;
        |CREATE OR REPLACE MACRO g_tokhash(s) AS g_sm64(xor(g_ju64(g_jh32(s)), 6364136223846793005::HUGEINT));
        |WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |th AS (SELECT doc_id, pos, g_tokhash(tok) AS h FROM toks),
        |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM th GROUP BY doc_id),
        |g1 AS (SELECT doc_id, hs, list_transform(range(1, len(hs) - 2),
        |  i -> g_sm64(xor(2685821657736338717::HUGEINT, hs[i]))) AS c1
        |  FROM hl WHERE len(hs) >= 4),
        |g2 AS (SELECT doc_id, hs, list_transform(range(1, len(c1) + 1),
        |  i -> g_sm64(xor(c1[i], hs[i + 1]))) AS c2 FROM g1),
        |g3 AS (SELECT doc_id, hs, list_transform(range(1, len(c2) + 1),
        |  i -> g_sm64(xor(c2[i], hs[i + 2]))) AS c3 FROM g2),
        |gl AS (SELECT doc_id, list_transform(range(1, len(c3) + 1),
        |  i -> g_sm64(xor(c3[i], hs[i + 3]))) AS gh FROM g3),
        |fps AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, unnest(
        |    list_transform(range(least(4, len(gh)), len(gh) + 1), p ->
        |      list_aggregate(gh[greatest(1, p - 3):p], 'min'))) AS fp
        |  FROM gl),
        |kept AS MATERIALIZED (
        |  SELECT doc_id, fp FROM fps
        |  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 128))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // Bucketing is a pure storage-layout rewrite — the oracle is the
    // plain join + agg; any bucket-routing loss/dup breaks the hash
    "bucketed_join" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
        |  count(*) AS n_items, sum(l.l_quantity) AS sum_qty
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2""".stripMargin,
    // SimHash replicated bit-exactly in SQL: splitmix64 via HUGEINT
    // mod-2^64 limb arithmetic, Java String.hashCode via per-char fold
    // (documents are pure ASCII → code units ≡ codepoints). The oracle
    // skips the pigeonhole banding and checks ALL pairs — the Spark
    // banding is provably complete for hamming <= maxHamming, so the
    // outputs must agree exactly.
    "dedup_simhash" ->
      """CREATE OR REPLACE MACRO g_m64(x) AS x % 18446744073709551616::HUGEINT;
        |CREATE OR REPLACE MACRO g_mul64(a, b1, b0) AS g_m64((a*b0) + (((a*b1) % 4294967296::HUGEINT) * 4294967296::HUGEINT));
        |CREATE OR REPLACE MACRO g_smA(x) AS g_m64(x + 11400714819323198485::HUGEINT);
        |CREATE OR REPLACE MACRO g_smB(z) AS g_mul64(xor(z, z >> 30), 3210233709::HUGEINT, 484763065::HUGEINT);
        |CREATE OR REPLACE MACRO g_smC(z) AS g_mul64(xor(z, z >> 27), 2496678331::HUGEINT, 321982955::HUGEINT);
        |CREATE OR REPLACE MACRO g_sm64(x) AS xor(g_smC(g_smB(g_smA(x))), g_smC(g_smB(g_smA(x))) >> 31);
        |CREATE OR REPLACE MACRO g_jh32(s) AS CASE WHEN s = '' THEN 0::HUGEINT ELSE
        |  list_reduce(list_prepend(0::HUGEINT,
        |    list_transform(string_split(s, ''), c -> unicode(c)::HUGEINT)),
        |    (a, b) -> (a*31 + b) % 4294967296::HUGEINT) END;
        |CREATE OR REPLACE MACRO g_ju64(h) AS CASE WHEN h >= 2147483648::HUGEINT
        |  THEN h + 18446744069414584320::HUGEINT ELSE h END;
        |CREATE OR REPLACE MACRO g_tokhash(s) AS g_sm64(xor(g_ju64(g_jh32(s)), 6364136223846793005::HUGEINT));
        |WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, g_tokhash(tok) AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bits
        |  GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS f
        |  FROM votes GROUP BY doc_id),
        |pr AS (
        |  SELECT bit_count(xor(l.f, r.f)::UBIGINT) AS hamming
        |  FROM fp l JOIN fp r ON l.doc_id < r.doc_id)
        |SELECT count(*) AS n_pairs,
        |  min(hamming)::BIGINT AS min_hamming, max(hamming)::BIGINT AS max_hamming
        |FROM pr WHERE hamming <= 3""".stripMargin,
    // MinHash pipeline replicated bit-exactly in SQL (same splitmix64
    // machinery): chained shingle hashes, 16-slot signatures, 4-band
    // candidate join, exact jaccard verify, near-dedup survivor count.
    "dedup_minhash" ->
      """CREATE OR REPLACE MACRO g_m64(x) AS x % 18446744073709551616::HUGEINT;
        |CREATE OR REPLACE MACRO g_mul64(a, b1, b0) AS g_m64((a*b0) + (((a*b1) % 4294967296::HUGEINT) * 4294967296::HUGEINT));
        |CREATE OR REPLACE MACRO g_smA(x) AS g_m64(x + 11400714819323198485::HUGEINT);
        |CREATE OR REPLACE MACRO g_smB(z) AS g_mul64(xor(z, z >> 30), 3210233709::HUGEINT, 484763065::HUGEINT);
        |CREATE OR REPLACE MACRO g_smC(z) AS g_mul64(xor(z, z >> 27), 2496678331::HUGEINT, 321982955::HUGEINT);
        |CREATE OR REPLACE MACRO g_sm64(x) AS xor(g_smC(g_smB(g_smA(x))), g_smC(g_smB(g_smA(x))) >> 31);
        |CREATE OR REPLACE MACRO g_jh32(s) AS CASE WHEN s = '' THEN 0::HUGEINT ELSE
        |  list_reduce(list_prepend(0::HUGEINT,
        |    list_transform(string_split(s, ''), c -> unicode(c)::HUGEINT)),
        |    (a, b) -> (a*31 + b) % 4294967296::HUGEINT) END;
        |CREATE OR REPLACE MACRO g_ju64(h) AS CASE WHEN h >= 2147483648::HUGEINT
        |  THEN h + 18446744069414584320::HUGEINT ELSE h END;
        |CREATE OR REPLACE MACRO g_tokhash(s) AS g_sm64(xor(g_ju64(g_jh32(s)), 6364136223846793005::HUGEINT));
        |WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |th AS (SELECT doc_id, pos, g_tokhash(tok) AS h FROM toks),
        |tripled AS (
        |  SELECT a.doc_id, a.pos, a.h AS t1, b.h AS t2, c.h AS t3
        |  FROM th a JOIN th b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |            JOIN th c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |chain1 AS (SELECT doc_id, pos, g_sm64(xor(2685821657736338717::HUGEINT, t1)) AS h1, t2, t3 FROM tripled),
        |chain2 AS (SELECT doc_id, pos, g_sm64(xor(h1, t2)) AS h2, t3 FROM chain1),
        |shingle AS (SELECT DISTINCT doc_id, g_sm64(xor(h2, t3)) AS s FROM chain2),
        |slotted AS (
        |  SELECT doc_id, slot, g_sm64(xor(s, (42 + slot)::HUGEINT)) AS sv
        |  FROM shingle, (SELECT unnest(generate_series(0, 15)) AS slot) slots),
        |slotmin AS (SELECT doc_id, slot, min(sv) AS mv FROM slotted GROUP BY doc_id, slot),
        |sig AS (SELECT doc_id, list(mv ORDER BY slot) AS sig FROM slotmin GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, band, sig[band*4+1:band*4+4] AS key
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) bands),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
        |shs AS (SELECT doc_id, list(s) AS shs FROM shingle GROUP BY doc_id),
        |pairs AS (
        |  SELECT c.a, c.b,
        |    len(list_intersect(sa.shs, sb.shs))::DOUBLE
        |      / len(list_distinct(list_concat(sa.shs, sb.shs))) AS jaccard
        |  FROM cand c JOIN shs sa ON c.a = sa.doc_id JOIN shs sb ON c.b = sb.doc_id
        |  WHERE len(list_intersect(sa.shs, sb.shs))::DOUBLE
        |      / len(list_distinct(list_concat(sa.shs, sb.shs))) >= 0.7),
        |agg AS (
        |  SELECT count(*) AS n_dup_pairs, round(avg(jaccard), 4) AS avg_jaccard,
        |    round(min(jaccard), 4) AS min_jaccard
        |  FROM pairs),
        |surv AS (
        |  SELECT (SELECT count(*) FROM documents)
        |    - (SELECT count(DISTINCT b) FROM pairs) AS n_survivors,
        |    (SELECT count(*) FROM documents) AS n_docs)
        |SELECT n_dup_pairs, avg_jaccard, min_jaccard, n_survivors
        |FROM agg, surv
        |WHERE n_dup_pairs > 0 AND min_jaccard >= 0.7
        |  AND n_survivors > 0 AND n_survivors < n_docs""".stripMargin,
    // full pipeline composed from the already-verified pieces: exact-fp
    // dedup (arg_min keeps the min-doc_id row like Spark's min_by), the
    // minhash machinery above over the survivors, then the text_quality
    // scoring formula as the floor.
    "pipeline_corpus_clean" ->
      """CREATE OR REPLACE MACRO g_m64(x) AS x % 18446744073709551616::HUGEINT;
        |CREATE OR REPLACE MACRO g_mul64(a, b1, b0) AS g_m64((a*b0) + (((a*b1) % 4294967296::HUGEINT) * 4294967296::HUGEINT));
        |CREATE OR REPLACE MACRO g_smA(x) AS g_m64(x + 11400714819323198485::HUGEINT);
        |CREATE OR REPLACE MACRO g_smB(z) AS g_mul64(xor(z, z >> 30), 3210233709::HUGEINT, 484763065::HUGEINT);
        |CREATE OR REPLACE MACRO g_smC(z) AS g_mul64(xor(z, z >> 27), 2496678331::HUGEINT, 321982955::HUGEINT);
        |CREATE OR REPLACE MACRO g_sm64(x) AS xor(g_smC(g_smB(g_smA(x))), g_smC(g_smB(g_smA(x))) >> 31);
        |CREATE OR REPLACE MACRO g_jh32(s) AS CASE WHEN s = '' THEN 0::HUGEINT ELSE
        |  list_reduce(list_prepend(0::HUGEINT,
        |    list_transform(string_split(s, ''), c -> unicode(c)::HUGEINT)),
        |    (a, b) -> (a*31 + b) % 4294967296::HUGEINT) END;
        |CREATE OR REPLACE MACRO g_ju64(h) AS CASE WHEN h >= 2147483648::HUGEINT
        |  THEN h + 18446744069414584320::HUGEINT ELSE h END;
        |CREATE OR REPLACE MACRO g_tokhash(s) AS g_sm64(xor(g_ju64(g_jh32(s)), 6364136223846793005::HUGEINT));
        |WITH exact AS ( -- first-seen survivor per normalized-text fingerprint
        |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
        |  FROM (SELECT doc_id, text,
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS fp
        |        FROM documents)
        |  GROUP BY fp),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
        |  FROM exact),
        |th AS (SELECT doc_id, pos, g_tokhash(tok) AS h FROM toks),
        |tripled AS (
        |  SELECT a.doc_id, a.pos, a.h AS t1, b.h AS t2, c.h AS t3
        |  FROM th a JOIN th b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |            JOIN th c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |chain1 AS (SELECT doc_id, pos, g_sm64(xor(2685821657736338717::HUGEINT, t1)) AS h1, t2, t3 FROM tripled),
        |chain2 AS (SELECT doc_id, pos, g_sm64(xor(h1, t2)) AS h2, t3 FROM chain1),
        |shingle AS (SELECT DISTINCT doc_id, g_sm64(xor(h2, t3)) AS s FROM chain2),
        |slotted AS (
        |  SELECT doc_id, slot, g_sm64(xor(s, (42 + slot)::HUGEINT)) AS sv
        |  FROM shingle, (SELECT unnest(generate_series(0, 15)) AS slot) slots),
        |slotmin AS (SELECT doc_id, slot, min(sv) AS mv FROM slotted GROUP BY doc_id, slot),
        |sig AS (SELECT doc_id, list(mv ORDER BY slot) AS sig FROM slotmin GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, band, sig[band*4+1:band*4+4] AS key
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) bands),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
        |shs AS (SELECT doc_id, list(s) AS shs FROM shingle GROUP BY doc_id),
        |dropped AS (
        |  SELECT DISTINCT c.b AS doc_id
        |  FROM cand c JOIN shs sa ON c.a = sa.doc_id JOIN shs sb ON c.b = sb.doc_id
        |  WHERE len(list_intersect(sa.shs, sb.shs))::DOUBLE
        |      / len(list_distinct(list_concat(sa.shs, sb.shs))) >= 0.7),
        |neardedup AS (
        |  SELECT e.doc_id, e.text FROM exact e
        |  WHERE e.doc_id NOT IN (SELECT doc_id FROM dropped)),
        |quality AS (
        |  SELECT doc_id,
        |    (least(n_tokens::DOUBLE / 20.0, 1.0)
        |      + least(stop_ratio * 4.0, 1.0)
        |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |          ELSE n_punct::DOUBLE / length(text) END) * 5.0)) / 3.0 AS q
        |  FROM (
        |    SELECT doc_id, text,
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |      length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |      CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) = 0 THEN 0.0
        |           ELSE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |             t -> list_contains(
        |               ['the','a','an','and','or','of','to','in','is','it',
        |                'on','for','with','as','at','by','be','this','that','are'], t)))::DOUBLE
        |             / len(string_split_regex(lower(trim(text)), '\s+')) END AS stop_ratio
        |    FROM neardedup)),
        |qpass AS (
        |  SELECT n.doc_id, n.text FROM neardedup n
        |  JOIN quality q ON n.doc_id = q.doc_id WHERE q.q >= 0.5),
        |rtoks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM qpass),
        |rcounts AS (SELECT doc_id, tok, count(*) AS c FROM rtoks GROUP BY 1, 2),
        |rtop AS (SELECT doc_id, c * length(tok) AS chars,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn
        |         FROM rcounts),
        |rnorm AS (SELECT doc_id,
        |            length(array_to_string(
        |              string_split_regex(lower(trim(text)), '\s+'), ' ')) AS norm_len
        |          FROM qpass),
        |reppass AS (
        |  SELECT p.doc_id FROM qpass p
        |  JOIN rtop t ON p.doc_id = t.doc_id AND t.rn = 1
        |  JOIN rnorm n ON p.doc_id = n.doc_id
        |  WHERE t.chars::DOUBLE / n.norm_len < 0.12)
        |SELECT (SELECT count(*) FROM documents) AS n_in,
        |  (SELECT count(*) FROM exact) AS n_after_exact,
        |  (SELECT count(*) FROM neardedup) AS n_after_neardup,
        |  (SELECT count(*) FROM qpass) AS n_after_quality,
        |  (SELECT count(*) FROM reppass) AS n_after_repetition,
        |  (SELECT count(*) FROM reppass
        |   WHERE substr(md5(doc_id::VARCHAR || ':graft'), 1, 4) < '1999')
        |    AS n_final_sample""".stripMargin,
    // session_window semantics: an event joins the session iff its time
    // is strictly before prev_end = prev_ts + gap → new session when the
    // µs-truncated diff >= gap (half-open window)
    "st_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |d AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |               THEN 1
        |             WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |                 >= 1800000000 THEN 1
        |             ELSE 0 END AS new_s
        |      FROM e)
        |SELECT user_id, sum(new_s)::BIGINT AS n_sessions,
        |  count(*) AS n_events
        |FROM d GROUP BY user_id""".stripMargin,
    "st_window_agg" ->
      """SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(round(sum(value), 6), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "mm_pipeline" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  ((octet_length(encode(text)) + 63) // 64 + 1) // 2 AS n_frames_sampled
        |FROM documents""".stripMargin,
    // real-decode replay: every raster statistic of the synthetic PNGs is
    // analytic in doc_id — the Spark side must round-trip ACTUAL bytes
    // through javax.imageio to reproduce these sums
    "mm_decode" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |dx AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        |px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM dx),
        |s AS (SELECT doc_id, w, h,
        |        sum((doc_id + x) % 256)::BIGINT AS sum_r,
        |        sum((7 * doc_id + y) % 256)::BIGINT AS sum_g,
        |        sum((13 * doc_id + x + y) % 256)::BIGINT AS sum_b
        |      FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
        |       3 AS channels, sum_r, sum_g, sum_b
        |FROM s""".stripMargin,
    // real-audio-decode replay: every decoded 16-bit sample of the
    // synthetic WAVs is analytic in (doc_id, frame, channel) — the Spark
    // side must round-trip ACTUAL RIFF bytes through javax.sound.sampled
    // to reproduce these sums
    "mm_audio" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 41 AS nf,
        |                  1 + doc_id % 2 AS ch,
        |                  8000 * (1 + doc_id % 3) AS sr
        |           FROM documents),
        |fr AS (SELECT doc_id, nf, ch, sr,
        |              unnest(generate_series(0, nf - 1)) AS i FROM d),
        |s AS (SELECT doc_id, nf, ch, sr,
        |        sum((31 * doc_id + 7 * i) % 65536 - 32768)::BIGINT AS sum_ch0,
        |        sum(CASE WHEN ch = 2
        |            THEN (31 * doc_id + 7 * i + 13) % 65536 - 32768
        |            ELSE 0 END)::BIGINT AS sum_ch1
        |      FROM fr GROUP BY doc_id, nf, ch, sr)
        |SELECT doc_id AS media_id, sr::INT AS sample_rate,
        |       ch::INT AS channels, nf::BIGINT AS n_frames,
        |       sum_ch0, sum_ch1
        |FROM s""".stripMargin,
    // real-video-decode replay: the synthetic AVIs' channel formulas are
    // separable — r/b depend on (frame, x) only and g on (frame, y) — so
    // the full-raster sums factor as h·Σ_{f,x} / w·Σ_{f,y} and the
    // replay unnests nf·(w+h) cells per doc, never per-pixel. The
    // sampled arm (every 2nd frame → PNG → imageio) is the same sum
    // restricted to even f; n_sampled = ceil(nf/2). A hash mismatch
    // means real container bytes were corrupted somewhere in
    // AVI-encode → AVI-decode → PNG-encode → PNG-decode
    "mm_video" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h,
        |                  3 + doc_id % 4 AS nf, 10 + doc_id % 5 AS fps
        |           FROM documents),
        |ff AS (SELECT doc_id, w, h, nf, fps,
        |              unnest(generate_series(0, nf - 1)) AS f FROM d),
        |fx AS (SELECT doc_id, w, f,
        |              unnest(generate_series(0, w - 1)) AS x FROM ff),
        |fy AS (SELECT doc_id, h, f,
        |              unnest(generate_series(0, h - 1)) AS y FROM ff),
        |rb AS (SELECT doc_id,
        |         sum((doc_id + 3 * f + x) % 256)::BIGINT AS sr,
        |         sum(CASE WHEN f % 2 = 0
        |             THEN (doc_id + 3 * f + x) % 256 ELSE 0 END)::BIGINT AS ssr,
        |         sum((11 * doc_id + 2 * f + x) % 256)::BIGINT AS sb
        |       FROM fx GROUP BY doc_id),
        |gg AS (SELECT doc_id,
        |         sum((5 * doc_id + f + y) % 256)::BIGINT AS sg
        |       FROM fy GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, w::INT AS width, h::INT AS height,
        |       fps::INT AS fps, nf::INT AS n_frames,
        |       (h * sr)::BIGINT AS sum_r, (w * sg)::BIGINT AS sum_g,
        |       (h * sb)::BIGINT AS sum_b,
        |       ((nf + 1) // 2)::INT AS n_sampled,
        |       (h * ssr)::BIGINT AS samp_sum_r
        |FROM d JOIN rb ON d.doc_id = rb.doc_id
        |       JOIN gg ON d.doc_id = gg.doc_id""".stripMargin,
    // Decontamination: the same tokenizer + 1-based 5-gram window as
    // Dedup.shingles (distinct per doc), then the inverted-index join
    // replayed as a plain gram equi-join with distinct counts
    "decontam_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |    j -> array_to_string(toks[j:j+4], ' ')))) AS gram
        |  FROM tok),
        |tg AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 17 <> 0),
        |eg AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 17 = 0)
        |SELECT train_id, count(DISTINCT gram) AS n_shared_grams,
        |  count(DISTINCT eval_id) AS n_eval_docs
        |FROM tg JOIN eg USING (gram) GROUP BY train_id""".stripMargin,
    // C4/Gopher filter audit: the four boolean signals recomputed over
    // the same tokenization; counts via FILTER (Spark count(when(c,1)))
    "text_c4_filter" ->
      """WITH b AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT source,
        |    len(toks) < 15 AS sig_short,
        |    list_max(list_transform(toks, w -> length(w))) > 25 AS sig_long,
        |    (CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE len(list_filter(toks, t -> list_contains(
        |            ['the','a','an','and','or','of','to','in','is','it',
        |             'on','for','with','as','at','by','be','this','that','are'], t)))::DOUBLE
        |               / len(toks) END) < 0.05 AS sig_stop,
        |    len(list_distinct(toks))::DOUBLE / len(toks) < 0.4 AS sig_rep
        |  FROM b)
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (NOT sig_short AND NOT sig_long AND NOT sig_stop
        |    AND NOT sig_rep) AS n_kept,
        |  count(*) FILTER (sig_short) AS n_short,
        |  count(*) FILTER (sig_long) AS n_long_word,
        |  count(*) FILTER (sig_stop) AS n_low_stopword,
        |  count(*) FILTER (sig_rep) AS n_repetitive
        |FROM s GROUP BY source""".stripMargin,
    // Mixture sampling audit: in-plan double threshold arithmetic
    // replayed verbatim; the md5 hash bucket decoded numerically via
    // DuckDB's '0x…' VARCHAR→BIGINT cast
    "corpus_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY source),
        |t AS (SELECT sum(n_rows) AS n_total, count(*) AS n_groups FROM c),
        |thr AS (SELECT source, n_rows,
        |  CAST(floor(least(1.0, (0.5 * n_total) / (n_groups * n_rows)) * 65536)
        |    AS BIGINT) AS threshold
        |  FROM c, t)
        |SELECT thr.source, thr.n_rows, thr.threshold,
        |  count(*) FILTER (('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 4))::BIGINT
        |    < thr.threshold) AS n_kept
        |FROM documents d JOIN thr USING (source)
        |GROUP BY thr.source, thr.n_rows, thr.threshold""".stripMargin,
    // Per-domain cap: the oracle IS the window form the operator
    // replaces — identical keep-set by construction (ties break by
    // doc_id ascending on both sides)
    "corpus_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,
    // Top-k bigrams by document frequency: per-doc distinct bigrams,
    // global count, same (df desc, gram asc) deterministic tiebreak
    "text_topk_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
        |    j -> toks[j] || ' ' || toks[j+1]))) AS gram
        |  FROM tok)
        |SELECT gram, count(*) AS doc_freq FROM g GROUP BY gram
        |ORDER BY doc_freq DESC, gram LIMIT 20""".stripMargin,
    // BM25 replay: same tokenizer, Lucene idf, Robertson tf saturation.
    // Every literal is ::DOUBLE (DuckDB decimals would change the FP
    // result) and k1+1 stays a SUM (the double 1.2+1.0 != literal 2.2);
    // per-term contributions round to fixed-point longs before the sum
    // (associative — engine/order-independent) and ranking compares the
    // long totals with doc_id tiebreak. Output is int-only.
    "text_bm25_topk" -> bm25ExactOracleSql,
    // WAND path is CONTRACTED bit-identical to the exact relational path
    // (same fixed-point contributions, strict-θ pruning never drops a
    // tie) — same oracle
    "text_bm25_wand" -> bm25ExactOracleSql,
    // semantic dedup replay: seeded k-means centroid literals (k=8,
    // seed=42, sf0.01 — dev/DumpCentroids 8), assignment = argmin
    // squared-L2 with (d, cid) tie-break exactly like IvfModel.assign,
    // then within-cluster cosine pairs; 1.0-(1.0-x) replicates the Spark
    // expression's double arithmetic so the threshold compare agrees
    "dedup_semantic" ->
      """WITH cents(cid, cv) AS (VALUES
        |(0, [-0.04480726,0.039853312,-0.024933727,-0.0093163485,-0.023245333,0.012614427,0.054728832,-1.2864353E-4,0.023714218,-0.033735577,-0.015639074,0.01102518,-0.013653416,0.038256247,-0.044502117,-0.015627217,0.05739749,0.047666736,-0.006900978,-0.0060148505,0.012129724,-0.038642976,0.049835708,-0.07559851,0.0046251,0.013269396,-0.0024563456,-8.6771336E-4,-0.054910433,-0.012732348,-0.061290354,0.056950923,0.004859085,-0.03931176,-0.047296956,0.06012104,0.038493086,0.003759206,0.011867993,-2.7364423E-4,-0.010485023,0.05882729,-0.05326326,-0.02706462,-0.008655151,-0.025917893,0.04725663,-0.010841405,-0.014668496,-0.07385174,-0.03566852,0.042831242,-0.0098387245,0.015324498,0.02373733,-0.0516024,-0.026894195,0.036630806,-0.024823267,-0.032775268,-0.013028684,-0.01002647,0.021846252,-0.00787168]::REAL[]),
        |(1, [8.5345964E-4,0.052139536,0.0043838923,-0.017589048,0.03695904,0.045439404,-0.03346357,-0.027269514,0.0021899245,0.007331677,0.01855935,0.0036307564,0.031899408,0.069882475,0.0044798926,0.019126091,-0.006955754,-0.036424275,-0.020583367,0.03083141,-0.032562777,0.014962646,0.011712957,2.3312554E-4,0.05088811,0.012588174,-0.003070484,0.03590449,-0.05824219,0.0151971765,0.0030346857,-0.05812306,-0.0067983638,0.004081233,-0.027411012,0.005269963,0.014960354,0.013966148,0.017666483,0.065323934,0.0051031685,-0.042273704,0.046347618,-3.4257284E-4,-0.029382113,-0.02976645,-0.0046739522,-0.027721357,0.011838524,0.08170077,0.018318417,-0.017843433,0.015571274,-0.011843696,0.0059506358,0.02873015,0.05013372,-0.035538904,-0.056215998,-0.021111134,0.0786054,-0.021571899,0.019959195,-0.052144807]::REAL[]),
        |(2, [-0.038803086,-0.011160323,-0.05963719,-0.004777334,0.059323378,0.08098525,0.027039545,-0.0414395,0.009946897,0.017448239,0.05249559,-0.030530872,-0.056823235,-0.035270713,0.03616587,-0.07883287,0.008240321,0.006885232,0.01646446,0.0101034185,0.039734453,-0.043418955,-0.060640547,0.014426732,-0.024591533,0.026323808,0.043923512,0.05274038,0.013648186,0.054135513,0.025190748,-0.037270144,0.03432283,-0.02482774,0.020231731,-0.01987015,0.019555217,0.014722699,0.0062203747,-0.005461968,-0.03396116,0.002262252,-0.009533494,0.03129678,0.039155576,-0.0079581225,0.008525824,-0.033990845,0.020952191,0.0071538547,0.0049592294,-0.045765936,-0.004782422,-0.0031234322,0.027360203,0.03904926,0.05915744,0.00911007,0.001706753,0.018645106,0.04048102,-0.05316523,-0.012962182,0.013154726]::REAL[]),
        |(3, [0.062707394,-0.020712769,0.016963692,-0.039184228,0.0565652,0.058356352,-0.07323276,0.01105451,-0.008353046,-0.024043,0.056093562,-0.061384093,-0.014596446,-0.017240228,-0.031229874,0.09613645,0.03558696,0.05740614,-0.007648228,-0.010596868,-0.020098163,0.0066739707,-0.0015389394,0.02230357,-0.021809284,-0.030542474,0.02945634,0.0117213875,0.035948813,-0.07549831,0.033026353,-0.01132573,0.03427609,-0.010326261,0.04233252,-0.019916872,-0.048438992,-0.0498201,0.030162804,-1.4805438E-5,0.009785208,-0.021110734,0.061133843,7.610287E-4,-0.0016181272,0.011151055,0.02418504,0.026286166,0.035492275,0.00822603,-0.021298636,-0.024562215,0.08627622,-0.039396297,0.034211975,0.0040705837,-0.03177957,0.023874713,0.032274336,-0.042804983,-0.05093631,-0.004430887,0.03990731,0.053874265]::REAL[]),
        |(4, [-0.003921453,-0.03149041,0.03594643,-0.028741455,-0.002102144,-0.02536687,-0.008015705,-0.0036488485,0.052812107,0.023258407,-0.0058367196,-0.015348402,6.635649E-4,-0.05008991,0.049865257,-0.04638626,0.0147166345,0.0033420152,0.025410805,0.03120294,0.008934726,0.043052927,-0.010438298,4.980837E-4,-0.016173244,0.017553687,-5.4672104E-4,-0.03614948,0.001845064,-0.025163729,-0.017558454,0.020694863,0.0152417775,-0.028628074,0.011144533,-0.07134702,0.016096795,0.008691789,-0.044901785,0.012190523,-9.1448845E-4,-0.0032180126,-0.049384985,-0.020231893,0.0036999262,0.037059132,-0.022476174,0.04620955,-0.034277722,-0.019803446,0.011077629,-0.031032708,0.060393,-0.036181297,-0.017399402,-0.024905277,0.020395849,0.018954849,0.07354701,-0.01842416,-0.035150528,0.06713112,-0.053155642,-0.0745577]::REAL[]),
        |(5, [-0.011766344,-0.036510497,0.0010091894,0.042299535,-0.030580305,0.02504402,-0.043671854,0.050196297,-0.02248867,0.005720981,0.0029353364,0.081414856,0.0079782475,0.012322836,-0.0031171604,-0.00853115,-0.0644958,-0.015434526,-0.025730282,-0.030494686,-0.030698711,0.019501645,0.0035770277,-0.059686527,-0.0704443,0.01100748,-0.0021364172,0.008155304,0.010704594,-0.037169337,0.050035696,-0.0588748,0.002378868,0.02203058,0.048458576,0.08055368,-0.041709326,-0.013429706,0.016204862,-0.041614976,-0.03675156,-0.05772957,-0.023004161,-0.028312834,-0.002018211,-0.033493396,-0.0065470445,0.070118636,-0.03495222,-0.007438526,0.014573704,-7.2952657E-4,-0.024925549,0.038457796,-0.001129112,-0.011362576,-0.0606255,-0.03991594,-0.01725269,-0.0073270015,-0.019251447,0.035491634,-0.028967457,-0.04805515]::REAL[]),
        |(6, [-0.004450416,-0.043384112,0.05935542,0.0083717685,-0.0071637128,-0.09605852,-0.018225733,0.084165856,-0.030666979,0.08721189,-0.019185215,0.004931489,0.03948422,0.0130991945,0.012280264,-0.007025499,0.031179752,-0.050273523,-0.04585487,0.030514361,0.011020315,-0.03035762,0.0011596922,0.036254816,0.054842558,0.020828165,-0.04848458,0.03846127,0.0017343384,0.0733536,0.024366584,-0.02203914,0.05485517,0.03711226,0.005592761,0.007499265,1.8107962E-4,-0.05230892,-0.019782644,0.012826456,0.022581372,0.026876682,-0.0067191464,0.06815304,-0.047154292,-0.0049292096,-0.019361706,-0.03872198,-0.017570361,-0.0044658887,0.081177175,0.06418416,0.0061656563,0.023700573,0.007671675,-0.019189674,-0.0117951725,-0.03310624,-0.004379994,0.014251805,-0.016117794,-0.0031357694,0.025143782,-0.0024384907]::REAL[]),
        |(7, [0.051782124,0.0082318215,-0.011203002,0.011519108,0.0059271036,-0.019421937,-0.0487704,0.0010980066,-0.051750258,-0.07377763,-0.020040872,0.021844273,-0.023284279,-0.015590743,-0.023488607,0.079241775,-0.04286327,0.030151945,0.05078227,-0.043121412,-0.012361919,0.027760383,0.023400733,0.0073724817,0.004747894,0.028220886,-0.019008793,-0.004715192,0.044921327,0.022092404,0.0039650984,0.04273755,-0.05470818,-0.008612665,-0.0016169309,-0.025840865,-0.04260001,0.04852614,-0.014386711,-0.050184768,0.023846267,-0.053552024,0.04455721,-0.011459409,-0.036916398,0.07073435,-0.025057381,0.002304311,0.0136192525,-0.059250735,0.005940972,-0.0021371208,-0.062310297,-0.013260334,-0.02879288,0.017563757,0.039442282,-0.0026205862,-0.045089975,0.023342166,0.018032767,0.0076583517,-0.010105356,0.029409735]::REAL[])),
        |t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |asg AS (SELECT id, v,
        |  (SELECT cid FROM cents
        |   ORDER BY list_sum(list_transform(list_zip(t.v, cents.cv::DOUBLE[]),
        |     p -> (p[1]-p[2])*(p[1]-p[2]))), cid
        |   LIMIT 1) AS cluster FROM t),
        |p AS (SELECT l.id AS a, r.id AS b, l.cluster,
        |    1.0 - (1.0 - list_sum(list_transform(list_zip(l.v, r.v), x -> x[1]*x[2]))
        |      / (sqrt(list_sum(list_transform(l.v, x -> x*x)))
        |         * sqrt(list_sum(list_transform(r.v, x -> x*x))))) AS cosine
        |  FROM asg l JOIN asg r ON l.cluster = r.cluster AND l.id < r.id)
        |SELECT a, b, cluster, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.3""".stripMargin,
    // serve-from-index is CONTRACTED to equal the inline path (same df
    // values for surviving terms, same fixed-point scoring) — same oracle
    "text_bm25_serve" -> bm25ExactOracleSql,
    // Champion-list BM25 replay: the text_bm25_topk replay with one extra
    // CTE — per-term postings ranked by the query-independent impact
    // (fixed-point 1e9 before ranking, so an engine ulp in avgdl can't
    // flip a champion near-tie; doc_id tiebreak) and truncated to 32 —
    // spliced between post and the scoring join. df/idf/scoring clauses
    // are byte-identical to the exact oracle.
    "text_bm25_champion" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl, toks FROM tok),
        |post AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  GROUP BY doc_id, dl, term),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
        |q AS (
        |  SELECT doc_id AS query_id, unnest(list_distinct(
        |    string_split_regex(lower(trim(substr(text, 1, 200))), '\s+'))) AS term
        |  FROM documents WHERE doc_id % 53 = 0),
        |champ AS (
        |  SELECT doc_id, dl, term, tf FROM (
        |    SELECT post.doc_id, post.dl, post.term, post.tf,
        |      row_number() OVER (PARTITION BY post.term
        |        ORDER BY CAST(round(
        |          (post.tf / (post.tf + 1.2::DOUBLE *
        |            (0.25::DOUBLE + 0.75::DOUBLE * post.dl / stats.avgdl)))
        |          * 1000000000.0::DOUBLE, 0) AS BIGINT) DESC,
        |          post.doc_id) AS crank
        |    FROM post JOIN (SELECT DISTINCT term FROM q) qv USING (term), stats)
        |  WHERE crank <= 32),
        |qdf AS (
        |  SELECT q.query_id, q.term,
        |    ln(1.0::DOUBLE + (stats.n_docs - df.df + 0.5::DOUBLE)
        |      / (df.df + 0.5::DOUBLE)) AS idf,
        |    stats.avgdl AS avgdl
        |  FROM q JOIN df USING (term), stats),
        |scored AS (
        |  SELECT qdf.query_id, champ.doc_id, champ.term,
        |    qdf.idf * (champ.tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |      / (champ.tf + 1.2::DOUBLE *
        |         (0.25::DOUBLE + 0.75::DOUBLE * champ.dl / qdf.avgdl)) AS s
        |  FROM champ JOIN qdf USING (term)),
        |agg AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(round(s * 1000000.0::DOUBLE, 0) AS BIGINT)) AS score_fixed
        |  FROM scored GROUP BY query_id, doc_id),
        |r AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fixed DESC, doc_id) AS rank
        |  FROM agg)
        |SELECT query_id, doc_id, rank FROM r WHERE rank <= 5""".stripMargin,
    // Hybrid RRF replay: the text_bm25_topk replay at k=10 (lexical arm)
    // + the j1_knn_cosine replay over the %53 query subset (dense arm),
    // fused with fixed-point 1e12-scaled reciprocal-rank contributions
    // (associative BIGINT sum, like the BM25 scoring itself); final rank
    // on the RAW fixed sum with doc_id tiebreak, rrf rounded for output
    "hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl, toks FROM tok),
        |post AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  GROUP BY doc_id, dl, term),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
        |q AS (
        |  SELECT doc_id AS query_id, unnest(list_distinct(
        |    string_split_regex(lower(trim(substr(text, 1, 200))), '\s+'))) AS term
        |  FROM documents WHERE doc_id % 53 = 0),
        |qdf AS (
        |  SELECT q.query_id, q.term,
        |    ln(1.0::DOUBLE + (stats.n_docs - df.df + 0.5::DOUBLE)
        |      / (df.df + 0.5::DOUBLE)) AS idf,
        |    stats.avgdl AS avgdl
        |  FROM q JOIN df USING (term), stats),
        |scored AS (
        |  SELECT qdf.query_id, post.doc_id, post.term,
        |    qdf.idf * (post.tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |      / (post.tf + 1.2::DOUBLE *
        |         (0.25::DOUBLE + 0.75::DOUBLE * post.dl / qdf.avgdl)) AS s
        |  FROM post JOIN qdf USING (term)),
        |agg AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(round(s * 1000000.0::DOUBLE, 0) AS BIGINT)) AS score_fixed
        |  FROM scored GROUP BY query_id, doc_id),
        |lex AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score_fixed DESC, doc_id) AS rank
        |    FROM agg) t WHERE rank <= 10),
        |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |       FROM embeddings WHERE vec_id % 53 = 0),
        |bv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |dd AS (SELECT qid, id,
        |        1 - list_sum(list_transform(list_zip(qv, bv), p -> p[1]*p[2]))
        |          / (sqrt(list_sum(list_transform(qv, x -> x*x)))
        |             * sqrt(list_sum(list_transform(bv, x -> x*x)))) AS dist
        |      FROM qv, bv),
        |den AS (
        |  SELECT qid AS query_id, id AS doc_id, rank FROM (
        |    SELECT qid, id,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |    FROM dd) t WHERE rank <= 10),
        |contrib AS (
        |  SELECT query_id, doc_id, CAST(round(
        |    1000000000000.0::DOUBLE / (60.0::DOUBLE + rank), 0) AS BIGINT) AS c
        |  FROM lex
        |  UNION ALL
        |  SELECT query_id, doc_id, CAST(round(
        |    1000000000000.0::DOUBLE / (60.0::DOUBLE + rank), 0) AS BIGINT) AS c
        |  FROM den),
        |fused AS (
        |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS f
        |  FROM contrib GROUP BY query_id, doc_id),
        |fr AS (
        |  SELECT query_id, doc_id, f,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY f DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT query_id, rank::INT AS rank, doc_id,
        |  round(f / 1000000000000.0::DOUBLE, 6) AS rrf
        |FROM fr WHERE rank <= 10""".stripMargin,
    // Hard-negative replay: the j1_knn_cosine all-pairs shape with the
    // label-inequality predicate (which also removes the anchor itself)
    "mine_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, label AS bl, embedding::DOUBLE[] AS bv
        |      FROM embeddings),
        |d AS (SELECT qid, id,
        |        1 - list_sum(list_transform(list_zip(qv, bv), p -> p[1]*p[2]))
        |          / (sqrt(list_sum(list_transform(qv, x -> x*x)))
        |             * sqrt(list_sum(list_transform(bv, x -> x*x)))) AS dist
        |      FROM q, b WHERE b.bl <> q.ql),
        |r AS (SELECT qid, id,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        |      FROM d)
        |SELECT qid, rank::INT AS rank, id FROM r WHERE rank <= 10""".stripMargin,
    // Greedy k-center replay: a recursive CTE carries the selected-id
    // list; each iteration recomputes every point's min distance to the
    // set (equals Spark's incremental min exactly — min is order-free)
    // and picks argmax with the id tiebreak. Radius of step s is the
    // max-min distance BEFORE adding step s's center (step 1 → 0.0)
    "corpus_kcenter" ->
      """WITH RECURSIVE b AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |sel(step, id, radius, ids) AS (
        |  SELECT 1, s.id, 0.0::DOUBLE, [s.id] FROM (SELECT min(id) AS id FROM b) s
        |  UNION ALL
        |  SELECT step + 1, id, mind, list_append(ids, id) FROM (
        |    SELECT t.step, t.ids, t.id, t.mind,
        |      row_number() OVER (ORDER BY t.mind DESC, t.id) AS rn
        |    FROM (
        |      SELECT sel.step, sel.ids, x.id,
        |        min(sqrt(list_sum(list_transform(list_zip(x.v, c.v),
        |          p -> (p[1]-p[2])*(p[1]-p[2]))))) AS mind
        |      FROM sel, unnest(sel.ids) AS u(cid)
        |        JOIN b c ON c.id = u.cid, b x
        |      GROUP BY sel.step, sel.ids, x.id) t) tt
        |  WHERE rn = 1 AND step < 12 AND mind > 0)
        |SELECT step, id, round(radius, 6) AS radius FROM sel""".stripMargin,
    // MMR replay: candidate pool = the j1 cosine chain top-15 (rel is
    // the same chain's similarity, dist ≡ 1 − rel bit-exactly per
    // VecCosineDist), pairwise sims among pool members precomputed
    // (symmetric — dot order and norm product commute), then a
    // recursive CTE advances every query one greedy pick per iteration:
    // score = 0.7·rel − 0.3·max(sim to selected), ties by id; the
    // first pick's max-sim term is 0 (x − 0.0 ≡ x, so 0.7·rel alone)
    "corpus_mmr" ->
      """WITH RECURSIVE
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS bv FROM embeddings),
        |dd AS (SELECT qid, id, 1 - s AS dist, s AS rel FROM (
        |  SELECT qid, id,
        |    list_sum(list_transform(list_zip(qv, bv), p -> p[1]*p[2]))
        |      / (sqrt(list_sum(list_transform(qv, x -> x*x)))
        |         * sqrt(list_sum(list_transform(bv, x -> x*x)))) AS s
        |  FROM q, b) t),
        |cand AS (
        |  SELECT qid, id, rel FROM (
        |    SELECT qid, id, rel,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |    FROM dd) t WHERE rn <= 15),
        |pairsim AS (
        |  SELECT c1.qid, c1.id AS a, c2.id AS b,
        |    list_sum(list_transform(list_zip(x.bv, y.bv), p -> p[1]*p[2]))
        |      / (sqrt(list_sum(list_transform(x.bv, z -> z*z)))
        |         * sqrt(list_sum(list_transform(y.bv, z -> z*z)))) AS sim
        |  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.id <> c2.id
        |  JOIN b x ON x.id = c1.id JOIN b y ON y.id = c2.id),
        |sel(step, qid, id, score, ids) AS (
        |  SELECT 1, qid, id, score, [id] FROM (
        |    SELECT qid, id, 0.7::DOUBLE * rel AS score,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY 0.7::DOUBLE * rel DESC, id) AS rn
        |    FROM cand) t WHERE rn = 1
        |  UNION ALL
        |  SELECT step + 1, qid, id, score, list_append(ids, id) FROM (
        |    SELECT t.step, t.qid, t.id, t.score, t.ids,
        |      row_number() OVER (PARTITION BY t.qid
        |        ORDER BY t.score DESC, t.id) AS rn
        |    FROM (
        |      SELECT sel.step, sel.qid, c.id,
        |        0.7::DOUBLE * c.rel - 0.3::DOUBLE * max(p.sim) AS score,
        |        sel.ids
        |      FROM sel
        |      JOIN cand c ON c.qid = sel.qid
        |        AND NOT list_contains(sel.ids, c.id)
        |      JOIN pairsim p ON p.qid = sel.qid AND p.a = c.id
        |        AND list_contains(sel.ids, p.b)
        |      GROUP BY sel.step, sel.qid, c.id, c.rel, sel.ids) t) tt
        |  WHERE rn = 1 AND step < 8)
        |SELECT qid, step, id, round(score, 6) AS score FROM sel""".stripMargin,
    // Bigram-LM perplexity replay: same tokenizer, add-0.5 smoothing,
    // ::DOUBLE literals, fixed-point BIGINT NLL sums (associative, so
    // no ordering clauses needed); hugeint SUM cast back to BIGINT
    "text_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS j FROM tok),
        |bg AS (SELECT doc_id, toks[j] AS v, toks[j+1] AS w FROM idx),
        |cvw AS (SELECT v, w, count(*) AS c_vw FROM bg GROUP BY v, w),
        |cv AS (SELECT v, count(*) AS c_v FROM bg GROUP BY v),
        |vocab AS (
        |  SELECT count(DISTINCT t)::DOUBLE AS vsize
        |  FROM (SELECT unnest(toks) AS t FROM tok)),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln((COALESCE(c.c_vw, 0) + 0.5::DOUBLE)
        |        / (COALESCE(g.c_v, 0) + 0.5::DOUBLE * vocab.vsize))
        |      * 1000000.0::DOUBLE, 0) AS BIGINT) AS nf
        |  FROM bg b LEFT JOIN cvw c USING (v, w)
        |    LEFT JOIN cv g USING (v), vocab)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(SUM(nf) AS BIGINT) AS nll_fixed
        |FROM scored GROUP BY doc_id""".stripMargin,
    // Sequence packing: same whitespace token count, one global cumsum
    // (the oracle can afford a flat window; the Spark side two-phases it),
    // spans exploded to overlapped 512-token sequences
    "corpus_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |  FROM t),
        |s AS (
        |  SELECT doc_id, cum - toks AS start, cum FROM c WHERE toks > 0),
        |e AS (
        |  SELECT doc_id, start, cum,
        |    unnest(range(start // 512, (cum - 1) // 512 + 1)) AS seq_id
        |  FROM s)
        |SELECT seq_id, count(*) AS n_docs,
        |  sum(least(cum, (seq_id + 1) * 512)
        |    - greatest(start, seq_id * 512))::BIGINT AS n_tokens
        |FROM e GROUP BY seq_id""".stripMargin,
    // Overlapping token windows: same tokenization, chunk count =
    // 1 + ceil((n - W)/S) (min 1), last chunk short, empty docs skipped
    "text_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, toks, n,
        |    1 + greatest(0, ceil((n - 32)::DOUBLE / 24)::BIGINT) AS n_chunks
        |  FROM t WHERE n > 0),
        |e AS (
        |  SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_idx
        |  FROM d)
        |SELECT doc_id AS id, chunk_idx,
        |  least(32, n - chunk_idx * 24) AS n_chunk_tokens,
        |  toks[(chunk_idx * 24 + 1)::INT] AS first_tok,
        |  toks[least(chunk_idx * 24 + 32, n)::INT] AS last_tok
        |FROM e""".stripMargin,
  )
}
