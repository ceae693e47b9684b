package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KnnJoin

/** Plan-shape regression tests: the physical plans that make the engine
  * scale must not silently regress. These assert the load-bearing plan
  * properties (broadcast side, no base shuffle before the partial agg,
  * parquet pushdown) rather than exact plan strings. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("kNN join: queries broadcast, partial top-k before the only exchange") {
    val plan = KnnJoin.knnJoin(Tables.embQueries(spark, dir),
      Tables.embBase(spark, dir), 10, "l2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "queries must be broadcast — base side must never shuffle")
    assert(plan.contains("partial_top_k_by_dist"),
      "map-side partial top-k must run before the exchange")
    // exactly one data exchange (the qid hash partitioning for final agg)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, plan had $exchanges")
    assert(plan.contains("vec_l2_dist"),
      "distance must be the native codegen expression, not a UDF")
  }

  test("parquet scan: filter and projection pushed down") {
    val plan = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      s"filter not pushed to parquet:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      "projection must prune to the two referenced columns")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = Tables.load(spark, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc).limit(20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("LSH probe is an equi-join (hashable), not a nested loop") {
    graft.operators.Registry.init()
    val base = Tables.embBase(spark, dir)
    val idx = graft.operators.LshIndexer(4, 4, 4.0, "cosine", 42).build(base)
    // force the DISTRIBUTED pipeline: the default LshLocal fast path
    // returns an already-materialized local relation (LocalScanSpec
    // proves it row-identical to this plan)
    System.setProperty("graft.local.enabled", "false")
    val probe =
      try graft.operators.LshSearcher(8, None, fallbackToBruteforce = false,
        "cosine").search(idx, Tables.embQueries(spark, dir), 5)
      finally System.clearProperty("graft.local.enabled")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      "bucket probe must plan as a hash/merge equi-join")
  }

  test("dedup gate queries: no cartesian / nested-loop join anywhere") {
    // every THRESHOLD-based near-dup member must get its candidates from
    // an equi-join on a blocking key — an O(n²)-row theta join would be
    // the 100 TB death sentence the LSH/prefix variants exist to avoid
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("dedup_jaccard_pairs", "dedup_simhash", "dedup_semantic")) {
      val plan = SparkEntry.queries(q)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a BroadcastNestedLoopJoin")
    }
    // minhash gate aggregates driver-side sub-results; check the operator
    val docs = Tables.load(spark, d, "documents")
    val plan = graft.operators.Dedup.minhashDupPairs(docs, "doc_id", "text",
      shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "minhash candidate generation must stay an equi-join")
    // the threshold-based embedding API likewise blocks on LSH buckets
    val e = Tables.load(spark, d, "embeddings")
    val embPlan = graft.operators.Dedup.embeddingDupPairs(e, "vec_id",
      "embedding", threshold = 0.9).queryExecution.executedPlan.toString
    assert(!embPlan.contains("CartesianProduct") &&
      !embPlan.contains("BroadcastNestedLoopJoin"),
      "embeddingDupPairs candidates must stay an equi-join")
  }

  test("dedup_embedding_top plans as the kNN-join shape, not a pair shuffle") {
    // global top-k most-similar pairs IS a self kNN-join: broadcast the
    // query side, one base scan, map-side bounded heap — the O(n²)
    // distance work stays inside codegen and the shuffle is O(n·k).
    // (Gate data's top pairs sit at cosine ≈ 0.5, where sign-LSH cannot
    // prune, so a bucketed pair join would shuffle ~all n² pairs.)
    val plan = SparkEntry.queries("dedup_embedding_top")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast — base side must never shuffle")
    assert(plan.contains("partial_top_k_by_dist"),
      "map-side partial top-k must run before the exchange")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("prefix-filtered jaccard ≡ block jaccard (exactness of the filter)") {
    val docs = Tables.load(spark, dir, "documents")
    import graft.operators.Dedup
    val a = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", "lang", 0.9)
      .select("a", "b", "jaccard").collect().map(_.toSeq).toSet
    val b = Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text", "lang", 0.9)
      .select("a", "b", "jaccard").collect().map(_.toSeq).toSet
    assert(a == b, s"prefix filter changed the result: ${a.size} vs ${b.size} pairs")
    assert(a.nonEmpty, "gate data should contain high-jaccard pairs")
  }

  test("prefix jaccard handles degenerate docs like the block variant") {
    import graft.operators.Dedup
    // empty, whitespace-only, single-token, identical, near-identical,
    // subset, and length-mismatched docs — the shapes where prefix-length
    // and size-ratio arithmetic can off-by-one
    val docs = Seq(
      (1L, "", "en"), (2L, "   ", "en"), (3L, "one", "en"),
      (4L, "one", "en"), (5L, "a b c d e f g h i j", "en"),
      (6L, "a b c d e f g h i j", "en"),
      (7L, "a b c d e f g h i k", "en"),
      (8L, "a b", "en"), (9L, "a b c d e f g h i j " * 10, "en"),
      (10L, "x y z", "de"), (11L, "x y z", "de"))
      .toDF("doc_id", "text", "lang")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val a = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", "lang", t)
        .select("a", "b").collect().map(_.toSeq).toSet
      val b = Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text", "lang", t)
        .select("a", "b").collect().map(_.toSeq).toSet
      assert(a == b, s"threshold $t: block=$a prefix=$b")
    }
  }

  test("PQ/SQ8/IVF-PQ searchers: partition-scan shape, no UDF, no pair rows") {
    graft.operators.Registry.init()
    val base = Tables.embBase(spark, dir)
    val queries = Tables.embQueries(spark, dir).limit(8)
    val algos = Seq(
      ("pq", graft.operators.PqIndexer(16, 64, 42).build(base),
        graft.operators.PqSearcher("l2")),
      ("sq8", graft.operators.Sq8Indexer().build(base),
        graft.operators.Sq8Searcher("l2")),
      ("ivf_pq", graft.operators.IvfPqIndexer(8, 16, 64, 42).build(base),
        graft.operators.IvfPqSearcher(4, "l2")),
      ("ivf_pq_residual",
        graft.operators.IvfPqIndexer(8, 16, 64, 42, residual = true).build(base),
        graft.operators.IvfPqSearcher(4, "l2")),
      ("ivf_sq8", graft.operators.IvfSq8Indexer(8, 42).build(base),
        graft.operators.IvfSq8Searcher(4, "l2")))
    for ((name, artifact, searcher) <- algos) {
      // the bench/harness materializes the code relation once per build
      // (encode is the build step); searches must then be UDF-free
      artifact.data.cache().count()
      try {
        // force the DISTRIBUTED scan + finish so the plan shape is
        // assertable (the default LocalScan fast path and driver-merge
        // finish both return an already-materialized local relation;
        // LocalScanSpec proves those equal to this plan's rows)
        val result = RouteCheck.distributed(searcher.search(artifact, queries, 5))
        // expression-level check (not string matching: the cached code
        // relation's lineage description legitimately mentions the
        // build-time encode UDF, but nothing EXECUTED may be one)
        var udfs = List.empty[String]
        result.queryExecution.optimizedPlan.foreach(node =>
          node.expressions.foreach(_.foreach {
            case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
              udfs ::= u.toString
            case _ => ()
          }))
        assert(udfs.isEmpty, s"$name search executes UDFs: $udfs")
        val plan = result.queryExecution.executedPlan.toString
        assert(plan.contains("MapPartitions"),
          s"$name must score via the partition-buffered ADC scan:\n$plan")
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name must not materialize pair rows through a join:\n$plan")
        // both finishes must produce identical rows (the driver merge
        // replicates the (dist, id) heap order bit-for-bit)
        val distributed = result.collect().map(_.toSeq).toSet
        val merged = searcher.search(artifact, queries, 5)
          .collect().map(_.toSeq).toSet
        assert(distributed == merged,
          s"$name driver-merge finish diverges from the distributed tail")
        assert(merged.nonEmpty, s"$name returned no rows")
      } finally artifact.data.unpersist()
    }
  }

  test("bucketed join + aggregation: zero exchanges end to end") {
    import graft.sources.Bucketing
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
    val items = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(orders, "pq_bkt_orders", "o_orderkey", 4)
      Bucketing.writeBucketed(items, "pq_bkt_items", "o_orderkey", 4)
      val joined = Bucketing
        .bucketedJoin(spark, "pq_bkt_orders", "pq_bkt_items", "o_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.linesIterator.take(8).mkString("\n"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join/agg must not shuffle:\n$plan")
      // the SMJ's remaining Sort nodes must be partition-LOCAL
      // (`global=false`): no network, O(bucket) work. (Spark 4 re-sorts
      // inside buckets unless legacy bucketedTableScan.outputOrdering
      // is enabled; the expensive property — no exchange — holds.)
      assert(!plan.contains("Sort [o_orderkey#") ||
        !"Sort \\[[^\\]]+\\], true".r.findFirstIn(plan).isDefined,
        s"any sort must be partition-local:\n$plan")
      // and the result must equal the plain (shuffling) join
      val expected = orders.join(items, "o_orderkey").groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .collect().map(_.toSeq).toSet
      assert(joined.collect().map(_.toSeq).toSet == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS pq_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS pq_bkt_items")
    }
  }

  test("BM25: corpus side never reshuffled for scoring; top-k is WindowGroupLimit") {
    val docs = Tables.load(spark, dir, "documents")
    val queries = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val plan = graft.operators.Bm25
      .searchTopK(docs, queries, "doc_id", "text", "qid", "qtext", k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no cartesian products")
    // the single allowed nested-loop join is the one-row corpus-stats
    // attach (a broadcast cross of exactly one row); candidate
    // generation itself must stay equi-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      s"only the 1-row stats cross-join may nest-loop:\n$plan")
    // scoring join: postings stream, query-term/idf side broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term relation must broadcast into the scoring join:\n$plan")
    // per-query top-k must map-side-limit before its exchange
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank filter must plan a Partial WindowGroupLimit:\n$plan")
    // df must aggregate ONLY postings surviving the query-vocabulary
    // semi-join — a full-dictionary groupBy would shuffle every term in
    // the corpus per batch
    assert(plan.contains("LeftSemi"),
      s"df aggregate must sit above the query-vocab semi-join:\n$plan")
  }

  test("BM25 serve-from-index: df persisted, no corpus aggregate at serve time") {
    val docs = Tables.load(spark, dir, "documents")
    val queries = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("qid"),
        substring(col("text"), 1, 200).as("qtext"))
    try {
      graft.operators.Bm25.buildIndex(docs, "doc_id", "text",
        "pq_bm25ix", buckets = 4)
      val served = graft.operators.Bm25.searchFromIndex(spark, "pq_bm25ix",
        queries, "qid", "qtext", k = 5)
      val plan = served.queryExecution.executedPlan.toString
      // serving must not recompute df from the postings: no semi-join
      // prune path, df arrives from the persisted (term, df) table
      assert(!plan.contains("LeftSemi"),
        s"serve path must read persisted df, not re-aggregate postings:\n$plan")
      assert(plan.contains("pq_bm25ix_df"),
        s"df must come from the persisted table scan:\n$plan")
      // the postings scan must be eligible for bucket pruning: the
      // query-vocab isin literal reaches the bucketed file scan, so a
      // batch touches only the buckets its terms hash into
      assert(plan.contains("SelectedBucketsCount"),
        s"query-vocab filter must enable bucket pruning on postings:\n$plan")
      // and it must answer exactly like the one-shot inline path
      val inline = graft.operators.Bm25.searchTopK(docs, queries,
        "doc_id", "text", "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank").collect().map(_.toSeq).toSet
      val got = served.select("query_id", "doc_id", "rank")
        .collect().map(_.toSeq).toSet
      assert(got == inline, "serve-from-index diverges from inline BM25")
      assert(got.nonEmpty)
      // the WAND serve route (r13, the text_bm25_serve gate path) is
      // contracted bit-identical to the relational serve — same index,
      // same answers, candidates bounded by the DAAT kernel instead of
      // the Σ qf·df join (the removed dev/ServeWandAb: 3.6 s vs 290 s at 10×)
      val wandServed = graft.operators.Bm25.searchFromIndexWand(
          spark, "pq_bm25ix", queries, "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
        .collect().map(_.toSeq).toSet
      assert(wandServed == inline,
        "WAND serve-from-index diverges from inline BM25")
    } finally {
      Seq("pq_bm25ix_postings", "pq_bm25ix_df", "pq_bm25ix_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("BM25 WAND: one doc-shuffle, vocab-pruned postings, bounded local rows") {
    val docs = Tables.load(spark, dir, "documents")
    val queries = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("qid"),
        substring(col("text"), 1, 200).as("qtext"))
    def search() = graft.operators.Bm25.searchTopKWand(docs, queries,
      "doc_id", "text", "qid", "qtext", k = 5)
    // this batch touches fewer postings than Bm25.driverWandMaxPostings, so
    // by default it runs on the driver (Bm25WandSpec proves the two routes
    // equal); the distributed plan is forced here
    assert(graft.operators.Regime.onDriver(search()),
      "a small batch must take the driver route by default")
    val (res, plan) = RouteCheck.distributed {
      val r = search()
      (r, r.queryExecution.executedPlan.toString)
    }
    // the scoring scan reads ONLY query-vocab postings (a literal
    // vocabulary filter before the doc repartition)
    assert(plan.contains("term#") && (plan.contains("INSET") || plan.contains(" IN (")),
      s"WAND postings must be filtered to the query vocabulary:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"WAND must never plan a pair join — that is the candidate " +
        s"materialization it exists to avoid:\n$plan")
    // exactly ONE LIVE doc-keyed co-location exchange feeds the DAAT
    // kernel (Par.co at gate scale / the plain keyed repartition at
    // scale), and exactly ONE per-query exchange ranks the bounded local
    // top-k output. Counted by walking the OPERATOR TREE, not the plan
    // string (r15): the postings/tokens cache slots embed their stored
    // child plans under InMemoryRelation in toString — including the
    // tokenize-scan fan exchange, printed once per nesting level — so a
    // regex over the string multiply-counts exchanges that never execute.
    // The tree walk sees only live operators (InMemoryTableScan's cached
    // plan is not a child), so a spurious extra live shuffle still fails.
    // unwrap AQE (its inner plan is not a `children` member) and count
    // on the EnsureRequirements-applied tree, where both the explicit
    // co-location repartition and the window's rank exchange exist
    val livePlan = res.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def liveSingleKeyExchanges(name: String): Int =
      livePlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
                if h.expressions.length == 1 &&
                  h.expressions.head.references.toSeq.map(_.name) == Seq(name) => 1
            case _ => 0
          }
      }.sum
    val docExchanges = liveSingleKeyExchanges("doc_id")
    assert(docExchanges == 1,
      s"expected exactly 1 live doc-keyed co-location exchange, " +
        s"got $docExchanges:\n$plan")
    assert(liveSingleKeyExchanges("qidx") == 1,
      s"expected exactly 1 per-query rank exchange over the local top-k rows:\n$plan")
    // the kernel's local output is bounded: ≤ k rows per (partition,
    // query) ever cross the final exchange
    val perPartQuery = res.select("query_id", "doc_id").distinct().count()
    assert(perPartQuery > 0)
  }

  test("vector expressions: zero vectors, empty arrays, nulls") {
    val df = Seq(
      (Some(Seq(0f, 0f)), Some(Seq(0f, 0f))),
      (Some(Seq(1f, 0f)), Some(Seq(0f, 1f))),
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])),
      (None, Some(Seq(1f, 1f))))
      .toDF("a", "b")
    import graft.functions.VectorFunctions._
    val rows = df.select(
      cosine_dist(col("a"), col("b")).as("cos"),
      l2_dist(col("a"), col("b")).as("l2"),
      vec_dot(col("a"), col("b")).as("dot")).collect()
    assert(rows(0).getDouble(0) == 1.0) // zero-norm convention → dist 1
    assert(rows(0).getDouble(1) == 0.0)
    assert(rows(1).getDouble(0) == 1.0) // orthogonal
    assert(math.abs(rows(1).getDouble(1) - math.sqrt(2)) < 1e-15)
    assert(rows(2).getDouble(1) == 0.0) // empty arrays
    assert(rows(3).isNullAt(0) && rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }

  test("hard negatives / RRF fusion / MMR rerank: scale-shaped plans") {
    // hard negatives: same shape as the kNN join — anchors broadcast, the
    // corpus never shuffles, label predicate + codegen distance before the
    // partial bounded heap, one hash exchange
    val emb = Tables.load(spark, dir, "embeddings")
    val mine = graft.operators.Mining.hardNegatives(
      emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("vector"), col("label")),
      emb.select(col("vec_id").as("id"), col("embedding").as("vector"), col("label")),
      k = 5, metric = "cosine")
    val mp = mine.queryExecution.executedPlan.toString
    assert(mp.contains("BroadcastNestedLoopJoin"), "anchors must broadcast")
    assert(mp.contains("partial_top_k_by_dist"), "map-side bounded heap required")
    assert(mp.contains("vec_cosine_dist"), "distance must stay a codegen expression")
    assert("Exchange hashpartitioning".r.findAllIn(mp).size == 1, mp.linesIterator.take(3).mkString)

    // RRF fusion: no join at all — a union of rank relations, one partial
    // fixed-point sum, one bounded-heap top-k; nothing corpus-sized.
    // LocalRelation arms fuse on the driver by default, so the distributed
    // plan is forced here (HybridSpec proves the two routes equal)
    val arm1 = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("qid", "id", "rank")
    val arm2 = Seq((0L, 2L, 1), (0L, 3L, 2)).toDF("qid", "id", "rank")
    System.setProperty("graft.local.enabled", "false")
    val fp =
      try graft.operators.Hybrid.rrfFuse(Seq(arm1, arm2), k = 3)
        .queryExecution.executedPlan.toString
      finally System.clearProperty("graft.local.enabled")
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"),
      "fusion must stay join-free")
    assert(fp.contains("Union") && fp.contains("partial_top_k_by_dist"))
    // with the fast path on, LocalRelation arms plan as one local scan
    val lp = graft.operators.Hybrid.rrfFuse(Seq(arm1, arm2), k = 3)
      .queryExecution.executedPlan.toString
    assert(lp.contains("LocalTableScan") && !lp.contains("Exchange") &&
      !lp.contains("Union"), s"driver fusion must plan as a LocalTableScan:\n$lp")

    // MMR rerank: per-query-local greedy — exactly one shuffle (the group
    // on qid) and an object MapGroups, no corpus-side operator
    val pool = Seq(
      (0L, 1L, Seq(1f, 0f), Seq(1f, 0.1f)),
      (0L, 2L, Seq(1f, 0f), Seq(0.9f, 0.3f))).toDF("qid", "id", "qvec", "vector")
    val rp = graft.operators.Mmr.rerank(pool, nSelect = 2)
      .queryExecution.executedPlan.toString
    assert(rp.contains("MapGroups"), "rerank must be a per-query object op")
    assert("Exchange hashpartitioning".r.findAllIn(rp).size == 1,
      "rerank must shuffle only the pool, once")

    // end-to-end MMR: the pool's vector re-attach must broadcast the tiny
    // candidate side — a SortMergeJoin here would shuffle the corpus
    val dp = graft.operators.Mmr.diversifiedTopK(
        Tables.embQueries(spark, dir), Tables.embBase(spark, dir),
        m = 5, nSelect = 3)
      .queryExecution.executedPlan.toString
    assert(!dp.contains("SortMergeJoin"),
      "diversifiedTopK must never shuffle the corpus for the re-attach")
    assert(dp.contains("BroadcastHashJoin"), "pool re-attach must broadcast")
  }
}
