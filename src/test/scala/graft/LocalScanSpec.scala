package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.RandomDataset

/** The LocalScan driver-local fast path must be bit-identical to the
  * distributed plans it shortcuts: every algorithm family searched twice —
  * once with the fast path enabled (default), once forced distributed via
  * the kill-switch — and the full (qid, rank, id, dist) relations
  * compared exactly (same ids AND same floating-point distances, since
  * the kernels replicate the codegen expressions' accumulation order). */
class LocalScanSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  Registry.init()

  private lazy val (train, testQ, _) =
    RandomDataset.dataset(spark, 800, 24, 16, 10, seed = 31)
  private lazy val trainC = { train.cache(); train.count(); train }
  private lazy val queries =
    testQ.select(org.apache.spark.sql.functions.col("qid"),
      org.apache.spark.sql.functions.col("vector"))

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("qid", "rank", "id", "dist").as[(Long, Int, Long, Double)]
      .collect().sortBy(t => (t._1, t._2)).toSeq

  private def forcedDistributed[T](body: => T): T = {
    sys.props("graft.local.enabled") = "false"
    try body finally sys.props.remove("graft.local.enabled")
  }

  private def checkAlgo(name: String, indexer: String, searcher: String,
      params: Map[String, String], metric: String = "l2"): Unit = {
    val artifact = Registry.indexer(indexer, params + ("seed" -> "42"), metric)
      .build(trainC)
    artifact.data.cache().count()
    val s = Registry.searcher(searcher, params, metric)
    val local = rows(s.search(artifact, queries, 7))
    val dist = forcedDistributed {
      // fresh artifact DataFrame reference is NOT needed: the kill-switch
      // bypasses the memo entirely, exercising the full distributed plan
      rows(s.search(artifact, queries, 7))
    }
    assert(local.nonEmpty, s"$name produced no rows")
    assert(local == dist, s"$name local != distributed")
    artifact.data.unpersist()
  }

  test("linear (exact) local scan ≡ distributed kNN join, l2") {
    checkAlgo("exact_l2", "brute_force", "linear", Map.empty)
  }

  test("linear (exact) local scan ≡ distributed kNN join, cosine") {
    checkAlgo("exact_cos", "brute_force", "linear", Map.empty, metric = "cosine")
  }

  test("linear (exact) local scan ≡ distributed kNN join, l2_gram") {
    checkAlgo("exact_gram", "brute_force", "linear", Map.empty,
      metric = "l2_gram")
  }

  test("l2_gram ranks like l2 (distances equal within fp rounding)") {
    val artifact = Registry.indexer("brute_force", Map("seed" -> "42"), "l2")
      .build(trainC)
    val s = Registry.searcher("linear", Map.empty, _: String)
    val l2 = rows(s("l2").search(artifact, queries, 7))
    val gram = rows(s("l2_gram").search(artifact, queries, 7))
    assert(l2.size == gram.size)
    l2.zip(gram).foreach { case ((q1, r1, _, d1), (q2, r2, _, d2)) =>
      // ids may swap at fp ties; (query, rank) alignment and distance
      // agreement to 1e-6 is the gram-trick contract (vector_utils.py)
      assert(q1 == q2 && r1 == r2)
      assert(math.abs(d1 - d2) <= 1e-6 * math.max(1.0, d1),
        s"q$q1 rank$r1: $d1 vs $d2")
    }
  }

  test("sq8 local code scan ≡ distributed AdcScan") {
    checkAlgo("sq8", "sq8", "sq8", Map.empty)
  }

  test("sq8 local LUT scoring ≡ inline dequant, ip metric") {
    checkAlgo("sq8_ip", "sq8", "sq8", Map.empty, metric = "ip")
  }

  test("sq8 cosine keeps the inline scorer and still matches") {
    checkAlgo("sq8_cos", "sq8", "sq8", Map.empty, metric = "cosine")
  }

  test("pq local code scan ≡ distributed AdcScan") {
    checkAlgo("pq", "pq", "pq",
      Map("num_subspaces" -> "8", "num_centroids" -> "16"))
  }

  test("ivf_flat local probed scan ≡ distributed equi-join + rerank") {
    checkAlgo("ivf", "ivf", "ivf", Map("nlist" -> "16", "nprobe" -> "4"))
  }

  test("ivf_sq8 local probed scan ≡ distributed AdcScan IVF") {
    checkAlgo("ivf_sq8", "ivf_sq8", "ivf_sq8",
      Map("nlist" -> "16", "nprobe" -> "4"))
  }

  test("ivf_pq raw local probed scan ≡ distributed AdcScan IVF") {
    checkAlgo("ivf_pq_raw", "ivf_pq", "ivf_pq",
      Map("nlist" -> "16", "nprobe" -> "4",
        "num_subspaces" -> "8", "num_centroids" -> "16"))
  }

  test("ivf_pq residual local probed scan ≡ distributed AdcScan IVF") {
    checkAlgo("ivf_pq_res", "ivf_pq", "ivf_pq",
      Map("nlist" -> "16", "nprobe" -> "4", "residual" -> "true",
        "num_subspaces" -> "8", "num_centroids" -> "16"))
  }

  test("lsh local probe→vote→cap→rerank ≡ distributed plan, cosine") {
    checkAlgo("lsh_cos", "lsh", "lsh",
      Map("num_tables" -> "6", "hash_size" -> "8",
        "candidate_multiplier" -> "16"), metric = "cosine")
  }

  test("lsh local pipeline ≡ distributed plan, e2lsh l2") {
    checkAlgo("lsh_l2", "lsh", "lsh",
      Map("num_tables" -> "6", "hash_size" -> "4", "bucket_width" -> "4.0",
        "candidate_multiplier" -> "16"))
  }

  test("lsh zero-candidate fallback ≡ distributed fallback") {
    // a tiny hash space with distant queries: force some queries to have
    // zero collisions so the brute-force fallback branch runs both ways
    val far = testQ.select(
      org.apache.spark.sql.functions.col("qid"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.col("vector"),
        x => x * org.apache.spark.sql.functions.lit(100.0f)).as("vector"))
    val artifact = Registry.indexer("lsh",
      Map("num_tables" -> "2", "hash_size" -> "16", "bucket_width" -> "0.5",
        "seed" -> "42"), "l2").build(trainC)
    artifact.data.cache().count()
    val s = Registry.searcher("lsh",
      Map("candidate_multiplier" -> "8"), "l2")
    val local = rows(s.search(artifact, far, 5))
    val dist = forcedDistributed { rows(s.search(artifact, far, 5)) }
    assert(local.nonEmpty && local == dist)
    artifact.data.unpersist()
  }

  private val cores = Runtime.getRuntime.availableProcessors()

  /** `n` random queries of the base's dim, as (qid, vector) */
  private def randomQueries(n: Int): DataFrame =
    RandomDataset.vectors(spark, n, 16, seed = 77).withColumnRenamed("id", "qid")

  test("exact scan query groups ≡ distributed kNN join: l2, ip, cosine, zero vectors") {
    // blocks of 5 (one group of 4 and one query) and of 8 (two groups),
    // each batch ending in a shorter block; n mod 4 ≠ 0
    val sizes = Seq(16 * cores + 3, 28 * cores + 7)
    val zero = Seq.fill(16)(0.0f)
    val base = trainC.unionByName(Seq((99999L, zero)).toDF("id", "vector"))
    base.cache().count()
    val artifact = Registry.indexer("brute_force", Map("seed" -> "42"), "l2").build(base)
    for (n <- sizes; metric <- Seq("l2", "ip", "cosine")) {
      val q = randomQueries(n - 1).unionByName(Seq((-1L, zero)).toDF("qid", "vector"))
      val s = Registry.searcher("linear", Map.empty, metric)
      val got = RouteCheck.bothRoutes(local = true, "dist")(s.search(artifact, q, 7))
      assert(got.map(_._1).distinct.length == n, s"n=$n $metric")
      if (metric == "cosine")
        // the zero query's denominator is 0: every row at distance 1
        assert(got.filter(_._1 == -1L).forall(_._4 == java.lang.Double.doubleToRawLongBits(1.0)))
    }
    base.unpersist()
  }

  test("lsh batch of voted and zero-collision queries ≡ distributed plan") {
    // the base rows themselves share their own buckets; the far queries
    // (×100) share none and take the exact fallback in query groups
    val far = randomQueries(16 * cores + 3).select(
      (org.apache.spark.sql.functions.col("qid") + 100000).as("qid"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.col("vector"),
        x => x * org.apache.spark.sql.functions.lit(100.0f)).as("vector"))
    val q = trainC.limit(40).select(
      org.apache.spark.sql.functions.col("id").as("qid"),
      org.apache.spark.sql.functions.col("vector")).unionByName(far)
    val artifact = Registry.indexer("lsh",
      Map("num_tables" -> "2", "hash_size" -> "16", "bucket_width" -> "0.5",
        "seed" -> "42"), "l2").build(trainC)
    artifact.data.cache().count()
    val s = Registry.searcher("lsh", Map("candidate_multiplier" -> "8"), "l2")
    val got = RouteCheck.bothRoutes(local = true, "dist")(s.search(artifact, q, 5))
    val perQuery = got.groupBy(_._1).map { case (qid, rs) => qid -> rs.length }
    // a voted query reranks only its candidates; a fallback one ranks all
    assert(perQuery.count { case (qid, c) => qid < 100000 && c < 5 } > 0)
    assert(perQuery.count { case (qid, c) => qid >= 100000 && c == 5 } == 16 * cores + 3)
    artifact.data.unpersist()
  }

  test("covertree local walk ≡ distributed broadcast walk") {
    checkAlgo("covertree", "covertree", "covertree", Map.empty)
  }

  test("hnsw_global local walk ≡ distributed broadcast walk") {
    checkAlgo("hnsw_walk", "hnsw_global", "hnsw_global",
      Map("m" -> "8", "ef_construction" -> "64", "ef_search" -> "64"))
  }

  test("hnsw (distributed per-centroid) local walk ≡ distributed plan") {
    checkAlgo("hnsw_dist", "hnsw", "hnsw",
      Map("n_partitions" -> "4", "m" -> "8", "ef_construction" -> "64",
        "nprobe" -> "2", "ef_search" -> "64"))
  }

  test("hnsw spill=2 boundary closure: dedup'd results, local ≡ distributed") {
    // spill>1 duplicates boundary rows into neighboring graphs; a query
    // probing two graphs can see the same id twice and BOTH serve paths
    // must dedup — the baseline hnsw_dist row runs this configuration
    val params = Map("n_partitions" -> "4", "m" -> "8",
      "ef_construction" -> "64", "spill" -> "2", "spill_eps" -> "0.5",
      "nprobe" -> "3", "ef_search" -> "64")
    val artifact = Registry.indexer("hnsw", params + ("seed" -> "42"), "l2")
      .build(trainC)
    artifact.data.cache().count()
    assert(artifact.meta("spill") == "2")
    // the closure actually duplicated rows (eps 0.5 is generous)
    assert(artifact.data.count() > trainC.count())
    val s = Registry.searcher("hnsw", params, "l2")
    val local = rows(s.search(artifact, queries, 7))
    val dist = forcedDistributed { rows(s.search(artifact, queries, 7)) }
    assert(local.nonEmpty && local == dist, "spill local != distributed")
    // no duplicate (qid, id) slots in the merged top-k
    val dupes = local.groupBy(t => (t._1, t._3)).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"duplicate ids in top-k: ${dupes.keys.take(3)}")
    artifact.data.unpersist()
  }

  test("hnsw_global memoized-query walk ≡ fresh-collect walk") {
    val artifact = Registry.indexer("hnsw_global",
      Map("m" -> "8", "ef_construction" -> "64", "seed" -> "42"), "l2")
      .build(trainC)
    val s = Registry.searcher("hnsw_global", Map("ef_search" -> "64"), "l2")
    val a = rows(s.search(artifact, queries, 7))
    val b = rows(s.search(artifact, queries, 7))
    assert(a.nonEmpty && a == b)
  }

  test("float-LUT ADC scorers rank like the oracle-exact double scorers") {
    // strided_accum on pq/ivf_pq = FloatPqLutScorer/FloatResidualScorer:
    // values differ by single-precision rounding, rankings must be
    // recall-equivalent (the removed dev/FloatAdcAb measures the perf side)
    for ((ind, params) <- Seq(
        ("pq", Map("num_subspaces" -> "8", "num_centroids" -> "32")),
        ("ivf_pq", Map("nlist" -> "8", "nprobe" -> "4",
          "num_subspaces" -> "8", "num_centroids" -> "32",
          "residual" -> "true")))) {
      val artifact = Registry.indexer(ind, params + ("seed" -> "42"), "l2")
        .build(trainC)
      artifact.data.cache().count()
      val d = rows(Registry.searcher(ind, params, "l2")
        .search(artifact, queries, 7))
      val f = rows(Registry.searcher(ind,
          params + ("strided_accum" -> "true"), "l2")
        .search(artifact, queries, 7))
      val dIds = d.map(t => (t._1, t._3)).toSet
      val fIds = f.map(t => (t._1, t._3)).toSet
      val overlap = dIds.intersect(fIds).size.toDouble / dIds.size
      assert(overlap >= 0.95, s"$ind float-vs-double id overlap $overlap")
      artifact.data.unpersist()
    }
  }

  test("memoization: repeated searches reuse the collected table (no growth)") {
    val artifact = Registry.indexer("sq8", Map.empty, "l2").build(trainC)
    artifact.data.cache().count()
    val s = Registry.searcher("sq8", Map.empty, "l2")
    val first = rows(s.search(artifact, queries, 5))
    (1 to 3).foreach { _ =>
      assert(rows(s.search(artifact, queries, 5)) == first)
    }
    artifact.data.unpersist()
  }

  test("packed resultDf: null/empty/partial heaps, derived-plan reuse") {
    // the packed-UnsafeRow rewrite must keep resultDf's contract on the
    // edges: null heap slots skipped, sub-k heaps emit their size,
    // ordering ascending (dist, id) with rank 1..n per query
    val qids = Array(10L, 20L, 30L)
    val heaps = new Array[BoundedTopK](3)
    heaps(0) = new BoundedTopK(3)
    heaps(0).insert(7L, 0.5); heaps(0).insert(8L, 0.25)
    // heaps(1) stays null; heaps(2) empty
    heaps(2) = new BoundedTopK(3)
    val df = LocalScan.resultDf(spark, qids, heaps)
    val got = df.select("qid", "rank", "id", "dist")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 1, 8L, 0.25), (10L, 2, 7L, 0.5)))
    // a DERIVED plan over the packed relation goes through the normal
    // machinery (not the overridden root collect) and must agree
    val derived = LocalScan.resultDf(spark, qids, {
      val h = new Array[BoundedTopK](3)
      h(0) = new BoundedTopK(3)
      h(0).insert(7L, 0.5); h(0).insert(8L, 0.25)
      h(2) = new BoundedTopK(3)
      h
    }).filter(org.apache.spark.sql.functions.col("rank") === 1)
      .select("qid", "id").as[(Long, Long)].collect().toSeq
    assert(derived == Seq((10L, 8L)))
    // all-null heaps → empty relation, collectable both ways
    val empty = LocalScan.resultDf(spark, qids, new Array[BoundedTopK](3))
    assert(empty.collect().isEmpty && empty.count() == 0)
  }

  test("SQ8 serve prime is driver-only: an executor-side scorer " +
      "construction does not set the once-per-JVM latch") {
    // the prime's compute leg runs a parallel IntStream on the shared FJ
    // common pool — inside an executor task it would steal the pool and
    // add seconds to a production task (r13 verdict). The guard is the
    // TaskContext check at the top of primeSq8ServeOnce, INCLUDING the
    // latch: an executor construction must leave the latch unset so a
    // later driver-side serve still gets its warm-up.
    LocalScan.resetSq8ServePrimeForTest()
    // construct a scorer INSIDE a task (local master still sets a real
    // TaskContext per task, so this exercises the exact executor path)
    val constructed = spark.range(0, 2, 1, 2).rdd.mapPartitions { _ =>
      val dims = 8
      val lo = Array.fill(dims)(0f); val hi = Array.fill(dims)(1f)
      val qv = Array(Array.fill(dims)(0.5f))
      val s = new AdcScan.Sq8FastScorer(AdcScan.LocalLut(qv), lo, hi, 0)
      Iterator.single(if (s != null) 1 else 0)
    }.collect().sum
    assert(constructed == 2)
    assert(!LocalScan.sq8ServePrimed,
      "executor-side construction must not latch the serve prime")
    // the same construction on the DRIVER primes and latches
    val dims = 8
    val lo = Array.fill(dims)(0f); val hi = Array.fill(dims)(1f)
    val qv = Array(Array.fill(dims)(0.5f))
    new AdcScan.Sq8FastScorer(AdcScan.LocalLut(qv), lo, hi, 0)
    assert(LocalScan.sq8ServePrimed,
      "driver-side construction must run the once-per-JVM prime")
  }

  test("payloadStats / queryVecs one-job small-estimate probe ≡ count-then-probe path") {
    import org.apache.spark.sql.functions.col
    // fresh DataFrame instances per call — both probes memoize by object
    // identity, so reuse would hide the second regime
    def freshBase = trainC.select(col("id"), col("vector")).where(col("id") >= 0)
    def freshQ = queries.select(col("qid"), col("vector")).where(col("qid") >= 0)
    val smallStats = LocalScan.payloadStats(freshBase, "vector", 4)
    val smallQ = LocalScan.queryVecs(freshQ)
    // shrink the split size so cores × maxPartitionBytes falls below any
    // relation's estimate — forces the historical two-job path
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val bigStats = LocalScan.payloadStats(freshBase, "vector", 4)
      val bigQ = LocalScan.queryVecs(freshQ)
      assert(bigStats === smallStats)
      assert(bigQ.isDefined && smallQ.isDefined)
      assert(bigQ.get._1.toSeq === smallQ.get._1.toSeq)
      assert(bigQ.get._2.map(_.toSeq).toSeq === smallQ.get._2.map(_.toSeq).toSeq)
    } finally spark.conf.set(key, prev)
  }

  test("bytes cap: table above the cap falls back to the distributed scan") {
    sys.props("graft.local.bytesCap") = "64"
    try {
      val artifact = Registry.indexer("sq8", Map.empty, "l2").build(trainC)
      artifact.data.cache().count()
      val s = Registry.searcher("sq8", Map.empty, "l2")
      val capped = rows(s.search(artifact, queries, 5))
      sys.props.remove("graft.local.bytesCap")
      // fresh artifact → fresh memo key → local path this time
      val artifact2 = Registry.indexer("sq8", Map.empty, "l2").build(trainC)
      val s2 = Registry.searcher("sq8", Map.empty, "l2")
      val local = rows(s2.search(artifact2, queries, 5))
      assert(capped == local)
      artifact.data.unpersist()
    } finally sys.props.remove("graft.local.bytesCap")
  }
}
