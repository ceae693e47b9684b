package graft

import org.apache.spark.JobCount.{actionsOf, jobsOf}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, LocalScan}

/** Block-max WAND exact BM25: contracted bit-identical to the exact
  * relational path ([[Bm25.searchTopK]]) — same fixed-point scores,
  * same (score desc, doc_id asc) tie-break — at every block size and
  * partitioning. */
class Bm25WandSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def exact(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int) =
    Bm25.searchTopK(docs, queries, "id", "text", "qid", "qtext", k = k)
      .select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

  private def wand(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int, blockSize: Int) =
    Bm25.searchTopKWand(docs, queries, "id", "text", "qid", "qtext", k = k,
        blockSize = blockSize)
      .select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

  test("tiny corpus: WAND ≡ exact, including scores and tie order") {
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "the lazy dog"),
      (3L, "quick quick quick fox"),
      (4L, "dog eats dog food"),
      // 5 and 6 are byte-identical → identical scores for any query:
      // the tie must resolve by doc_id asc on both paths
      (5L, "brown dog fox"),
      (6L, "brown dog fox")).toDF("id", "text")
    val queries = Seq((10L, "quick fox"), (20L, "dog"), (30L, "brown fox dog"),
      (40L, "absent_term"), (50L, "absent_term dog")).toDF("qid", "qtext")
    for (bs <- Seq(1, 2, 64))
      assert(wand(corpus, queries, k = 3, blockSize = bs) ==
        exact(corpus, queries, k = 3), s"blockSize=$bs")
  }

  /** Zipf-ish vocabulary (a few stopword-like terms shared by most docs
    * + a long tail) — the regime WAND's pruning and the tie-heavy
    * fixed-point scores stress hardest: 300 `(id, text)` docs and
    * `nQueries` `(qid, qtext)` queries. */
  private def skewedCorpus(seed: Int, nQueries: Int) = {
    val rnd = new scala.util.Random(seed)
    val common = Vector("alpha", "beta", "gamma")
    val rare = (0 until 40).map(i => s"w$i").toVector
    val docs = (0L until 300L).map { i =>
      val n = 2 + rnd.nextInt(9)
      val toks = (0 until n).map { _ =>
        if (rnd.nextInt(10) < 6) common(rnd.nextInt(common.size))
        else rare(rnd.nextInt(rare.size))
      }
      (i, toks.mkString(" "))
    }.toDF("id", "text")
    val queries = (0L until nQueries.toLong).map { i =>
      val n = 1 + rnd.nextInt(4)
      (1000L + i, (0 until n).map { _ =>
        if (rnd.nextBoolean()) common(rnd.nextInt(common.size))
        else rare(rnd.nextInt(rare.size))
      }.mkString(" "))
    }.toDF("qid", "qtext")
    (docs, queries)
  }

  test("randomized skewed corpus: WAND ≡ exact across block sizes and k") {
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    for (bs <- Seq(1, 3, 64); k <- Seq(1, 5)) {
      assert(wand(docs, queries, k = k, blockSize = bs) ==
        exact(docs, queries, k = k), s"blockSize=$bs k=$k")
    }
  }

  test("documents table: WAND ≡ exact and partitioning-invariant") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("doc_id as id", "text", "source")
    val queries = docs.filter($"id" % 23 === 0)
      .selectExpr("id as qid", "substring(text, 1, 200) as qtext")
    val e = exact(docs, queries, k = 5)
    assert(e.nonEmpty)
    assert(wand(docs, queries, k = 5, blockSize = 64) == e)
    // doc-side partitioning must not change anything (each doc's
    // postings are re-co-located by the WAND shuffle)
    assert(wand(docs.repartition(7, $"source"), queries, k = 5,
      blockSize = 64) == e)
  }

  test("searchFromIndexWand over-cap branch: chunked serve over the " +
      "full index ≡ under-cap vocab-literal serve") {
    // the over-cap serve branch (no vocab isin literal — it would be a
    // million-entry In — full postings/df table scans feeding WAND's own
    // chunked route) was exercised by no gate until r14: every serve
    // gate stays under the cap. Pin its equivalence by serving the SAME
    // batch twice, cap high then forced low, and requiring bit-identical
    // results (ranks AND fixed-point scores).
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("doc_id as id", "text")
    val queries = docs.filter($"id" % 23 === 0)
      .selectExpr("id as qid", "substring(text, 1, 200) as qtext")
    val key = "graft.bm25.serveBatchCap"
    val old = sys.props.get(key)
    try {
      Bm25.buildIndex(docs, "id", "text", "wandix_cap", buckets = 4)
      def serve() = Bm25.searchFromIndexWand(
          spark, "wandix_cap", queries, "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank", "score")
        .as[(Long, Long, Int, Double)].collect()
        .sortBy(r => (r._1, r._3)).toSeq
      val underCap = serve()
      assert(underCap.nonEmpty)
      sys.props(key) = "200" // ~22 queries × ~30 terms → several chunks
      assert(serve() == underCap,
        "over-cap index serve must union to the under-cap answers")
    } finally {
      old match {
        case Some(v) => sys.props(key) = v
        case None => sys.props -= key
      }
      Seq("wandix_cap_postings", "wandix_cap_df", "wandix_cap_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("over-cap query batch chunks query-disjoint: exact union, never the relational join") {
    // the 100× pass caught the original over-cap fallback silently
    // re-materializing the relational Σ qf·df candidates (the precise
    // spill blow-up WAND exists to remove) — over-cap batches must now
    // CHUNK and union, bit-identical to the uncapped run
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("doc_id as id", "text")
    val queries = docs.filter($"id" % 23 === 0)
      .selectExpr("id as qid", "substring(text, 1, 200) as qtext")
    val key = "graft.bm25.serveBatchCap"
    val old = sys.props.get(key)
    val uncapped = wand(docs, queries, k = 5, blockSize = 64)
    try {
      sys.props(key) = "200" // ~22 queries × ~30 terms → ~4 chunks
      assert(wand(docs, queries, k = 5, blockSize = 64) == uncapped)
      // a SINGLE query wider than the cap is the one degenerate shape
      // that still routes relationally — results must stay exact
      val wide = Seq((99L, (0 until 60).map(i => s"tok$i").mkString(" ")))
        .toDF("qid", "qtext")
      val corpus = Seq((1L, "tok1 tok2 tok3"), (2L, "tok4 tok5"),
        (3L, "tok1 tok59")).toDF("id", "text")
      sys.props(key) = "10"
      assert(wand(corpus, wide, k = 2, blockSize = 64) ==
        exact(corpus, wide, k = 2))
    } finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  /** build a `buildIndex` layout named `table`, run `body`, drop it */
  private def withIndex[T](docs: org.apache.spark.sql.DataFrame, table: String)(
      body: => T): T =
    try {
      Bm25.buildIndex(docs, "id", "text", table, buckets = 4)
      body
    } finally Seq("_postings", "_df", "_stats")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $table$sfx"))

  /** runs `body` with system property `key` set to `value` (unset when None) */
  private def withProp[T](key: String, value: Option[String])(body: => T): T = {
    val old = sys.props.get(key)
    value.foreach(v => sys.props(key) = v)
    try body finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  /** `(query_id, doc_id, rank, raw bits of score)`, sorted by (query_id, rank) */
  private def rowBits(res: org.apache.spark.sql.DataFrame) =
    res.select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4)))
      .sortBy(r => (r._1, r._3)).toSeq

  /** [[exact]]'s rows with the scores as raw bits */
  private def exactBits(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int) =
    rowBits(Bm25.searchTopK(docs, queries, "id", "text", "qid", "qtext", k = k))

  /** True when every leaf of the plan is a LocalRelation: the search ran on
    * the driver (one LocalRelation per chunk of an over-cap batch). */
  private def allOnDriver(res: org.apache.spark.sql.DataFrame): Boolean =
    res.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** Runs `search` on its default route and on the distributed route (the
    * `graft.local.enabled=false` kill switch). The default run must be on
    * the driver and the forced run must not; the two must have equal
    * schemas and bit-identical rows. Returns the schema and the rows. */
  private def bothRoutes(search: => org.apache.spark.sql.DataFrame) = {
    def run() = {
      val res = search
      (allOnDriver(res), res.schema, rowBits(res))
    }
    val (onDriver, driverSchema, driverRows) = run()
    val (distLocal, distSchema, distRows) = RouteCheck.distributed(run())
    assert(onDriver && !distLocal, "each setting must select its route")
    assert(driverSchema == distSchema)
    assert(driverRows == distRows)
    (driverSchema, driverRows)
  }

  private def serveBothRoutes(table: String,
      queries: org.apache.spark.sql.DataFrame, k: Int) =
    bothRoutes(Bm25.searchFromIndexWand(spark, table, queries, "qid", "qtext", k = k))._2

  private val tinyCorpus = Seq(
    (1L, "the quick brown fox"),
    (2L, "the lazy dog"),
    (3L, "quick quick quick fox"),
    (4L, "dog eats dog food"),
    // byte-identical docs: every score ties and resolves by doc_id
    (5L, "brown dog fox"),
    (6L, "brown dog fox"),
    (7L, "fox and dog and the brown hen"))
  private val tinyQueries = Seq(
    (10L, "quick fox"),
    (20L, "dog Dog DOG fox dog"),    // repeated terms count once
    (30L, "brown fox dog"),          // 5 and 6 tie
    (40L, "absent_term zzz"),        // nothing in the corpus: no rows
    (50L, "eats"))                   // k > its one match

  test("searchFromIndexWand: driver-local route ≡ distributed route, bit for bit") {
    val corpus = tinyCorpus.toDF("id", "text")
    val queries = tinyQueries.toDF("qid", "qtext")
    withIndex(corpus, "wandix_routes") {
      val got = serveBothRoutes("wandix_routes", queries, k = 5)
      assert(got == exactBits(corpus, queries, k = 5))
      assert(!got.exists(_._1 == 40L))
      assert(got.filter(_._1 == 50L).map(_._2) == Seq(4L))
      val q30 = got.filter(_._1 == 30L)
      val tie = q30.filter(r => r._2 == 5L || r._2 == 6L)
      assert(tie.map(_._2) == Seq(5L, 6L) && tie(0)._4 == tie(1)._4 &&
        tie(1)._3 == tie(0)._3 + 1)
    }
    // a wider batch over the skewed corpus: head terms in most docs
    val (docs, skewedQueries) = skewedCorpus(42, nQueries = 25)
    withIndex(docs, "wandix_routes_skewed") {
      val got = serveBothRoutes("wandix_routes_skewed", skewedQueries, k = 5)
      assert(got.nonEmpty && got == exactBits(docs, skewedQueries, k = 5))
    }
  }

  test("searchTopKWand: driver route ≡ distributed route ≡ searchTopK, bit for bit") {
    def check(docs: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame, k: Int): Unit = {
      val ref = Bm25.searchTopK(docs, queries, "id", "text", "qid", "qtext", k = k)
      val refRows = rowBits(ref)
      assert(refRows.nonEmpty)
      for (bs <- Seq(1, 64)) {
        val (schema, rows) = bothRoutes(Bm25.searchTopKWand(docs, queries,
          "id", "text", "qid", "qtext", k = k, blockSize = bs))
        assert(schema == ref.schema, s"blockSize=$bs")
        assert(rows == refRows, s"blockSize=$bs")
      }
    }
    check(tinyCorpus.toDF("id", "text"), tinyQueries.toDF("qid", "qtext"), k = 5)
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    check(docs, queries, k = 5)
    // over the cap (25 queries, ~60 (query, term) rows): the batch chunks
    // query-disjoint, and each chunk takes the driver route by default
    withProp("graft.bm25.serveBatchCap", Some("20")) {
      assert(Bm25.qtermRowsCapped(queries, "qid", "qtext", 20).isEmpty)
      check(docs, queries, k = 5)
    }
  }

  test("driver idf is the expression Spark evaluates, bit for bit") {
    val rnd = new scala.util.Random(7)
    val grid = for {
      n <- Seq(1.0, 2.0, 3.0, 7.0, 100.0, 10000.0, 12345.0, 1e6, 3.1e7)
      df <- (Seq(1.0, 2.0, n / 3, n / 2, n - 1, n) ++
        Seq.fill(20)(1.0 + rnd.nextInt(n.toInt).toDouble)).map(math.floor).distinct
      if df >= 1 && df <= n
    } yield (n, df)
    val frame = grid.toDF("n_docs", "df")
    // folded over the LocalRelation (interpreted) and generated code
    // after a shuffle: both must agree with the driver function
    for (rel <- Seq(frame, frame.repartition(3))) {
      val got = rel.select($"n_docs", $"df", Bm25.idfCol.as("idf"))
        .as[(Double, Double, Double)].collect()
      assert(got.length == grid.length)
      got.foreach { case (n, df, sparkIdf) =>
        assert(java.lang.Double.doubleToRawLongBits(Bm25.idf(n, df)) ==
          java.lang.Double.doubleToRawLongBits(sparkIdf), s"n=$n df=$df")
      }
    }
  }

  test("searchFromIndexWand job counts on a small batch, per route") {
    // job counts do not depend on host load: a change that adds a job to
    // a small-batch serve fails here
    val (docs, batch) = skewedCorpus(7, nQueries = 4) // batch: a LocalRelation
    withIndex(docs, "wandix_jobs") {
      def serve(q: org.apache.spark.sql.DataFrame) = jobsOf(spark.sparkContext)(
        Bm25.searchFromIndexWand(spark, "wandix_jobs", q, "qid", "qtext", k = 10)
          .collect())
      val (driverJobs, rows) = serve(batch)
      assert(rows.nonEmpty)
      assert(driverJobs <= 3, s"$driverJobs Spark jobs for a 4-query driver-route serve")
      // the first call loads the index snapshot: the df/stats union
      // collect and one collect of every posting; a warm call is served
      // from it with no job
      assert(driverJobs <= 2, s"$driverJobs Spark jobs for the first (snapshot-loading) serve")
      val (warmJobs, warmRows) = serve(batch)
      assert(warmJobs == 0, s"$warmJobs Spark jobs for a warm snapshot serve")
      assert(warmRows.toSet == rows.toSet)
      // the batch's (query, term) rows are read off its LocalRelation and
      // the answer is a LocalRelation: planning it posts no SQL execution
      val (actions, _) = actionsOf(spark.sparkContext)(
        Bm25.searchFromIndexWand(spark, "wandix_jobs", batch, "qid", "qtext", k = 10))
      assert(actions.isEmpty, actions.mkString(", "))
      // the distributed route (kill switch) reuses the probe's
      // (query, term) rows and the df/stats rows it already collected, so
      // it neither re-tokenizes the batch nor collects the idf again
      val (distJobs, distRows) = RouteCheck.distributed(serve(batch))
      assert(distRows.toSet == rows.toSet)
      assert(distJobs <= 5, s"$distJobs Spark jobs for a 4-query distributed-route serve")
      // a shuffled batch adds only its bounded (query, term) collect: the
      // batch's shuffle and at most two take jobs
      val spread = batch.repartition(2)
      val (spreadJobs, _) = RouteCheck.distributed(serve(spread))
      assert(spreadJobs <= distJobs + 3,
        s"$spreadJobs Spark jobs for a 2-partition distributed-route serve")
    }
  }

  test("searchTopKWand job counts on a small batch, per route") {
    val (docs, batch) = skewedCorpus(7, nQueries = 4) // batch: a LocalRelation
    def search() = jobsOf(spark.sparkContext)(
      Bm25.searchTopKWand(docs, batch, "id", "text", "qid", "qtext", k = 10).collect())
    search() // tokenizes the corpus into the cached postings
    val (driverJobs, rows) = search()
    assert(rows.nonEmpty)
    val (distJobs, distRows) = RouteCheck.distributed(search())
    assert(distRows.toSet == rows.toSet)
    // driver route: the df/stats union collect and the postings collect
    assert(driverJobs <= 2, s"$driverJobs Spark jobs for a 4-query driver-route search")
    assert(distJobs <= 5, s"$distJobs Spark jobs for a 4-query distributed-route search")
  }

  test("an over-cap chunk that the first split cannot separate splits again") {
    // every query id falls in the first of two chunks under the level-0
    // split (and under the unseeded hash): re-splitting a chunk by the
    // hash that formed it used to recurse until the stack overflowed
    val (docs, pool) = skewedCorpus(11, nQueries = 200)
    val queries = pool.filter(pmod(hash($"qid"), lit(2)) === 0 &&
      pmod(hash($"qid", lit(0)), lit(2)) === 0).limit(12)
    val nRows = Bm25.qtermRowsCapped(queries, "qid", "qtext", 10000).get.length
    val want = exactBits(docs, queries, k = 5)
    assert(want.map(_._1).distinct.length == 12)
    withProp("graft.bm25.serveBatchCap", Some(((nRows + 1) / 2).toString)) {
      def search() = rowBits(Bm25.searchTopKWand(docs, queries, "id", "text",
        "qid", "qtext", k = 5))
      assert(search() == want)
      assert(RouteCheck.distributed(search()) == want)
    }
  }

  test("a query wider than the cap: bounded probe, exact answers on every serve path") {
    // 60 distinct terms in ONE query against a cap of 10: the probe must
    // report over-cap, and every serve path must still answer exactly
    val wide = Seq((99L, (0 until 60).map(i => s"tok$i").mkString(" ")))
      .toDF("qid", "qtext")
    val corpus = Seq((1L, "tok1 tok2 tok3"), (2L, "tok4 tok5"),
      (3L, "tok1 tok59"), (4L, "other words")).toDF("id", "text")
    val want = exact(corpus, wide, k = 2)
    assert(want.nonEmpty)
    withIndex(corpus, "wandix_wide") {
      withProp("graft.bm25.serveBatchCap", Some("10")) {
        for (batch <- Seq(wide, wide.repartition(2))) {
          assert(Bm25.qtermRowsCapped(batch, "qid", "qtext", 10).isEmpty)
          assert(Bm25.qtermRowsCapped(batch, "qid", "qtext", 60).map(_.length)
            .contains(60))
          for (serve <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
              Bm25.searchFromIndexWand(spark, "wandix_wide", _, "qid", "qtext", k = 2),
              Bm25.searchFromIndex(spark, "wandix_wide", _, "qid", "qtext", k = 2)))
            assert(serve(batch).select("query_id", "doc_id", "rank", "score")
              .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq == want)
        }
      }
    }
  }

  /** the default search of the index `table`, with the WAND block size */
  private def serveIndex(table: String, queries: org.apache.spark.sql.DataFrame, k: Int,
      blockSize: Int = 64, k1: Double = 1.2, b: Double = 0.75) =
    Bm25.searchFromIndexWandUpTo(spark, table, queries, "qid", "qtext", k, k1, b,
      Bm25.driverWandMaxPostings, blockSize)

  /** `searchFromIndex`'s rows with the scores as raw bits */
  private def relationalBits(table: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75) =
    rowBits(Bm25.searchFromIndex(spark, table, queries, "qid", "qtext", k = k, k1 = k1, b = b))

  test("index snapshot ≡ collect route ≡ distributed route ≡ searchFromIndex, bit for bit") {
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    withIndex(docs, "wandix_snap") {
      val matches = relationalBits("wandix_snap", queries, k = 10000).length
      for (bs <- Seq(4, 64); k <- Seq(1, 5, matches + 1)) {
        val want = relationalBits("wandix_snap", queries, k)
        assert(want.nonEmpty)
        def serve() = serveIndex("wandix_snap", queries, k, bs)
        serve() // loads this block size's snapshot
        val (jobs, snap) = jobsOf(spark.sparkContext)(rowBits(serve()))
        assert(jobs == 0, s"blockSize=$bs k=$k: $jobs jobs for a snapshot serve")
        assert(snap == want, s"blockSize=$bs k=$k")
        // bytesCap 0 keeps the snapshot out: the per-batch postings collect
        val collected = withProp("graft.local.bytesCap", Some("0")) {
          val res = serve()
          assert(allOnDriver(res))
          rowBits(res)
        }
        assert(collected == want, s"blockSize=$bs k=$k")
        assert(RouteCheck.distributed(rowBits(serve())) == want, s"blockSize=$bs k=$k")
      }
      // other (k1, b) after the default: a snapshot of their own
      val want = relationalBits("wandix_snap", queries, k = 5, k1 = 0.9, b = 0.4)
      assert(want != relationalBits("wandix_snap", queries, k = 5))
      for (_ <- 0 until 2)
        assert(rowBits(serveIndex("wandix_snap", queries, k = 5, k1 = 0.9, b = 0.4)) == want)
      assert(rowBits(serveIndex("wandix_snap", queries, k = 5)) ==
        relationalBits("wandix_snap", queries, k = 5))
    }
  }

  test("a held snapshot serves a batch over the Σ df limit: no job, bit for bit") {
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    withIndex(docs, "wandix_overlimit") {
      val want = relationalBits("wandix_overlimit", queries, k = 5)
      serveIndex("wandix_overlimit", queries, k = 5).collect() // loads the snapshot
      // a limit of 0 puts every batch that touches a posting over it
      def overLimit() = Bm25.searchFromIndexWandUpTo(spark, "wandix_overlimit", queries,
        "qid", "qtext", k = 5, k1 = 1.2, b = 0.75, driverMaxPostings = 0L)
      val (jobs, got) = jobsOf(spark.sparkContext) {
        val res = overLimit()
        assert(allOnDriver(res))
        rowBits(res)
      }
      assert(jobs == 0, s"$jobs Spark jobs")
      assert(got == want)
      assert(RouteCheck.distributed(rowBits(overLimit())) == want)
    }
  }

  test("a buildIndex of another corpus under the same name serves the new corpus") {
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    val (other, _) = skewedCorpus(5, nQueries = 1)
    withIndex(docs, "wandix_rebuild") {
      serveIndex("wandix_rebuild", queries, k = 5).collect() // loads the snapshot
      Bm25.buildIndex(other, "id", "text", "wandix_rebuild", buckets = 4)
      val want = exactBits(other, queries, k = 5)
      assert(want != exactBits(docs, queries, k = 5))
      assert(rowBits(serveIndex("wandix_rebuild", queries, k = 5)) == want)
      val (jobs, warm) = jobsOf(spark.sparkContext)(rowBits(serveIndex("wandix_rebuild", queries, k = 5)))
      assert(jobs == 0 && warm == want)
    }
  }

  test("an index over bytesCap keeps the per-batch route, and the memo stays under the cap") {
    val (docs, queries) = skewedCorpus(42, nQueries = 25)
    withIndex(docs, "wandix_overcap") {
      val want = relationalBits("wandix_overcap", queries, k = 5)
      val cap = 2000L // the index is ~30 kB as a snapshot
      withProp("graft.local.bytesCap", Some(cap.toString)) {
        for (_ <- 0 until 2) {
          val (jobs, got) = jobsOf(spark.sparkContext) {
            val res = serveIndex("wandix_overcap", queries, k = 5)
            assert(allOnDriver(res))
            rowBits(res)
          }
          // the df/stats union collect and the batch's postings collect
          assert(jobs == 2, s"$jobs Spark jobs")
          assert(got == want)
          assert(LocalScan.storedBytes <= cap)
        }
      }
    }
  }

  test("under graft.local.enabled=false no snapshot is built") {
    val (docs, batch) = skewedCorpus(7, nQueries = 4)
    withIndex(docs, "wandix_off") {
      def serve() = jobsOf(spark.sparkContext)(
        rowBits(serveIndex("wandix_off", batch, k = 10)))
      val held = LocalScan.storedBytes
      val (offJobs, off) = RouteCheck.distributed(serve())
      assert(RouteCheck.distributed(serve())._1 == offJobs)
      assert(LocalScan.storedBytes == held)
      // the default route's first call still pays the snapshot load
      val (firstJobs, first) = serve()
      assert(firstJobs == 2 && first == off)
      assert(LocalScan.storedBytes > held)
      assert(serve()._1 == 0)
    }
  }
}
