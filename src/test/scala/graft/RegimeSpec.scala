package graft

import scala.util.Try

import org.apache.spark.JobCount.{actionsOf, jobsOf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Catalyst sizes an array column by its element default (4 B for
  * `array<float>`), so a relation of 256-float vectors reads far smaller
  * than it is. Under a `graft.local.bytesCap` that such an estimate clears
  * by [[Regime.collectUnder]]'s 8× margin while the exact bytes do not,
  * every collect site takes the one-job collect, re-checks the exact cap
  * on what it collected, and falls back to its distributed route — with
  * the rows of the forced-distributed plan ([[RouteCheck]]). The global
  * HNSW build, whose collect is GBs at its cap, probes the exact size
  * before it collects anything. */
class RegimeSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  Registry.init()

  /** n rows of (id, `dim` floats); a fresh relation per call, since the
    * collect memo is keyed by DataFrame instance */
  private def vectors(n: Int, dim: Int = 256): DataFrame =
    spark.range(n).select(col("id"),
      array_repeat((col("id") % 13).cast("float"), dim).as("vector"))

  private def queries(dim: Int = 256): DataFrame =
    spark.range(5).select((col("id") * 7).as("qid"),
      array_repeat((col("id") % 13 + lit(0.5)).cast("float"), dim).as("vector"))

  private def estimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The cap a site's relation clears by the 8× margin on its estimate;
    * asserts that its `exact` bytes do not fit under it. */
  private def marginCap(df: DataFrame, exact: Long): Long = {
    val cap = (estimate(df) * 8).toLong
    assert(Regime.smallEstimate(df).isDefined)
    assert(cap < exact, s"estimate ${estimate(df)} B does not understate $exact B")
    cap
  }

  private def withProp[T](key: String, value: Long)(body: => T): T = {
    val old = sys.props.get(key)
    sys.props(key) = value.toString
    try body finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  private def withCap[T](cap: Long)(body: => T): T = withProp("graft.local.bytesCap", cap)(body)

  test("an array<float> column of 256 floats is understated about 50×") {
    val n = 1000
    val exact = n * (256L * 4 + 12)
    assert(estimate(vectors(n)) * 50 < exact,
      s"estimate ${estimate(vectors(n))} B vs exact $exact B")
  }

  test("vecTable: an understated base falls back to the distributed kNN join") {
    val n = 600
    val cap = marginCap(vectors(n), n * (256L * 4 + 12))
    withCap(cap) {
      assert(LocalScan.vecTable(vectors(n), ivf = false).isEmpty)
      val artifact = Registry.indexer("brute_force", Map.empty, "l2").build(vectors(n))
      val s = Registry.searcher("linear", Map.empty, "l2")
      assert(RouteCheck.bothRoutes(local = false, "dist")(
        s.search(artifact, queries(), 5)).nonEmpty)
    }
    withCap(n * (256L * 4 + 12))(assert(LocalScan.vecTable(vectors(n), ivf = false).isDefined))
  }

  test("codeTable: an understated code relation falls back to the distributed scan") {
    val (n, dim) = (300, 2048)
    val artifact = Sq8Indexer().build(vectors(n, dim))
    val cap = marginCap(artifact.data, n * (dim + 12L))
    withCap(cap) {
      assert(LocalScan.codeTable(Sq8Indexer().build(vectors(n, dim)).data, ivf = false).isEmpty)
      // the distributed scan ends in the driver merge, a LocalRelation
      assert(RouteCheck.bothRoutes(local = true, "dist")(
        Sq8Searcher("l2").search(artifact, queries(dim), 5)).nonEmpty)
      // no memoized table: a repeated search scans again
      assert(jobsOf(spark.sparkContext)(
        Sq8Searcher("l2").search(artifact, queries(dim), 5))._1 > 0)
    }
    withCap(n * (dim + 12L))(assert(LocalScan.codeTable(
      Sq8Indexer().build(vectors(n, dim)).data, ivf = false).isDefined))
  }

  test("LSH buckets: understated buckets fall back to the distributed probe") {
    val (n, dim, tables) = (600, 8, 16)
    val params = Map("num_tables" -> tables.toString, "hash_size" -> "4",
      "bucket_width" -> "4.0", "seed" -> "42")
    def build() = Registry.indexer("lsh", params, "l2").build(vectors(n, dim))
    val artifact = build()
    val exact = n.toLong * tables * 24
    val cap = marginCap(artifact.data, exact)
    val s = Registry.searcher("lsh", Map("candidate_multiplier" -> "8"), "l2")
    withCap(cap) {
      // the rerank vectors fit: the fallback is the buckets' own
      assert(LocalScan.vecTable(build().aux("vectors"), ivf = false).isDefined)
      assert(RouteCheck.bothRoutes(local = false, "dist")(
        s.search(artifact, queries(dim), 5)).nonEmpty)
    }
    val fresh = build()
    withCap(exact)(RouteCheck.bothRoutes(local = true, "dist")(s.search(fresh, queries(dim), 5)))
  }

  test("Hnsw local model: an understated graph relation falls back to the distributed walk") {
    // a stored graph read back from parquet: the estimate is the file size,
    // and run-length-encoded vectors compress far below their heap bytes
    val (n, dim) = (600, 512)
    val params = Map("n_partitions" -> "2", "m" -> "8", "ef_construction" -> "32",
      "nprobe" -> "2", "ef_search" -> "32", "seed" -> "42")
    val tmp = java.nio.file.Files.createTempDirectory("regime-hnsw")
    val dir = tmp.resolve("a").toString
    try {
      graft.sources.ArtifactStore.save(
        Registry.indexer("hnsw", params, "l2").build(vectors(n, dim)),
        dir, "l2", dim, n, "fp", "cfg")
      def load() = graft.sources.ArtifactStore.load(spark, dir)._1
      val artifact = load()
      val exact = n * (dim * 4L + 8L * 8 + 64)
      val cap = marginCap(artifact.data, exact)
      val s = Registry.searcher("hnsw", params, "l2")
      withCap(cap) {
        assert(RouteCheck.bothRoutes(local = false, "dist")(
          s.search(artifact, queries(dim), 5)).nonEmpty)
      }
      val fresh = load()
      withCap(exact)(RouteCheck.bothRoutes(local = true, "dist")(s.search(fresh, queries(dim), 5)))
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(tmp.toFile)
  }

  test("the kill switch forces Dedup's union-find onto the distributed rounds") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 7L), (4L, 4L)).toDF("a", "b")
    def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.connectedComponents(pairs)
    val dist = RouteCheck.distributed(Dedup.connectedComponents(pairs))
    assert(Regime.onDriver(fast) && !Regime.onDriver(dist))
    assert(labels(fast) == labels(dist))
  }

  test("k-center: an understated input falls back to the distributed passes") {
    val n = 600
    def select(): (Int, Seq[(Int, Long, Double)]) = {
      val (jobs, df) = jobsOf(spark.sparkContext)(Coreset.kCenterGreedy(vectors(n), k = 8))
      (jobs, df.orderBy("step").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq)
    }
    val cap = marginCap(vectors(n), n * (256L * 28 + 112))
    val (localJobs, local) = select()
    val (distJobs, dist) = RouteCheck.distributed(select())
    // k-center's budget is a sixth of graft.local.bytesCap
    val (cappedJobs, capped) = withCap(cap * 6)(select())
    assert(local == dist && capped == dist)
    assert(localJobs == 1 && distJobs > localJobs, s"$localJobs vs $distJobs jobs")
    // the one bounded collect the estimate admitted, then the passes
    assert(cappedJobs == distJobs + 1, s"$cappedJobs vs $distJobs jobs")
  }

  test("HnswGlobal build: an understated base is probed exactly, never collected, before the fallback") {
    val (n, dim, m) = (600, 256, 8)
    val exact = n * (dim * 4L + 12L * m + 64)
    val cap = marginCap(vectors(n, dim), exact)
    def build(cap: Long) = withProp("graft.hnsw.buildBytesCap", cap)(actionsOf(spark.sparkContext)(
      HnswGlobalIndexer(m = m, efConstruction = 32).build(vectors(n, dim))))
    val (actions, routed) = build(cap)
    assert(routed.kind == "hnsw")
    assert(!actions.exists(_.contains("at HnswGlobal.scala")), actions.mkString("\n"))
    val (fitActions, global) = build(exact)
    assert(global.kind == "hnsw_global")
    assert(fitActions.exists(_.startsWith("collect at HnswGlobal.scala")), fitActions.mkString("\n"))
  }

  test("payloadStats sizes a small relation in one job, with no Exchange") {
    val n = 300
    val codes = spark.range(n).select(col("id"), expr("unhex(repeat('ab', 32))").as("codes"))
    Seq((vectors(n, 64), "vector", 4, 64), (codes, "codes", 1, 32)).foreach {
      case (df, payload, unit, width) =>
        assert(Regime.smallEstimate(df).isDefined)
        assert(jobsOf(spark.sparkContext)(LocalScan.payloadStats(df, payload, unit)) ==
          ((1, Some((n.toLong, width)))))
    }
    assert(LocalScan.payloadStats(vectors(0, 8), "vector", 4).contains((0L, 0)))
  }

  /** the rows and schema of the optimized plan when it is a LocalRelation:
    * the read [[Regime]] made before it folded the analyzed plan */
  private def optimizerRows(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(Shim.externalRows(l.schema, l.data).toSeq)
      case _ => None
    }

  /** (id: int, s: string, f: float) — a `toDF` Project over a LocalRelation */
  private def local(): DataFrame = {
    import spark.implicits._
    Seq((1, "2", 1.5f), (2, "x", -3.25f), (3, "40", 0.0f), (4, null, 7.5f), (5, "6", 2.0f))
      .toDF("a", "s", "f")
  }

  test("driver rows fold the analyzed plan: the optimizer's rows and schema, no optimizer run") {
    for (ansi <- Seq(true, false)) SparkFixture.withConf("spark.sql.ansi.enabled", ansi.toString) {
      val base = local()
      val shapes = Seq(
        "casts and aliases" -> base.select(col("a").cast("long").as("id"),
          col("f").cast("double").as("d"), (col("a") * 3).as("t")),
        "nested projects" -> base.select((col("a") + 1).as("b"), col("s"))
          .select((col("b") * 2).as("c"), upper(col("s")).as("u")),
        "filter" -> base.filter(col("a") % 2 === 1).select(col("a"), col("f")),
        "limit" -> base.select(col("a")).limit(3),
        "subquery alias" -> base.as("t").select(col("t.a"), col("t.f")),
        "rand(7)" -> base.select(col("a"), rand(7).as("r")).filter(col("r") < 0.8),
        "string to int" -> base.select(col("s").cast("int").as("n")))
      for ((name, df) <- shapes) {
        val (runs, got) = OptimizerRuns.of(Try(Regime.driverRows(df)))
        val want = Try(optimizerRows(df))
        assert(runs == 0, s"$name (ansi $ansi): $runs optimizer runs")
        assert(got.isSuccess == want.isSuccess, s"$name (ansi $ansi): $got vs $want")
        if (got.isSuccess) {
          assert(got.get.map(_.toSeq) == want.get, s"$name (ansi $ansi)")
          assert(got.get.get.forall(r => r.schema == want.get.get.head.schema), s"$name (ansi $ansi)")
          assert(Regime.onDriver(df) && Regime.rowsUpTo(df, 2).isEmpty == (want.get.get.length > 2))
        }
      }
      // a cast that fails under ANSI fails on both reads; without ANSI it is null
      assert(Try(Regime.driverRows(base.select(col("s").cast("int")))).isFailure == ansi)
    }
  }

  test("other shapes fall back to the optimized plan with the same answer") {
    val base = local()
    // nvl is RuntimeReplaceable: unevaluable until the optimizer replaces it
    val nvl = base.select(expr("nvl(s, 'none')").as("n"))
    val (runs, rows) = OptimizerRuns.of(Regime.driverRows(nvl))
    assert(runs > 0)
    assert(rows.map(_.toSeq) == optimizerRows(nvl))
    // not on the driver: None, and no job runs to find out
    val ranged = spark.range(5).select((col("id") * 2).as("id"))
    assert(jobsOf(spark.sparkContext)(Regime.driverRows(ranged)) == ((0, None)))
    assert(!Regime.onDriver(ranged) && optimizerRows(ranged).isEmpty)
    // a cached local frame is read through its InMemoryRelation, as the
    // optimizer reads it: the route keeps the optimizer's answer
    val cached = base.select(col("a"), col("f"))
    assert(Regime.onDriver(cached))
    cached.cache()
    try Seq(cached, base.select(col("a"), col("f")), cached.select(col("a"))).foreach { df =>
      assert(Regime.onDriver(df) == optimizerRows(df).isDefined)
      assert(Regime.driverRows(df).map(_.toSeq) == optimizerRows(df))
    } finally cached.unpersist(blocking = true)
    assert(Regime.onDriver(cached))
  }
}
