package graft

import org.apache.spark.JobCount.jobsOf
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BruteForceIndexer, KnnJoin, LinearSearcher}

/** Mirrors the reference's brute-force-oracle pattern
  * (tests/test_composite_algorithm.py:29-58): unit-square corners, known
  * nearest-neighbor order. */
class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def corners = Seq(
    (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
    (2L, Array(0f, 1f)), (3L, Array(1f, 1f))).toDF("id", "vector")

  test("exact kNN matches hand-computed order (L2)") {
    val queries = Seq(
      (0L, Array(0.1f, 0.1f)), (1L, Array(0.9f, 0.9f))).toDF("qid", "vector")
    val res = KnnJoin.knnJoin(queries, corners, k = 4, metric = "l2")
      .orderBy("qid", "rank").select("qid", "id").as[(Long, Long)].collect()
    // q0 near origin: 0, then 1/2 tie broken by id, then 3
    assert(res.take(4).map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    // q1 near (1,1): 3, then 1/2 tie by id, then 0
    assert(res.drop(4).map(_._2).toSeq == Seq(3L, 1L, 2L, 0L))
  }

  test("pad-to-k fills with (-1, inf) — modular.py:357-360 semantics") {
    val queries = Seq((7L, Array(0f, 0f))).toDF("qid", "vector")
    val nn = KnnJoin.knnJoinAgg(queries, corners, k = 6, padToK = true)
      .select("nn").as[Seq[(Long, Double)]].head()
    assert(nn.size == 6)
    assert(nn(4) == (-1L, Double.PositiveInfinity))
    assert(nn(5) == (-1L, Double.PositiveInfinity))
  }

  test("cosine distance ranks by angle not magnitude") {
    val base = Seq(
      (0L, Array(10f, 0f)), (1L, Array(0f, 10f)), (2L, Array(5f, 5f)))
      .toDF("id", "vector")
    val queries = Seq((0L, Array(1f, 0.1f))).toDF("qid", "vector")
    val top = KnnJoin.knnJoin(queries, base, 1, "cosine")
      .select("id").as[Long].head()
    assert(top == 0L)
  }

  test("self-retrieval: every base vector is its own nearest neighbor") {
    val (train, _, _) = graft.sources.RandomDataset.dataset(
      spark, 64, 0, 8, 1, seed = 7)
    val q = train.select(col("id").as("qid"), col("vector"))
    val top1 = KnnJoin.knnJoin(q, train, 1, "l2")
    assert(top1.filter(col("qid") === col("id")).count() == 64)
    assert(top1.agg(max("dist")).as[Double].head() == 0.0)
  }

  // The driver route of knnJoin (a LocalRelation query batch scanned
  // against the base's memoized table) and of LinearSearcher must equal
  // the distributed plan bit for bit (RouteCheck).
  private def bits(df: DataFrame) = RouteCheck.bits(df, "dist")
  private def bothRoutes(local: Boolean)(search: => DataFrame) =
    RouteCheck.bothRoutes(local, "dist")(search)

  private val rnd = new scala.util.Random(5)
  private def vec(dim: Int) = Array.fill(dim)(rnd.nextInt(7).toFloat - 3f)

  // 40 rows of small-integer 6-d vectors; ids 40-49 duplicate rows 0-9,
  // so equal distances tie and break by id
  private lazy val base = {
    val rows = (0L until 40L).map(i => i -> vec(6))
    (rows ++ rows.take(10).map { case (i, v) => (i + 40, v) }).toDF("id", "vector")
  }
  private lazy val queries =
    Seq(3L, 11L, 7L, 20L, 5L).map(q => q -> vec(6)).toDF("qid", "vector")

  test("driver route ≡ distributed plan: metrics, ties, k > n, empty base") {
    for (metric <- Seq("l2", "ip", "cosine", "l2_gram"); k <- Seq(4, 60)) {
      val rows = bothRoutes(local = true)(KnnJoin.knnJoin(queries, base, k, metric))
      assert(rows.size == 5 * math.min(k, 50), s"$metric k=$k")
    }
    // the duplicated rows tie: both ids appear, the lower first
    val ranked = bits(KnnJoin.knnJoin(queries, base, 50, "l2"))
    val q3 = ranked.filter(_._1 == 3L).map(_._3)
    assert(q3.indexOf(2L) < q3.indexOf(42L))
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vector")
    assert(bothRoutes(local = true)(KnnJoin.knnJoin(queries, empty, 4)).isEmpty)
  }

  test("driver route keeps a nullable qid's schema") {
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = true),
      StructField("vector", ArrayType(FloatType, containsNull = false))))
    val q = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(2L, vec(6))), schema)
    bothRoutes(local = true)(KnnJoin.knnJoin(q, base, 3, "cosine"))
  }

  test("repeated qids, null vectors and non-float vectors keep the distributed plan") {
    // the distributed plan merges a repeated qid into one top-k
    val repeated = Seq(1L -> vec(6), 1L -> vec(6), 2L -> vec(6)).toDF("qid", "vector")
    assert(bothRoutes(local = false)(KnnJoin.knnJoin(repeated, base, 3)).size == 6)
    // a null query vector: the distributed plan skips it
    val vSchema = StructType(Seq(StructField("qid", LongType),
      StructField("vector", ArrayType(FloatType))))
    val nullQ = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(2L, null)), vSchema)
    assert(bothRoutes(local = false)(KnnJoin.knnJoin(nullQ, base, 3)).map(_._1).toSet == Set(1L))
    // a null base vector or id
    val nullBase = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(2L, null), Row(3L, vec(6))),
      StructType(Seq(StructField("id", LongType), StructField("vector", ArrayType(FloatType)))))
    assert(bothRoutes(local = false)(KnnJoin.knnJoin(queries, nullBase, 3)).size == 10)
    val nullId = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(null, vec(6))),
      StructType(Seq(StructField("id", LongType), StructField("vector", ArrayType(FloatType)))))
    assert(bothRoutes(local = false)(KnnJoin.knnJoin(queries, nullId, 3)).size == 5)
    // array<double> vectors: no driver kernel reads them
    val doubles = Seq(1L -> Array(1.0, 2.0)).toDF("qid", "vector")
    val dbase = Seq(1L -> Array(1.0, 2.0), 2L -> Array(0.0, 1.0)).toDF("id", "vector")
    bothRoutes(local = false)(KnnJoin.knnJoin(doubles, dbase, 2))
  }

  test("LinearSearcher: same routes, same answers") {
    val art = BruteForceIndexer().build(base)
    for (metric <- Seq("l2", "cosine", "l2_gram"))
      bothRoutes(local = true)(LinearSearcher(metric).search(art, queries, 5))
    val repeated = Seq(1L -> vec(6), 1L -> vec(6), 2L -> vec(6)).toDF("qid", "vector")
    bothRoutes(local = false)(LinearSearcher("l2").search(art, repeated, 3))
    val nullQ = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(2L, null)),
      StructType(Seq(StructField("qid", LongType), StructField("vector", ArrayType(FloatType)))))
    bothRoutes(local = false)(LinearSearcher("l2").search(art, nullQ, 3))
    val nullBase = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, vec(6)), Row(2L, null)),
      StructType(Seq(StructField("id", LongType), StructField("vector", ArrayType(FloatType)))))
    bothRoutes(local = false)(
      LinearSearcher("l2").search(BruteForceIndexer().build(nullBase), queries, 3))
    val doubles = Seq(1L -> Array(1.0, 2.0)).toDF("qid", "vector")
    val dbase = Seq(1L -> Array(1.0, 2.0), 2L -> Array(0.0, 1.0)).toDF("id", "vector")
    bothRoutes(local = false)(
      LinearSearcher("l2").search(BruteForceIndexer().build(dbase), doubles, 2))
  }

  test("a repeated 4-query LocalRelation batch against one base runs no Spark job") {
    val b = graft.sources.RandomDataset.vectors(spark, n = 500, dim = 16, seed = 3)
    def batch = (0L until 4L).map(q => q -> Array.fill(16)(rnd.nextFloat())).toDF("qid", "vector")
    val sc = spark.sparkContext
    jobsOf(sc)(KnnJoin.knnJoin(batch, b, 10, "cosine").collect()) // collects the table
    val (jobs, rows) = jobsOf(sc)(KnnJoin.knnJoin(batch, b, 10, "cosine").collect())
    assert(rows.length == 40)
    assert(jobs == 0, s"$jobs Spark jobs for a warm 4-query knnJoin")
  }
}
