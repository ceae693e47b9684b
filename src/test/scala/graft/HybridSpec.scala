package graft

import org.apache.spark.JobCount.{actionsOf, jobsOf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Hybrid, KnnJoin, Mining}

/** Hybrid RRF fusion and hard-negative mining semantics. */
class HybridSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("rrfFuse matches the closed-form RRF on a hand example") {
    // q0: doc 1 in both arms (ranks 1,2), doc 2 lexical-only rank 2,
    // doc 3 dense-only rank 1, doc 4 dense-only rank 3
    val lex = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("qid", "id", "rank")
    val den = Seq((0L, 3L, 1), (0L, 1L, 2), (0L, 4L, 3)).toDF("qid", "id", "rank")
    val got = Hybrid.rrfFuse(Seq(lex, den), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getInt(1), r.getDouble(3)))
    def c(rank: Int): Long = math.round(1e12 / (60.0 + rank))
    val expect = Seq(
      (1L, 1, (c(1) + c(2)) / 1e12), // in both arms: must fuse to the top
      (3L, 2, c(1) / 1e12),
      (2L, 3, c(2) / 1e12),
      (4L, 4, c(3) / 1e12))
      .map { case (id, r, s) =>
        (id, r, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    assert(got.toSeq === expect)
  }

  test("rrf ties between single-arm docs at the same rank break by id") {
    val a = Seq((7L, 30L, 1)).toDF("qid", "id", "rank")
    val b = Seq((7L, 10L, 1)).toDF("qid", "id", "rank")
    val got = Hybrid.rrfFuse(Seq(a, b), k = 2).orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, 10L), (2, 30L)))
  }

  test("single-arm fusion preserves the arm's ranking") {
    val vecs = graft.sources.RandomDataset.vectors(spark, n = 80, dim = 8, seed = 11)
    val q = vecs.filter($"id" % 20 === 0).select($"id".as("qid"), $"vector")
    val arm = KnnJoin.knnJoin(q, vecs, k = 5, metric = "l2")
      .select($"qid", $"id", $"rank")
    val fused = Hybrid.rrfFuse(Seq(arm), k = 5)
      .select($"qid", $"id", $"rank")
    assert(fused.except(arm).isEmpty && arm.except(fused).isEmpty)
  }

  test("rrfFuseWeighted: unit weights reproduce rrfFuse; weights steer the fusion") {
    val lex = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("qid", "id", "rank")
    val den = Seq((0L, 3L, 1), (0L, 1L, 2), (0L, 4L, 3)).toDF("qid", "id", "rank")
    // w = 1 on every arm → bit-identical to unweighted fusion
    val plain = Hybrid.rrfFuse(Seq(lex, den), k = 10)
    val unit = Hybrid.rrfFuseWeighted(Seq(lex -> 1.0, den -> 1.0), k = 10)
    assert(unit.except(plain).isEmpty && plain.except(unit).isEmpty)
    // closed form with (0.75, 0.25): contributions round(w·S/(60+rank))
    val got = Hybrid.rrfFuseWeighted(Seq(lex -> 0.75, den -> 0.25), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getInt(1), r.getDouble(3)))
    def c(w: Double, rank: Int): Long = math.round(w * 1e12 / (60.0 + rank))
    val expect = Seq(
      (1L, 1, (c(0.75, 1) + c(0.25, 2)) / 1e12),
      (2L, 2, c(0.75, 2) / 1e12),
      (3L, 3, c(0.25, 1) / 1e12),
      (4L, 4, c(0.25, 3) / 1e12))
      .map { case (id, r, s) =>
        (id, r, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    // under 0.75 lexical the lex-rank-2 doc overtakes the dense-rank-1 doc
    assert(got.toSeq === expect)
    // zero-weight arm: its exclusive docs contribute 0 and sink below
    // every lexical doc
    val lexOnly = Hybrid.rrfFuseWeighted(Seq(lex -> 1.0, den -> 0.0), k = 10)
      .orderBy("rank").collect().map(r => r.getLong(2))
    assert(lexOnly.take(2).toSeq === Seq(1L, 2L))
  }

  test("hardNegatives: never the anchor's label, and exactly the filtered kNN") {
    val n = 120
    val vecs = graft.sources.RandomDataset.vectors(spark, n, dim = 8, seed = 23)
      .withColumn("label", (col("id") % 4).cast("int"))
    val anchors = vecs.filter($"id" % 30 === 0)
      .select($"id".as("qid"), $"vector", $"label")
    val got = Mining.hardNegatives(anchors, vecs, k = 7, metric = "cosine")

    // no result may share its anchor's label
    val labelled = got.join(vecs.select($"id", $"label".as("blabel")), "id")
      .join(anchors.select($"qid", $"label".as("qlabel")), "qid")
    assert(labelled.filter($"blabel" === $"qlabel").isEmpty)

    // reference: brute-force kNN restricted per anchor to other labels
    val full = KnnJoin.knnJoin(anchors, vecs, k = n, metric = "cosine")
    val expect = full
      .join(vecs.select($"id", $"label".as("blabel")), "id")
      .join(anchors.select($"qid", $"label".as("qlabel")), "qid")
      .filter($"blabel" =!= $"qlabel")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy($"dist", $"id")))
      .filter($"rk" <= 7)
      .select($"qid", $"rk".as("rank"), $"id")
    val gotSel = got.select($"qid", $"rank", $"id")
    assert(gotSel.except(expect).isEmpty && expect.except(gotSel).isEmpty)
  }

  // The driver route of rrfFuseWeighted (every arm's contribution plan a
  // LocalRelation) must equal the distributed fusion bit for bit
  // (RouteCheck).
  private def bits(df: DataFrame) = RouteCheck.bits(df, "rrf")
  private def bothRoutes(local: Boolean)(search: => DataFrame) =
    RouteCheck.bothRoutes(local, "rrf")(search)

  /** a ranked arm: per qid, `n` distinct ids drawn from 0 until 30 */
  private def arm(seed: Int, qids: Seq[Long], n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    qids.flatMap { q =>
      rnd.shuffle((0L until 30L).toList).take(n).zipWithIndex
        .map { case (id, r) => (q, id, r + 1) }
    }.toDF("qid", "id", "rank")
  }

  test("driver fusion ≡ distributed fusion: weights, one-arm qids, ties, k above the candidates") {
    // qid 5 only in the lexical arm, qid 6 only in the dense arm; single-arm
    // docs at equal ranks tie on score and break by id
    val lex = arm(1, Seq(0L, 1L, 2L, 3L, 5L), 8)
    val den = arm(2, Seq(0L, 1L, 2L, 3L, 6L), 8)
    for (k <- Seq(3, 10, 40)) {
      val unit = bothRoutes(local = true)(Hybrid.rrfFuse(Seq(lex, den), k))
      assert(unit.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 5L, 6L))
      bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(lex -> 0.75, den -> 0.25), k))
      bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(lex -> 1.0, den -> 0.0), k))
    }
    // k above every qid's candidate count: all fused candidates come back
    val all = bothRoutes(local = true)(Hybrid.rrfFuse(Seq(lex, den), 40))
    assert(all.count(_._1 == 5L) == 8)
    // equal single-arm contributions tie and break by id
    val a = Seq((7L, 30L, 1), (7L, 12L, 2)).toDF("qid", "id", "rank")
    val b = Seq((7L, 10L, 1), (7L, 20L, 2)).toDF("qid", "id", "rank")
    assert(bothRoutes(local = true)(Hybrid.rrfFuse(Seq(a, b), 4)).map(_._3) ==
      Seq(10L, 30L, 12L, 20L))
    // a nullable qid in one arm makes the fused qid nullable on both routes
    val nullableQid = spark.createDataFrame(java.util.Arrays.asList(lex.collect(): _*),
      StructType(Seq(
        StructField("qid", LongType, nullable = true),
        StructField("id", LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false))))
    val fused = Hybrid.rrfFuse(Seq(nullableQid, den), 10)
    assert(fused.schema("qid").nullable)
    bothRoutes(local = true)(Hybrid.rrfFuse(Seq(nullableQid, den), 10))
  }

  test("driver fusion runs no Spark job; a distributed arm keeps the distributed plan") {
    val lex = arm(3, Seq(0L, 1L, 2L, 3L), 20)
    val den = arm(4, Seq(0L, 1L, 2L, 3L), 20)
    val (jobs, rows) = jobsOf(spark.sparkContext)(Hybrid.rrfFuse(Seq(lex, den), 10).collect())
    assert(rows.length == 40)
    assert(jobs == 0, s"$jobs Spark jobs to fuse two LocalRelation arms")
    // the arms' rows are read off their relations: fusing them plans no
    // physical query and posts no SQL execution
    val (actions, _) = actionsOf(spark.sparkContext)(Hybrid.rrfFuse(Seq(lex, den), 10))
    assert(actions.isEmpty, actions.mkString(", "))
    // one arm behind a shuffle: not a LocalRelation, so the whole fusion
    // stays distributed
    val spread = den.repartition(2)
    val mixed = bothRoutes(local = false)(Hybrid.rrfFuse(Seq(lex, spread), 10))
    assert(mixed == bits(Hybrid.rrfFuse(Seq(lex, den), 10)))
    assert(Hybrid.rrfFuse(Seq(lex, spread), 10).queryExecution.executedPlan.toString
      .contains("partial_top_k_by_dist"))
  }
}
