package graft

import scala.util.Try

import org.apache.spark.JobCount.{actionsOf, jobsOf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, BruteForceIndexer, Hybrid, KnnJoin, Mining, Regime}
import graft.sources.{ArtifactStore, RandomDataset}

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

  // The driver route of rrfFuseWeighted (every arm's rows on the driver)
  // must equal the distributed fusion bit for bit (RouteCheck).
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

  test("driver fusion ≡ distributed fusion: non-binary weights, int ids, a double rank, ties") {
    val lex = arm(5, Seq(0L, 1L, 2L), 12)
    val den = arm(6, Seq(0L, 1L, 2L, 4L), 12)
    for ((wl, wd) <- Seq((0.3, 0.7), (1.0 / 3, 2.0 / 3)))
      bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(lex -> wl, den -> wd), 10))
    // int-typed qid and id, in a bare LocalRelation rather than a toDF
    // projection
    val intArm = spark.createDataFrame(java.util.Arrays.asList(
      lex.collect().map(r => Row(r.getLong(0).toInt, r.getLong(1).toInt, r.getInt(2))): _*),
      StructType(Seq(
        StructField("qid", IntegerType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("rank", IntegerType, nullable = false))))
    bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(intArm -> 0.3, den -> 0.7), 10))
    // a double rank: fractional ranks, and two docs tied at one rank
    val dbl = Seq((0L, 3L, 1.0), (0L, 4L, 1.0), (0L, 5L, 2.5), (1L, 3L, 0.5), (4L, 9L, 7.0))
      .toDF("qid", "id", "rank")
    bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(dbl -> 1.0 / 3, den -> 0.7), 10))
    // an rrf half-way at the 7th decimal (0.0001245): HALF_UP on the
    // double's decimal form gives 0.000125, rounding x·1e6 in binary 0.000124
    val one = Seq((0L, 1L, 1)).toDF("qid", "id", "rank")
    assert(bothRoutes(local = true)(Hybrid.rrfFuseWeighted(Seq(one -> 1.245e-4), 5, k0 = 0))
      .map(_._4) == Seq(java.lang.Double.doubleToRawLongBits(0.000125)))
    // the fields found by name: another order and an extra column
    val reordered = den.select(col("rank"), lit("x").as("src"), col("id"), col("qid"))
    assert(bothRoutes(local = true)(Hybrid.rrfFuse(Seq(lex, reordered), 10)) ==
      bits(Hybrid.rrfFuse(Seq(lex, den), 10)))
  }

  test("k0 + rank ≤ 0, a NaN rank or an infinite contribution keeps the distributed plan") {
    for (ansi <- Seq("true", "false")) SparkFixture.withConf("spark.sql.ansi.enabled", ansi) {
      val a = Seq((0L, 1L, 1), (0L, 2L, 2), (1L, 1L, 1)).toDF("qid", "id", "rank")
      val nan = Seq((0L, 1L, Double.NaN), (0L, 3L, 1.0)).toDF("qid", "id", "rank")
      val fusions = Seq[() => DataFrame](
        () => Hybrid.rrfFuse(Seq(a), 5, k0 = -1), // k0 + rank = 0 at rank 1
        () => Hybrid.rrfFuse(Seq(a), 5, k0 = -5), // below 0
        () => Hybrid.rrfFuse(Seq(nan, a), 5),
        () => Hybrid.rrfFuseWeighted(Seq(a -> Double.PositiveInfinity, a -> 1.0), 5))
      for (fuse <- fusions) {
        // under ANSI a zero divisor fails once the plan is optimized or
        // run: the same error on both routes
        val got = fuse()
        assert(!Try(Regime.onDriver(got)).getOrElse(false), s"ansi $ansi")
        val g = Try((got.schema, bits(got)))
        val w = Try(RouteCheck.distributed { val d = fuse(); (d.schema, bits(d)) })
        assert(g.toOption == w.toOption && g.failed.map(_.getClass).toOption ==
          w.failed.map(_.getClass).toOption, s"ansi $ansi: $g vs $w")
      }
    }
  }

  test("warm hybrid lookup: no Spark job, no SQL execution, no optimizer run") {
    val table = "hybrid_warm"
    val tmp = java.nio.file.Files.createTempDirectory("hybrid-warm")
    val (n, dim) = (200, 8)
    try {
      val docs = (0L until n.toLong).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13} common"))
        .toDF("id", "text")
      Bm25.buildIndex(docs, "id", "text", table, buckets = 4)
      val dir = tmp.resolve("dense").toString
      ArtifactStore.save(BruteForceIndexer().build(RandomDataset.vectors(spark, n, dim, seed = 5)),
        dir, "cosine", dim, n, "fp", "")
      val base = ArtifactStore.load(spark, dir)._1.data
      val vecs = base.filter(col("id") < 4).collect()
      // the client's batch: bare LocalRelations, as a caller builds them
      val text = spark.createDataFrame(java.util.Arrays.asList(
        (0 until 4).map(i => Row(i.toLong, s"w$i w${i + 3} common")): _*),
        StructType(Seq(StructField("qid", LongType, nullable = false),
          StructField("qtext", StringType, nullable = false))))
      val queries = spark.createDataFrame(java.util.Arrays.asList(
        vecs.map(r => Row(r.getAs[Long]("id"), r.getAs[Seq[Float]]("vector"))): _*),
        StructType(Seq(StructField("qid", LongType, nullable = false),
          StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false))))
      def ranked(df: DataFrame, q: String, id: String) =
        df.select(q, "rank", id).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // the first lookup loads the BM25 snapshot and the base's table
      val lex = ranked(Bm25.searchFromIndexWand(spark, table, text, "qid", "qtext", 20),
        "query_id", "doc_id")
      val dense = ranked(KnnJoin.knnJoin(queries, base, 20, "cosine"), "qid", "id")
      assert(lex.nonEmpty && dense.nonEmpty)
      val (jobs, (actions, (optimizerRuns, fused))) = jobsOf(spark.sparkContext)(
        actionsOf(spark.sparkContext)(OptimizerRuns.of {
          Bm25.searchFromIndexWand(spark, table, text, "qid", "qtext", 20)
          KnnJoin.knnJoin(queries, base, 20, "cosine")
          Hybrid.rrfFuse(Seq(lex.toDF("qid", "rank", "id"), dense.toDF("qid", "rank", "id")), 10)
        }))
      assert((jobs, actions, optimizerRuns) == ((0, Nil, 0L)),
        s"$jobs jobs, SQL executions ${actions.mkString("[", ", ", "]")}, " +
          s"$optimizerRuns optimizer runs for a warm lookup")
      assert(fused.collect().length == 40)
    } finally {
      Seq("_postings", "_df", "_stats").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $table$sfx"))
      org.apache.spark.network.util.JavaUtils.deleteRecursively(tmp.toFile)
    }
  }
}
