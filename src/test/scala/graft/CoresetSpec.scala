package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Coreset

/** Greedy k-center selection semantics. */
class CoresetSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def localGreedy(vecs: Array[(Long, Array[Float])], k: Int)
      : Seq[(Int, Long, Double)] = {
    def d(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble - b(i).toDouble; acc += x * x; i += 1
      }
      math.sqrt(acc)
    }
    val sorted = vecs.sortBy(_._1)
    var sel = Vector((1, sorted.head._1, 0.0))
    val mind = scala.collection.mutable.Map(
      sorted.map { case (id, v) => id -> d(v, sorted.head._2) }: _*)
    val byId = vecs.toMap
    for (step <- 2 to k) {
      val (bid, bd) = sorted.map { case (id, _) => (id, mind(id)) }
        .maxBy { case (id, dd) => (dd, -id) }
      sel :+= ((step, bid, bd))
      val bv = byId(bid)
      sorted.foreach { case (id, v) => mind(id) = math.min(mind(id), d(v, bv)) }
    }
    sel
  }

  test("matches the local greedy trajectory and is repartition-invariant") {
    val df = graft.sources.RandomDataset.vectors(spark, n = 200, dim = 6, seed = 31)
    val vecs = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expect = localGreedy(vecs, k = 10)

    for (parts <- Seq(1, 7)) {
      val got = Coreset.kCenterGreedy(df.repartition(parts), k = 10)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === expect, s"parts=$parts")
    }
    // coverage radii are non-increasing from step 2 on
    val radii = expect.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
    // selected ids are distinct
    assert(expect.map(_._2).distinct.size === expect.size)
  }

  test("r14 driver-local fast path ≡ distributed passes (same trajectory)") {
    val df = graft.sources.RandomDataset.vectors(spark, n = 300, dim = 6, seed = 47)
    val local = Coreset.kCenterGreedy(df, k = 15).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val dist = RouteCheck.distributed(Coreset.kCenterGreedy(df, k = 15)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq)
    assert(local === dist)
  }

  test("kCenterBatch(b=1) IS the greedy trajectory; b>1 stays sound") {
    val df = graft.sources.RandomDataset.vectors(spark, n = 200, dim = 6, seed = 31)
    val greedy = Coreset.kCenterGreedy(df, k = 12).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val b1 = Coreset.kCenterBatch(df, k = 12, batch = 1).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(b1 === greedy)

    for (b <- Seq(3, 4, 12)) {
      val got = Coreset.kCenterBatch(df, k = 12, batch = b)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got.length == 12, s"b=$b")
      assert(got.map(_._2).distinct.size == 12, s"b=$b")
      // radii non-increasing across the WHOLE trajectory: a pass's
      // survivors all had mind <= that pass's last pick, and updates
      // only shrink mind
      val radii = got.drop(1).map(_._3)
      assert(radii.zip(radii.tail).forall { case (a, r) => r <= a }, s"b=$b")
      // the first batch-1 pick (step 2) is identical by construction
      assert(got(1) === greedy(1), s"b=$b")
      // batching costs bounded coverage slack on this data: final
      // coverage radius within 2x of exact greedy's (deterministic
      // seeded data — this is a pinned measurement, not a flaky bound)
      assert(got.last._3 <= 2.0 * greedy.last._3, s"b=$b")
    }
  }

  test("kCenterBatch early-stops on full coverage like greedy") {
    val pts = Seq(Seq(0f, 0f), Seq(10f, 0f), Seq(0f, 10f), Seq(10f, 10f))
    val df = (0 until 40).map(i => (i.toLong, pts(i % 4))).toDF("id", "vector")
    val got = Coreset.kCenterBatch(df, k = 10, batch = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 4, s"expected early stop at 4, got ${got.length}")
    assert(got.map(_._2).distinct.length == 4)
    assert(got.forall { case (step, _, r) => step == 1 || r > 0 })
  }

  test("full coverage stops selection early; ids stay distinct") {
    // 3 distinct points duplicated many times: after 3 picks the max-min
    // distance is 0 and selection must stop rather than re-pick ids
    val pts = Seq(Seq(0f, 0f), Seq(10f, 0f), Seq(0f, 10f))
    val df = (0 until 30).map(i => (i.toLong, pts(i % 3))).toDF("id", "vector")
    val got = Coreset.kCenterGreedy(df, k = 8).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 3, s"expected early stop at 3, got ${got.length}")
    assert(got.map(_._2).distinct.length == 3)
    assert(got.forall { case (step, _, r) => step == 1 || r > 0 })
  }
}
