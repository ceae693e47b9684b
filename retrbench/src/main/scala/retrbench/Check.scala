package retrbench

import scala.collection.mutable

/** Brute-force nearest neighbours, written independently of the engine,
  * so ground truth never comes from the code it judges. */
object Exact {

  /** a row-major float table: row r is vecs(r·dim until (r+1)·dim) */
  final class Table(val ids: Array[Long], val vecs: Array[Float], val dim: Int) {
    def n: Int = ids.length
  }

  object Table {
    def apply(rows: Seq[(Long, Array[Float])]): Table = {
      val dim = rows.head._2.length
      val vecs = new Array[Float](rows.length * dim)
      rows.iterator.zipWithIndex.foreach { case ((_, v), r) =>
        System.arraycopy(v, 0, vecs, r * dim, dim)
      }
      new Table(rows.map(_._1).toArray, vecs, dim)
    }
  }

  /** the k nearest live rows of each query, ordered by (distance, id);
    * squared L2 or cosine distance accumulated in double */
  def topK(t: Table, live: Long => Boolean, queries: Array[Array[Float]],
      k: Int, cosine: Boolean = false): Array[Array[Long]] = {
    val norms =
      if (!cosine) null
      else Array.tabulate(t.n)(r => math.sqrt(dot(t.vecs, r * t.dim, t.vecs, r * t.dim, t.dim)))
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val qn = if (cosine) math.sqrt(dot(q, 0, q, 0, t.dim)) else 0.0
      val bestD = Array.fill(k)(Double.PositiveInfinity)
      val bestI = Array.fill(k)(Long.MaxValue)
      var r = 0
      while (r < t.n) {
        val id = t.ids(r)
        if (live(id)) {
          val off = r * t.dim
          val d =
            if (cosine) {
              val den = qn * norms(r)
              if (den == 0.0) 1.0 else 1.0 - dot(q, 0, t.vecs, off, t.dim) / den
            } else {
              var acc = 0.0
              var j = 0
              while (j < t.dim) {
                val x = q(j).toDouble - t.vecs(off + j)
                acc += x * x
                j += 1
              }
              acc
            }
          if (d < bestD(k - 1) || (d == bestD(k - 1) && id < bestI(k - 1))) {
            var p = k - 1
            while (p > 0 && (d < bestD(p - 1) || (d == bestD(p - 1) && id < bestI(p - 1)))) {
              bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
            }
            bestD(p) = d; bestI(p) = id
          }
        }
        r += 1
      }
      out(qi) = bestI.filter(_ != Long.MaxValue)
    }
    out
  }

  private def dot(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < dim) { acc += a(ao + j).toDouble * b(bo + j); j += 1 }
    acc
  }

  /** share of `truth` found in `got` */
  def recall(got: Array[Long], truth: Array[Long]): Double =
    if (truth.isEmpty) 1.0
    else { val g = got.toSet; truth.count(g.contains).toDouble / truth.length }
}

/** Counts checked operations and the ones whose output was wrong. */
final class Checker(quiet: Boolean = false) {
  var attempted = 0L
  var failed = 0L
  val reasons = mutable.LinkedHashMap[String, Long]()

  /** one checked operation; returns whether it passed */
  def record(op: String, problems: Seq[String]): Boolean = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      problems.distinct.foreach { p =>
        val key = s"$op: $p"
        if (!quiet && !reasons.contains(key)) System.err.println(s"[retrbench] check failed: $key")
        reasons(key) = reasons.getOrElse(key, 0L) + 1
      }
    }
    problems.isEmpty
  }

  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

object Check {

  /** ranked ids per query from collected (qid, rank, id) rows */
  def byQuery(rows: Seq[(Long, Int, Long)]): Map[Long, Array[Long]] =
    rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toArray }

  /** Problems with one top-k answer: every query answered with exactly k
    * rows (1 to k where the searcher's contract allows short answers), ids
    * unique within a query, every id live in the current index, and no
    * deleted id returned. */
  def topK(result: Map[Long, Array[Long]], qids: Seq[Long], k: Int,
      live: Long => Boolean, deleted: Long => Boolean = _ => false,
      shortOk: Boolean = false): Seq[String] = {
    val out = mutable.LinkedHashSet[String]()
    if (result.keySet.exists(q => !qids.contains(q))) out += "answer for a query not asked"
    qids.foreach { q =>
      val ids = result.getOrElse(q, Array.empty[Long])
      if (ids.length > k || ids.isEmpty || (!shortOk && ids.length != k))
        out += s"query answered with ${ids.length} rows, expected $k"
      if (ids.distinct.length != ids.length) out += "duplicate id within a query"
      if (ids.exists(deleted)) out += "deleted id returned"
      if (ids.exists(i => !deleted(i) && !live(i))) out += "id not live in the index"
    }
    out.toSeq
  }

  /** recall of a batch against its floor */
  def recallFloor(recall: Double, floor: Double): Seq[String] =
    if (recall >= floor) Nil else Seq(f"recall $recall%.4f below floor $floor%.4f")
}

/** The checker's own test: a clean answer passes, and each kind of
  * corrupted answer (duplicate id, deleted id, short row, recall under
  * the floor) is counted as exactly one failed operation. Runs at the
  * start of every benchmark run; a checker that lets a corruption through
  * stops the run before anything is measured. */
object CheckerSelfTest {
  def run(): Unit = {
    val k = 3
    val deletedIds = Set(7L)
    val live = (i: Long) => i >= 0 && i < 10 && !deletedIds.contains(i)
    val qids = Seq(1L, 2L)
    def verdict(ans: Map[Long, Array[Long]], recall: Double = 1.0): (Long, Long) = {
      val c = new Checker(quiet = true)
      c.record("selftest",
        Check.topK(ans, qids, k, live, deletedIds.contains) ++ Check.recallFloor(recall, 0.5))
      (c.attempted, c.failed)
    }
    val clean = Map(1L -> Array(1L, 2L, 3L), 2L -> Array(4L, 5L, 6L))
    val cases = Seq(
      "clean" -> (verdict(clean), (1L, 0L)),
      "duplicate id" -> (verdict(clean + (1L -> Array(1L, 1L, 3L))), (1L, 1L)),
      "deleted id" -> (verdict(clean + (1L -> Array(1L, 7L, 3L))), (1L, 1L)),
      "short row" -> (verdict(clean + (2L -> Array(4L, 5L))), (1L, 1L)),
      "missing query" -> (verdict(clean - 2L), (1L, 1L)),
      "dead id" -> (verdict(clean + (2L -> Array(4L, 5L, 42L))), (1L, 1L)),
      "low recall" -> (verdict(clean, recall = 0.25), (1L, 1L)))
    val wrong = cases.collect { case (name, (got, want)) if got != want =>
      s"$name: (attempted, failed) = $got, expected $want" }
    if (wrong.nonEmpty)
      throw new IllegalStateException("checker self-test failed: " + wrong.mkString("; "))
  }
}
