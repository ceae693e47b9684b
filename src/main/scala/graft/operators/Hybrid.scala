package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al. SIGIR
  * 2009) of independently ranked retrieval arms — the standard way
  * production search stacks combine lexical BM25 with dense-vector kNN
  * for RAG / training-data retrieval.
  *
  * `rrf(d) = Σ_arms 1 / (k0 + rank_arm(d))` over the arms that retrieved
  * `d` at all; documents surfacing in several arms accumulate, documents
  * deep in one arm still contribute. `k0 = 60` is the paper's constant.
  *
  * Scale shape: each arm is already a per-query top-k relation (≤
  * n_queries·k rows — the arms do the 100 TB heavy lifting with their own
  * operators: [[Bm25]] never reshuffles the corpus, [[KnnJoin]] scans the
  * base once), so distributed fusion is one small shuffle over
  * O(n_queries · k · n_arms) rows, INDEPENDENT of corpus size, followed
  * by the bounded-heap top-k. Adding an arm adds a union branch, not a
  * corpus pass. When every arm's rows are already on the driver (its
  * analyzed plan folds to a LocalRelation — an exact plan test,
  * [[Regime.onDriver]]) the same contributions, sum, top-k and final
  * rounding run in Scala instead ([[fuseOnDriver]]): no optimizer run,
  * no Spark job, one result relation with the same rows, ranks, score
  * bits and schema.
  *
  * Determinism: contributions are fixed-point longs
  * (`round(1e12 / (k0+rank))`) so the fused score is an associative
  * integer sum — identical under any partitioning / engine, same device
  * as [[Bm25]]'s fixed-point scoring. Final order is (score desc, id asc).
  */
object Hybrid {

  val ScoreScale = 1e12

  /** Fuse ranked arms, each a relation `(qid: long-castable,
    * id: long-castable, rank: 1-based int)`, into the per-query RRF top-k:
    * `(qid, rank, id, rrf)` with `rrf` the fused score rounded to 6
    * decimals (ranked on the raw fixed-point sum, not the rounded alias).
    */
  def rrfFuse(arms: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame =
    rrfFuseWeighted(arms.map(_ -> 1.0), k, k0)

  /** Weighted RRF: `rrf(d) = Σ_arms w_a / (k0 + rank_a(d))` — the common
    * production knob when one arm is known stronger (e.g. 0.75 lexical /
    * 0.25 dense for keyword-heavy corpora). The weight folds into the
    * fixed-point contribution BEFORE rounding (`round(w·S/(k0+rank))`),
    * so the fused score stays an associative integer sum — identical
    * under any partitioning, and w_a = 1 reproduces [[rrfFuse]]'s
    * contributions bit-exactly. Prefer binary-exact weights (0.5, 0.75,
    * 0.25…) when an external replay must reproduce `w·S` exactly.
    * Same scale shape as unweighted: fusion shuffles
    * O(n_queries·k·n_arms) rows, corpus-size-independent. */
  def rrfFuseWeighted(arms: Seq[(DataFrame, Double)], k: Int,
      k0: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    require(arms.forall(_._2 >= 0.0), "rrf arm weights must be >= 0")
    fuseOnDriver(arms, k, k0).getOrElse {
      val contribs = arms.map { case (a, w) =>
        a.select(
          col("qid").cast("long").as("qid"),
          col("id").cast("long").as("id"),
          round(lit(w * ScoreScale) / (lit(k0.toDouble) + col("rank").cast("double")), 0)
            .cast("long").as("__c"))
      }
      // (qid, rank, id, dist) with dist = -Σ contributions: (dist asc,
      // id asc) == (score desc, id asc); |f| ≤ n_arms·1.7e10 is double-exact
      val fused = contribs.reduce(_ union _)
        .groupBy(col("qid"), col("id"))
        .agg(sum(col("__c")).as("__f"))
      KnnJoin.topKExploded(
        fused.select(col("qid"), col("id"), negate(col("__f")).cast("double").as("__d")),
        col("id"), col("__d"), k)
        .select(col("qid"), col("rank"), col("id"),
          round(negate(col("dist")) / lit(ScoreScale), 6).as("rrf"))
    }
  }

  /** Spark's `round(x, scale)` of a double: HALF_UP on the double's
    * shortest decimal form, NaN and ±∞ unchanged */
  private def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** the distributed plan's output: qid nullable iff some arm's is (the
    * union's nullability), `rrf` nullable as Spark's division is */
  private def fusedSchema(qidNullable: Boolean): StructType = StructType(Seq(
    StructField("qid", LongType, qidNullable),
    StructField("rank", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("rrf", DoubleType, nullable = true)))

  /** `arm`'s rows on the driver ([[Regime.driverRows]]) with the indices
    * of its `qid`, `id` and `rank` fields, when each name is one field of
    * a type read here as the distributed plan casts it: an integral qid
    * and id, a numeric rank */
  private def armRows(arm: DataFrame): Option[(Array[Row], Int, Int, Int)] = {
    val fields = arm.schema.fields
    def at(name: String, types: Set[DataType]) =
      fields.indices.filter(fields(_).name == name) match {
        case Seq(i) if types(fields(i).dataType) => Some(i)
        case _ => None
      }
    val integral = Set[DataType](LongType, IntegerType, ShortType, ByteType)
    for {
      qi <- at("qid", integral)
      ii <- at("id", integral)
      ri <- at("rank", integral + FloatType + DoubleType)
      rows <- Regime.driverRows(arm)
    } yield (rows, qi, ii, ri)
  }

  /** The fused `(qid, rank, id, rrf)` relation computed on the driver, or
    * None to keep the distributed plan. Applies when the LocalScan fast
    * path is enabled, k ≥ 1 and every arm's rows are on the driver
    * ([[armRows]]: no optimizer run, no Spark job, no physical plan). The
    * contribution is `round(w·S/(k0+rank))` with Spark's HALF_UP rounding
    * of the double, then its cast to long. The contributions are summed
    * per (qid, id) as exact longs and each qid keeps the k best of
    * (-Σ as double, id) in the [[BoundedTopK]] order the distributed
    * [[TopKByDist]] uses; `rrf` is `round(-dist/S, 6)`, and the rows land
    * in one pinned relation ([[Shim.localRelationDf]]). A field of another
    * type, a null qid, id or rank, k0 + rank ≤ 0, a contribution that is
    * NaN, ±∞ or out of a long's range, or a sum that overflows a long
    * keeps the distributed plan, whose casts, division, `sum` and
    * grouping define those cases (ANSI or not). */
  private def fuseOnDriver(arms: Seq[(DataFrame, Double)], k: Int, k0: Int)
      : Option[DataFrame] = {
    if (!Regime.enabled || k < 1) return None
    val read = arms.map { case (a, w) => armRows(a).map((_, w * ScoreScale)) }
    if (read.exists(_.isEmpty)) return None
    // qid → id → Σ contributions
    val sums = mutable.LongMap.empty[mutable.LongMap[Long]]
    val armIt = read.iterator.flatten
    while (armIt.hasNext) {
      val ((rows, qi, ii, ri), scaled) = armIt.next()
      val it = rows.iterator
      while (it.hasNext) {
        val r = it.next()
        if (r.isNullAt(qi) || r.isNullAt(ii) || r.isNullAt(ri)) return None
        val denom = k0.toDouble + r.getAs[Number](ri).doubleValue
        if (!(denom > 0)) return None
        val c = roundHalfUp(scaled / denom, 0)
        if (!(c < Long.MaxValue.toDouble)) return None
        val perQ = sums.getOrElseUpdate(r.getAs[Number](qi).longValue, mutable.LongMap.empty[Long])
        val id = r.getAs[Number](ii).longValue
        perQ(id) =
          try Math.addExact(perQ.getOrElse(id, 0L), c.toLong)
          catch { case _: ArithmeticException => return None }
      }
    }
    if (sums.valuesIterator.exists(_.valuesIterator.contains(Long.MinValue)))
      return None // -f overflows
    val out = mutable.ArrayBuffer.empty[InternalRow]
    for (q <- sums.keys.toArray.sorted) {
      val h = new BoundedTopK(k)
      sums(q).foreach { case (id, f) => h.insert(id, (-f).toDouble) }
      // the heap's root is its worst pair: drain back to front
      val ranked = new Array[InternalRow](h.size)
      var pos = h.size - 1
      while (pos >= 0) {
        ranked(pos) = InternalRow(q, pos + 1, h.ids(0), roundHalfUp(-h.dists(0) / ScoreScale, 6))
        h.popRoot()
        pos -= 1
      }
      out ++= ranked
    }
    Some(Shim.localRelationDf(arms.head._1.sparkSession,
      fusedSchema(arms.exists(_._1.schema("qid").nullable)), out.toSeq))
  }
}
