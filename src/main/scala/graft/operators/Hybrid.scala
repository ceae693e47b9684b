package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * corpus pass. When every arm's contribution plan is a LocalRelation
  * (the arms' rows are already on the driver — an exact plan test) the
  * same sum and top-k run on the driver instead ([[fuseOnDriver]]): no
  * Spark job, the same rows, ranks, score bits and schema.
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
    val contribs = arms.map { case (a, w) =>
      a.select(
        col("qid").cast("long").as("qid"),
        col("id").cast("long").as("id"),
        round(lit(w * ScoreScale) / (lit(k0.toDouble) + col("rank").cast("double")), 0)
          .cast("long").as("__c"))
    }
    // (qid, rank, id, dist) with dist = -Σ contributions: (dist asc,
    // id asc) == (score desc, id asc); |f| ≤ n_arms·1.7e10 is double-exact
    val ranked = fuseOnDriver(contribs, k).getOrElse {
      val fused = contribs.reduce(_ union _)
        .groupBy(col("qid"), col("id"))
        .agg(sum(col("__c")).as("__f"))
      KnnJoin.topKExploded(
        fused.select(col("qid"), col("id"), negate(col("__f")).cast("double").as("__d")),
        col("id"), col("__d"), k)
    }
    ranked.select(col("qid"), col("rank"), col("id"),
      round(negate(col("dist")) / lit(ScoreScale), 6).as("rrf"))
  }

  /** The fusion's (qid, rank, id, dist) relation computed on the driver,
    * or None to keep the distributed plan. Applies when the LocalScan fast
    * path is enabled, k ≥ 1, and every contribution plan (the arm with
    * its `round(w·S/(k0+rank))` projection, which folds onto the arm's
    * LocalRelation) is a LocalRelation, whose rows are read off the
    * relation ([[Regime.driverRows]]): no Spark job, no physical plan.
    * The contributions are summed per (qid, id) as exact longs and
    * each qid keeps the k best of (-Σ as double, id) in the
    * [[BoundedTopK]] order the distributed [[TopKByDist]] uses. A null
    * qid, id or contribution, or a sum that overflows a long, keeps the
    * distributed plan, whose `sum` and grouping define those cases. The
    * qid column is nullable iff some arm's is (the union's nullability). */
  private def fuseOnDriver(contribs: Seq[DataFrame], k: Int): Option[DataFrame] = {
    if (!Regime.enabled || k < 1) return None
    val local = contribs.map(Regime.driverRows)
    if (local.exists(_.isEmpty)) return None
    val rows = local.flatMap(_.get)
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None
    // qid → id → Σ contributions
    val sums = mutable.LongMap.empty[mutable.LongMap[Long]]
    val it = rows.iterator
    while (it.hasNext) {
      val r = it.next()
      val perQ = sums.getOrElseUpdate(r.getLong(0), mutable.LongMap.empty[Long])
      val id = r.getLong(1)
      perQ(id) =
        try Math.addExact(perQ.getOrElse(id, 0L), r.getLong(2))
        catch { case _: ArithmeticException => return None }
    }
    if (sums.valuesIterator.exists(_.valuesIterator.contains(Long.MinValue)))
      return None // -f overflows
    val qids = sums.keys.toArray.sorted
    val heaps = qids.map { q =>
      val h = new BoundedTopK(k)
      sums(q).foreach { case (id, f) => h.insert(id, (-f).toDouble) }
      h
    }
    Some(LocalScan.resultDf(contribs.head.sparkSession, qids, heaps,
      LocalScan.resultSchemaWith(contribs.exists(_.schema("qid").nullable))))
  }
}
