package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}

import graft.functions.VectorFunctions

/** Exact brute-force k-NN join — the engine's canonical operator.
  *
  * Reference semantics: `LinearSearcher.batch_search` (modular.py:336-387)
  * and the FAISS `IndexFlat` variant (exact_search.py:26-78): all-pairs
  * distance between a query set and a base set under a metric, top-k per
  * query ordered ascending by distance, padded to k with (id=-1, dist=inf).
  *
  * Spark-first design (scales to a 1000-executor cluster):
  *  - queries are broadcast (≤ a few thousand rows in every reference
  *    config) so the cross product is a BroadcastNestedLoopJoin — the base
  *    table is scanned once, partition-parallel, with NO shuffle of the
  *    base side;
  *  - the distance is a native codegen'd Catalyst expression
  *    ([[graft.functions.VecL2Dist]] etc.), so the whole probe stage is one
  *    WholeStageCodegen span over the parquet scan;
  *  - top-k per query uses the [[TopKByDist]] bounded-heap aggregate:
  *    map-side partial aggregation reduces each partition to ≤ k rows per
  *    query before the single small shuffle on qid (vs a Window sort which
  *    would shuffle every candidate row). At 100 TB the shuffle volume is
  *    O(n_queries · k · partitions), independent of base row count.
  *
  * Driver route ([[scanOnDriver]]): a query batch that is already on the
  * driver — its plan folds to a LocalRelation ([[Regime.driverRows]]), an
  * exact test that runs no optimizer and no query — is
  * scanned there against the base's memoized collected table
  * ([[LocalScan.vecTable]]) when the base passes the LocalScan caps. The
  * kernels replicate the codegen distance arithmetic and the (dist, id)
  * heap order, so rows, ranks, distance bits and the result schema equal
  * the distributed plan's. A repeated small batch against one base then
  * runs no Spark job after the first (which collects the table).
  */
object KnnJoin {

  /** Compact result: one row per query, `nn: array<struct<id,dist>>`
    * ascending (dist, id), padded to k with (-1, Infinity). */
  def knnJoinAgg(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "l2",
      queryIdCol: String = "qid",
      queryVecCol: String = "vector",
      baseIdCol: String = "id",
      baseVecCol: String = "vector",
      padToK: Boolean = false): DataFrame = {
    val q = queries.select(
      col(queryIdCol).cast("long").as("qid"),
      col(queryVecCol).as("__qvec"))
    val b = base.select(
      col(baseIdCol).cast("long").as("__bid"),
      col(baseVecCol).as("__bvec"))
    // J2 gram-trick variant: precompute ‖·‖² once per row, pair distance
    // is then one dot product — sqrt(xx + yy − 2·x·y) clamped at 0
    // (vector_utils.py:20-51). Same ordering as "l2" up to fp rounding.
    val pairs =
      if (metric == "l2_gram") {
        val qn = q.withColumn("__qn",
          VectorFunctions.vec_dot(col("__qvec"), col("__qvec")))
        val bn = b.withColumn("__bn",
          VectorFunctions.vec_dot(col("__bvec"), col("__bvec")))
        bn.crossJoin(broadcast(qn))
          .select(col("qid"), col("__bid"),
            sqrt(greatest(lit(0.0),
              col("__qn") + col("__bn") -
                lit(2.0) * VectorFunctions.vec_dot(col("__qvec"), col("__bvec"))))
              .as("__dist"))
      } else {
        val dist = VectorFunctions.distance(metric)(col("__qvec"), col("__bvec"))
        b.crossJoin(broadcast(q))
          .select(col("qid"), col("__bid"), dist.as("__dist"))
      }
    val agg = pairs
      .groupBy(col("qid"))
      .agg(TopKByDist.topK(col("__bid"), col("__dist"), k).as("nn"))
    if (padToK) {
      // (inf, -1) padding — modular.py:357-360 / lsh.py:279-281
      val pad = array_repeat(
        struct(lit(-1L).as("id"), lit(Double.PositiveInfinity).as("dist")), k)
      agg.withColumn("nn",
        when(size(col("nn")) < k, slice(concat(col("nn"), pad), 1, k))
          .otherwise(col("nn")))
    } else agg
  }

  /** Exploded result: (qid, rank, id, dist), rank 1-based by (dist, id).
    * A LocalRelation query batch over a base with the default column
    * names takes the driver route ([[scanOnDriver]]) when it applies. */
  def knnJoin(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "l2",
      queryIdCol: String = "qid",
      queryVecCol: String = "vector",
      baseIdCol: String = "id",
      baseVecCol: String = "vector"): DataFrame = {
    val q = queries.select(col(queryIdCol).cast("long").as("qid"),
      col(queryVecCol).as("vector"))
    // the base's collected table is memoized on the base frame itself, so
    // only a base read as-is (no per-call rename) can take the route
    val local =
      if (baseIdCol != "id" || baseVecCol != "vector") None
      else scanOnDriver(q, Regime.driverRows(q).flatMap(LocalScan.queryArrays),
        base, k, metric)
    local.getOrElse(knnJoinDistributed(q, base, k, metric, baseIdCol, baseVecCol))
  }

  /** [[knnJoin]]'s distributed plan over a `(qid: long, vector)` batch:
    * [[knnJoinAgg]] exploded. */
  private[operators] def knnJoinDistributed(
      q: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String,
      baseIdCol: String = "id",
      baseVecCol: String = "vector"): DataFrame =
    knnJoinAgg(q, base, k, metric, "qid", "vector", baseIdCol, baseVecCol)
      .select(col("qid"), posexplode(col("nn")).as(Seq("__pos", "__nn")))
      .select(
        col("qid"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__nn.id").as("id"),
        col("__nn.dist").as("dist"))

  /** The exact flat scan on the driver, shared by [[knnJoin]] and
    * [[LinearSearcher]]; None keeps the distributed plan. `q` is the
    * batch projected to `(qid: long, vector)` (it supplies the vector
    * type and the qid nullability of the result schema); `batch` is its
    * rows on the driver, sorted by qid ([[LocalScan.queryArrays]]), or
    * None. The route applies when
    *  - the fast path is enabled, the metric has a driver kernel
    *    ([[LocalScan.metricMode]]) and k ≥ 1;
    *  - both vector columns are `array<float>`;
    *  - the batch holds no null qid or vector and no repeated qid (the
    *    distributed plan merges repeated qids into one top-k; the driver
    *    kernel would rank each row on its own);
    *  - the base passes [[LocalScan.payloadStats]] +
    *    [[LocalScan.fullScanFlopCap]], then [[LocalScan.vecTable]] (which
    *    declines null rows and ragged dims), and every query has the
    *    base's dim.
    * `strided` selects LinearSearcher's opt-in FAISS-regime kernels. */
  private[operators] def scanOnDriver(
      q: DataFrame,
      batch: => Option[(Array[Long], Array[Array[Float]])],
      base: DataFrame,
      k: Int,
      metric: String,
      strided: Boolean = false): Option[DataFrame] =
    for {
      mode <- LocalScan.metricMode(metric)
      if Regime.enabled && k >= 1 &&
        floatVectors(q.schema) && floatVectors(base.schema)
      (qids, qVecs) <- batch
      if (1 until qids.length).forall(i => qids(i) != qids(i - 1))
      (n, dim) <- LocalScan.payloadStats(base, "vector", bytesPerUnit = 4)
      if qids.length.toLong * n * dim <= LocalScan.fullScanFlopCap
      vt <- LocalScan.vecTable(base, ivf = false)
      if vt.n == 0 || qVecs.forall(_.length == vt.dim)
    } yield LocalScan.scanVecsFull(base.sparkSession, vt, qids, qVecs, k, mode,
      strided, qidNullable = q.schema("qid").nullable)

  /** the `vector` field is `array<float>`, the type the driver kernels read */
  private def floatVectors(schema: StructType): Boolean =
    schema.fields.exists(f => f.name == "vector" && (f.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))

  /** Shared result tail: scored (qid, id-ish, dist-ish) rows → global
    * top-k per query via the bounded-heap aggregate, exploded to the
    * canonical (qid, rank, id, dist) relation. */
  def topKExploded(scored: DataFrame, idCol: Column, distCol: Column, k: Int)
      : DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKByDist.topK(idCol, distCol, k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("__pos", "__nn")))
      .select(
        col("qid"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__nn.id").as("id"),
        col("__nn.dist").as("dist"))

  /** Rerank candidate pairs (qid, id) exactly: used as the tail of every
    * ANN path (LSH/IVF/PQ rerank — lsh.py:242-283, modular.py:455-534). */
  def rerank(
      candidates: DataFrame, // qid, id
      queries: DataFrame, // qid, vector
      base: DataFrame, // id, vector
      k: Int,
      metric: String = "l2"): DataFrame = {
    val b = base.select(col("id").cast("long").as("__bid"), col("vector").as("__bvec"))
    val withVecs = candidates
      .select(col("qid").cast("long").as("qid"), col("id").cast("long").as("__bid"))
      // P7: drop (-1) padding slots before reranking (modular.py:484-486)
      .filter(col("__bid") >= 0)
      .join(b, Seq("__bid"))
    rerankCarried(withVecs.select(col("qid"), col("__bid").as("id"),
      col("__bvec").as("vector")), queries, k, metric)
  }

  /** Rerank candidates that already CARRY their vectors (qid, id, vector)
    * — the index relation of IVF-family probes holds the vectors it just
    * pruned, so re-joining the full base by id would be a pure-overhead
    * full-table shuffle join. One broadcast join against the (small) query
    * side, codegen distance, bounded-heap top-k. */
  def rerankCarried(
      candidates: DataFrame, // qid, id, vector
      queries: DataFrame, // qid, vector
      k: Int,
      metric: String = "l2"): DataFrame = {
    val q = queries.select(col("qid").cast("long").as("qid"), col("vector").as("__qvec"))
    val dist = VectorFunctions.distance(metric)(col("__qvec"), col("__bvec"))
    val scored = candidates
      .select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("__bid"), col("vector").as("__bvec"))
      .filter(col("__bid") >= 0)
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("__bid"), dist.as("__dist"))
    topKExploded(scored, col("__bid"), col("__dist"), k)
  }
}
