package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF + SQ8 composition (reference: FAISS `IVF256,SQ8`,
  * configs/benchmark_config.yaml:36-60 — J10): coarse-quantizer partition
  * pruning over 8-bit-quantized codes. The index relation is
  * `(id, centroid_id, codes)` — both the pruning key and the compressed
  * payload in one table, partitionable by `centroid_id` at scale.
  *
  * Deviation from FAISS (documented): codes quantize the raw vectors, not
  * the residuals vs the coarse centroid — same recall regime, simpler
  * relational shape.
  */
final case class IvfSq8Indexer(nlist: Int, seed: Long) extends Indexer {
  val kind = "ivf_sq8"

  def build(base: DataFrame): IndexArtifact = {
    // models first (driver-side: sampled Lloyd's + one bounds pass), then
    // assign + encode in ONE zero-shuffle projection of the base relation
    // — the former compose-two-artifacts-and-join shape rescanned the
    // base twice and shuffle-joined 100%-of-rows just to recombine
    // columns it could have computed together
    val centers = IvfModel.train(base, nlist, seed)
    val (lo, hi) = Sq8Model.fitBounds(base)
    val model = Sq8Model(lo, hi)
    val data = IvfSq8.encodeRelation(base, centers, model)
    IndexArtifact(kind, data,
      meta = Map(
        "lo" -> lo.mkString(","), "hi" -> hi.mkString(","),
        "nlist" -> nlist.toString, "seed" -> seed.toString),
      aux = Map("centroids" -> IvfModel.centroidsDf(base.sparkSession, centers)),
      local = Map("centroids_local" -> centers))
  }
}

object IvfSq8 {
  /** THE assign+encode projection — shared by build and
    * [[IndexAppend]] so the append contract ("encode exactly as the
    * build did") holds by construction, not by mirrored code. Boxing-free
    * (see IvfIndexer.build note), zero shuffles. */
  private[operators] def encodeRelation(rows: DataFrame,
      centers: Array[Array[Float]], model: Sq8Model): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("id").cast("long").as("id"), col("vector"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) =>
        (i, IvfModel.assign(centers, v), model.encode(v))
      })
      .toDF("id", "centroid_id", "codes")
  }
}

final case class IvfSq8Searcher(nprobe: Int, metric: String,
    strided: Boolean = false) extends Searcher
    with QueryBroadcastLifecycle {
  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    beginSearch()
    val lo = artifact.meta("lo").split(",").map(_.toFloat)
    val hi = artifact.meta("hi").split(",").map(_.toFloat)
    // LAZY: DataFrame construction runs the analyzer eagerly (~ms), and
    // this relation is only needed on probesAuto's over-cap fallback —
    // building it per serve batch taxed every driver-local search
    // (the removed dev/Sq8StageProfile: ~half the e2e batch was outside the stages)
    def q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    val spark = artifact.data.sparkSession
    val (qids, qVecs) = LocalScan.queryVecsAlways(queries)
    // coarse probe on the driver (nlist × dim flops per query — trivial;
    // replaces a full Spark job per search), then the query-major scan
    // over only the probed inverted lists — driver-local below the
    // LocalScan cap, partition-buffered above it
    val cents = IvfModel.centroidsOf(artifact)
    val nlist = cents.map(_._1).max + 1
    // lazy: the local small-list branch fuses the probe into the scan
    // (scanCodesIvfFused) and never materializes this
    lazy val probeArr = AdcScan.probesAuto(
      q, qids, qVecs, cents, nlist, nprobe, artifact.aux("centroids"))
    val localTable = LocalScan.codeTable(artifact.data, ivf = true)
    val mode = Sq8Model.mode(metric)
    // ONE inline scorer on both paths (identical arithmetic by
    // construction): dequantization reads the shared query-independent
    // deq table (Sq8Scorer) and rows score through the j-block-tiled
    // scoreChunk, so nothing per-query bigger than the query vector
    // competes for cache. This replaced the per-query (q−x)² LUT
    // formulation (Sq8Model.luts): at 384-d that LUT was 786 KB/query —
    // walked fully per ROW by the scan — plus a ~55 MB build per batch.
    val qLut = trackLut(spark, localTable.isDefined, qVecs)
    // strided: the FAISS-regime factored/gram kernel (recall-equivalent,
    // reassociated — baseline harness only); default: the oracle-exact
    // kernel the gates pin. Cosine always routes exact (3-accumulator
    // form has no gram decomposition).
    val scorer: AdcScan.Scorer =
      if (strided && mode != 2) new AdcScan.Sq8FastScorer(qLut, lo, hi, mode)
      else new AdcScan.Sq8Scorer(qLut, lo, hi, mode)
    localTable match {
      case Some(ct) =>
        scorer match {
          case f: AdcScan.Sq8FastScorer => f.precomputeNorms(ct.codes)
          case _ => ()
        }
        val dims = if (qVecs.isEmpty) 0 else qVecs(0).length
        // small lists + in-cap coarse flops → probe fused into the scan
        // pass (identical probed set/rows, one dispatch); big lists keep
        // the two-phase path so the list-major scan can share chunks
        if (!(scorer.prefersListMajor &&
            LocalScan.avgListBytes(ct) >= LocalScan.listMajorMinListBytes) &&
            AdcScan.coarseProbesFit(qids.length.toLong, nlist.toLong, dims.toLong) &&
            AdcScan.fusedEnabled)
          LocalScan.scanCodesIvfFused(spark, ct, qids, qVecs, k, scorer,
            cents, nprobe)
        else LocalScan.scanCodesIvf(spark, ct, qids, k, scorer, probeArr)
      case None =>
        AdcScan.searchTopKIvf(artifact.data, qids, k, scorer,
          trackLut(spark, local = false, probeArr))
    }
  }
}
