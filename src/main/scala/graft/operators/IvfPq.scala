package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF + PQ composition (reference: FAISS `IVF256,PQ64` — the `ivf_pq`
  * rows of configs/benchmark_config.yaml:61-72 and every
  * benchmark_summary.md dataset table): coarse-quantizer partition pruning
  * over product-quantized codes. The index relation is
  * `(id, centroid_id, codes)` — pruning key + compressed payload in one
  * table, partitionable/bucketable by `centroid_id` at cluster scale, so a
  * probe reads `nprobe/nlist` of the data and scores m-byte codes instead
  * of full vectors.
  *
  * Two encodings:
  *  - `residual = false` (default): PQ codes quantize the raw vectors —
  *    one shared codebook set, simpler relational shape, and the encoding
  *    the gate oracle's SQL replica is pinned to;
  *  - `residual = true`: the FAISS-faithful IVFPQ — codes quantize
  *    `v − centroid(v)`, so each inverted list spends its 256 codewords
  *    per subspace on the local residual geometry instead of the global
  *    spread. Search builds the per-(query, probed-list) lookup table
  *    `lut(q − c)` lazily on the executor (memoized per task), exactly
  *    FAISS's precompute-per-list discipline.
  */
final case class IvfPqIndexer(
    nlist: Int, numSubspaces: Int, numCentroids: Int, seed: Long,
    residual: Boolean = false,
    trainIters: Int = 15, kmeansInit: String = "random")
  extends Indexer {
  val kind = "ivf_pq"

  def build(base: DataFrame): IndexArtifact = {
    // models first (sampled Lloyd's for the coarse quantizer + per-
    // subspace codebooks, both driver-side), then assign + encode in ONE
    // projection of the base relation — the former compose-two-artifacts
    // shape rescanned the base per artifact and shuffle-joined all rows
    // just to recombine (centroid_id, codes) columns
    val spark = base.sparkSession
    import spark.implicits._
    val centers = IvfModel.train(base, nlist, seed)
    def residualOf(cid: Int, v: Array[Float]): Array[Float] =
      IvfPq.residualOf(centers(cid), v)
    if (!residual) {
      val cached = base.select(col("id").cast("long").as("id"), col("vector")).cache()
      val model = PqModel.train(cached, numSubspaces, numCentroids, seed,
        iters = trainIters, init = kmeansInit)
      // boxing-free assign + encode in one pass (see IvfIndexer.build);
      // the row encoder is shared with IndexAppend by construction
      val data = cached
        .as[(Long, Array[Float])]
        .mapPartitions(_.map { case (i, v) =>
          IvfPq.encodeRow(centers, model, residual = false)(
            i, IvfModel.assign(centers, v), v)
        })
        .toDF("id", "centroid_id", "codes")
      artifactOf(spark, centers, model, data)
    } else {
      // residuals vs the assigned coarse centroid (zero-shuffle row-local
      // subtraction; codebooks train on the residual geometry exactly as
      // FAISS IVFPQ). assign — the expensive kernel — computes once into
      // the cached relation; both the codebook-training sample pass and
      // the final encode derive from it boxing-free.
      val cached = base.select(col("id").cast("long").as("id"), col("vector"))
        .as[(Long, Array[Float])]
        .mapPartitions(_.map { case (i, v) => (i, IvfModel.assign(centers, v), v) })
        .toDF("id", "centroid_id", "vector").cache()
      val resInput = cached
        .as[(Long, Int, Array[Float])]
        .mapPartitions(_.map { case (i, cid, v) => (i, residualOf(cid, v)) })
        .toDF("id", "vector")
      val model = PqModel.train(resInput, numSubspaces, numCentroids, seed,
        iters = trainIters, init = kmeansInit)
      val data = cached
        .as[(Long, Int, Array[Float])]
        .mapPartitions(_.map { case (i, cid, v) =>
          IvfPq.encodeRow(centers, model, residual = true)(i, cid, v)
        })
        .toDF("id", "centroid_id", "codes")
      artifactOf(spark, centers, model, data)
    }
  }

  private def artifactOf(spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Float]], model: PqModel, data: DataFrame)
      : IndexArtifact =
    IndexArtifact(kind, data,
      meta = PqModel.metaOf(model, numSubspaces, seed) ++
        Map("nlist" -> nlist.toString, "seed" -> seed.toString,
          "residual" -> residual.toString),
      aux = Map("centroids" -> IvfModel.centroidsDf(spark, centers),
        "codebooks" -> PqModel.codebooksDf(spark, model)),
      local = Map("centroids_local" -> centers, "pq_model" -> model))
}

object IvfPq {
  /** residual vs the assigned coarse centroid (FAISS IVFPQ encoding) */
  private[operators] def residualOf(c: Array[Float], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](c.length)
    var i = 0
    while (i < c.length) { out(i) = v(i) - c(i); i += 1 }
    out
  }

  /** THE per-row encode — shared by build (both branches) and
    * [[IndexAppend]] so append can never drift from the build's
    * encoding. */
  private[operators] def encodeRow(centers: Array[Array[Float]],
      model: PqModel, residual: Boolean)(
      id: Long, cid: Int, v: Array[Float]): (Long, Int, Array[Byte]) =
    (id, cid,
      if (residual) model.encode(residualOf(centers(cid), v))
      else model.encode(v))
}

final case class IvfPqSearcher(nprobe: Int, metric: String,
    strided: Boolean = false) extends Searcher with QueryBroadcastLifecycle {
  import IvfPqSearcher.sameCentroids

  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    beginSearch()
    val model = PqModel.fromArtifact(artifact)
    // lazy — see IvfSq8Searcher: only probesAuto's fallback needs it
    def q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    val l2 = !(metric == "ip" || metric == "dot")
    val spark = artifact.data.sparkSession
    val residual = artifact.meta.getOrElse("residual", "false") == "true"
    val centArr = IvfModel.centroidsOf(artifact)
    val nlistAll = centArr.map(_._1).max + 1
    // queries collected ONCE (memoized across searches of the same query
    // batch); every driver-side table below derives from it
    val (qids, qVecArr) = LocalScan.queryVecsAlways(queries)
    val localTable = LocalScan.codeTable(artifact.data, ivf = true)

    // scoring kernel over (qidx, cid, codes) — the query-major partition
    // scan (see AdcScan / PqSearcher); qidx indexes the broadcast tables
    // residual prep already computes every query→centroid distance
    // (term1); the coarse probe below reuses it instead of re-running
    // the same pass (AdcScan.probesFromDists — identical probed set)
    var qcDists: Array[Array[Double]] = null
    val scorer: AdcScan.Scorer =
      if (!residual) {
        val luts = new Array[Array[Double]](qVecArr.length)
        java.util.stream.IntStream.range(0, qVecArr.length).parallel()
          .forEach(i => luts(i) = model.lut(qVecArr(i), metric))
        if (strided)
          new AdcScan.FloatPqLutScorer(
            trackLut(spark, localTable.isDefined,
              AdcScan.toFloatLuts(luts)), l2)
        else new AdcScan.PqLutScorer(
          trackLut(spark, localTable.isDefined, luts), l2)
      } else {
        // Residual ADC via FAISS's precomputed-table decomposition
        // (IndexIVFPQ use_precomputed_table):
        //   ‖q−c−y‖² = ‖q−c‖² + (‖y‖²+2c·y) + (−2q·y)
        // term2 is query-INdependent (one nlist × m×nC float table),
        // term3 depends only on the raw query (one m×nC table per query,
        // same size as the raw-PQ LUT), term1 is a scalar per
        // (query, probed list). A naive per-(query, list) LUT would be
        // nlist× bigger and OOMed at reference configs.
        require(l2, "residual IVF-PQ scoring is defined for L2")
        val cents = centArr.toMap
        // term3 per query: −2·q_j·cb_j[c] (the ip LUT is −q·y; double it).
        // All three tables are independent per query / per list → each
        // builds driver-core parallel (they dominated per-search prep)
        val qLut = new Array[Array[Double]](qVecArr.length)
        java.util.stream.IntStream.range(0, qVecArr.length).parallel()
          .forEach(i => qLut(i) = model.lutScaled(qVecArr(i), "ip", 2.0))
        // term2 per list: ‖y‖² + 2·c_j·y over every (subspace, code) —
        // query-INdependent and artifact-fixed, so built ONCE per
        // artifact (memoized like FAISS's use_precomputed_table, which
        // computes it at index-build time); rebuilding per search() call
        // taxed every timed batch
        val mm = model.codebooks.length
        val nC = model.codebooks(0).length
        val dsub = model.dsub
        val nlist = cents.keys.max + 1
        val centSeq = cents.toArray
        val t2 = IvfPqSearcher.term2Memo.synchronized {
          IvfPqSearcher.term2Memo.get(model)
        } match {
          case (cs, t) if sameCentroids(cs, centArr) => t
          case _ =>
            val t = Array.ofDim[Float](nlist, mm * nC)
            java.util.stream.IntStream.range(0, centSeq.length).parallel().forEach { ci =>
              val (cid, cv) = centSeq(ci)
              val row = t(cid)
              var j = 0
              while (j < mm) {
                val cb = model.codebooks(j)
                var cc = 0
                while (cc < nC) {
                  val y = cb(cc)
                  var acc = 0.0
                  var i = 0
                  while (i < dsub) {
                    val yy = y(i).toDouble
                    acc += yy * yy + 2.0 * cv(j * dsub + i) * yy
                    i += 1
                  }
                  row(j * nC + cc) = acc.toFloat
                  cc += 1
                }
                j += 1
              }
            }
            IvfPqSearcher.term2Memo.synchronized {
              IvfPqSearcher.term2Memo.put(model, (centArr, t))
            }
            t
        }
        // term1 per (query, list): ‖q−c‖², dense [qidx][cid]
        val qcNorm = new Array[Array[Double]](qVecArr.length)
        java.util.stream.IntStream.range(0, qVecArr.length).parallel().forEach { qi =>
          val qv = qVecArr(qi)
          val row = new Array[Double](nlist)
          centSeq.foreach { case (cid, cv) =>
            var acc = 0.0
            var i = 0
            while (i < qv.length) {
              val d = qv(i).toDouble - cv(i); acc += d * d; i += 1
            }
            row(cid) = acc
          }
          qcNorm(qi) = row
        }
        qcDists = qcNorm
        // strided_accum: float qLut + float accumulation (t2 is float
        // already) — the FAISS comparison regime for the baseline row
        if (strided)
          new AdcScan.FloatResidualScorer(
            trackLut(spark, localTable.isDefined,
              (AdcScan.toFloatLuts(qLut), t2, qcNorm)))
        else new AdcScan.ResidualScorer(
          trackLut(spark, localTable.isDefined, (qLut, t2, qcNorm)))
      }
    // coarse probe on the driver (see IvfSq8Searcher), then the
    // query-major scan over only the probed inverted lists —
    // driver-local below the LocalScan cap, partition-buffered above it
    // dense-cid guard: probesFromDists scans every slot of the term1 row,
    // so a sparse cid space (a dropped centroid leaving a zero-filled gap)
    // would probe a nonexistent list — coarseProbes iterates only real
    // centroids, so fall back there in that (never-seen) case
    val probeArr =
      if (qcDists != null && centArr.length == nlistAll)
        AdcScan.probesFromDists(qcDists, nlistAll, nprobe)
      else AdcScan.probesAuto(
        q, qids, qVecArr, centArr, nlistAll, nprobe, artifact.aux("centroids"))
    localTable match {
      case Some(ct) =>
        LocalScan.scanCodesIvf(spark, ct, qids, k, scorer, probeArr)
      case None =>
        AdcScan.searchTopKIvf(artifact.data, qids, k, scorer,
          trackLut(spark, local = false, probeArr))
    }
  }
}

object IvfPqSearcher {
  /** residual term2 table per frozen model: weakly keyed by the PqModel
    * instance, with the (cid, centroid) array it was built from. A
    * mutated or reloaded artifact reads the same model and centroid
    * instances (the build's driver copies, or the memoized aux collects),
    * so it reuses the table. */
  private[operators] val term2Memo =
    new java.util.WeakHashMap[PqModel, (Array[(Int, Array[Float])], Array[Array[Float]])]()

  /** the same centroid instances under the same ids */
  private def sameCentroids(a: Array[(Int, Array[Float])],
      b: Array[(Int, Array[Float])]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i)._1 == b(i)._1 && (a(i)._2 eq b(i)._2))
}
