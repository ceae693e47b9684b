package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization with asymmetric-distance search (reference: FAISS
  * `PQ64`/`PQ50` and `IVF256,PQ64` via `configs/benchmark_config.yaml:61-72`,
  * glue modular.py:224-289).
  *
  * Build (J9): split each dim-d vector into `m` subspaces; per subspace a
  * KMeans codebook of `numCentroids` entries; each vector → `m` bytes.
  * Search: per query build the m×256 lookup table of squared subdistances
  * once (driver-free, inside a column), then ADC score per base row =
  * Σ_j lut[j][code_j] — a scalar scoring expression + the usual top-k
  * tail, exactly SURVEY §2.3-J9's plan.
  *
  * Codebooks are small (m × 256 × d/m floats = d × 256) and ship in the
  * scoring closure; at cluster scale they'd be a broadcast variable —
  * semantically identical.
  */
final case class PqIndexer(numSubspaces: Int, numCentroids: Int, seed: Long,
    trainIters: Int = 15, kmeansInit: String = "random")
  extends Indexer {
  val kind = "pq"

  /** max training rows collected to the driver; PQ codebooks (like FAISS)
    * train on a bounded sample — at 100 TB you never fit KMeans on the
    * full table for a 256-entry codebook. */
  val trainSample = 65536

  def build(base: DataFrame): IndexArtifact = {
    val spark = base.sparkSession
    import spark.implicits._
    val cached = base.select(col("id").cast("long").as("id"), col("vector")).cache()
    val model = PqModel.train(cached, numSubspaces, numCentroids, seed, trainSample,
      trainIters, kmeansInit)
    // boxing-free encode (see IvfIndexer.build note)
    val data = cached
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) => (i, model.encode(v)) })
      .toDF("id", "codes")
    IndexArtifact(kind, data,
      meta = PqModel.metaOf(model, numSubspaces, seed),
      aux = Map("codebooks" -> PqModel.codebooksDf(base.sparkSession, model)),
      // driver-side model for searchers (skips a per-search collect job);
      // reconstructable from aux on the load-from-store path
      local = Map("pq_model" -> model))
  }
}

final case class PqSearcher(metric: String, strided: Boolean = false)
    extends Searcher with QueryBroadcastLifecycle {
  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    beginSearch()
    val model = PqModel.fromArtifact(artifact)
    // Per-query LUTs are computed ONCE on the driver (the FAISS
    // query-side table), indexed by qidx; the code relation either scans
    // locally (LocalScan, small-index regime) or streams through the
    // partition-buffered query-major scan (AdcScan), with the LUT table
    // riding a broadcast only in the distributed case.
    val spark = artifact.data.sparkSession
    val (qids, qVecs) = LocalScan.queryVecsAlways(queries)
    // LUT construction is independent per query → driver-core parallel
    val lutArr = new Array[Array[Double]](qVecs.length)
    java.util.stream.IntStream.range(0, qVecs.length).parallel()
      .forEach(i => lutArr(i) = model.lut(qVecs(i), metric))
    val l2 = !(metric == "ip" || metric == "dot")
    val localTable = LocalScan.codeTable(artifact.data, ivf = false)
    // strided_accum = FAISS-regime float LUTs + float accumulation
    // (baseline serving rows; gates keep the oracle-exact double scorer)
    val scorer: AdcScan.Scorer =
      if (strided)
        new AdcScan.FloatPqLutScorer(
          trackLut(spark, localTable.isDefined,
            AdcScan.toFloatLuts(lutArr)), l2)
      else new AdcScan.PqLutScorer(
        trackLut(spark, localTable.isDefined, lutArr), l2)
    localTable match {
      case Some(ct) => LocalScan.scanCodesFull(spark, ct, qids, k, scorer)
      case None => AdcScan.searchTopK(artifact.data, qids, k, scorer)
    }
  }
}

final case class PqModel(codebooks: Array[Array[Array[Float]]], dsub: Int)
  extends Serializable {
  private def m: Int = codebooks.length

  /** primitive encode (consumed by the boxing-free mapPartitions builds) */
  def encode(arr: Array[Float]): Array[Byte] = {
    val cbs = codebooks; val ds = dsub
    val out = new Array[Byte](cbs.length)
    var j = 0
    while (j < cbs.length) {
      val cb = cbs(j)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0; var i = 0
        while (i < ds) {
          val diff = arr(j * ds + i) - cb(c)(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = (best - 128).toByte
      j += 1
    }
    out
  }


  /** per-subspace codebooks flattened to contiguous [c*dsub + i] floats,
    * built lazily once per model: the 3-level array walk (plus an
    * in-loop metric branch) made LUT construction the dominant per-batch
    * prep of the PQ serve paths (the removed dev/IvfPqStageProfile: 2-5 ms of an
    * ~8 ms glove50 ivf_pq batch) */
  @transient private lazy val flatCb: Array[Array[Float]] = codebooks.map { cb =>
    val nC = cb.length
    val f = new Array[Float](nC * dsub)
    var c = 0
    while (c < nC) {
      System.arraycopy(cb(c), 0, f, c * dsub, dsub)
      c += 1
    }
    f
  }

  /** per-query LUT, flattened m×nCent doubles: lut[j*nCent + c] =
    * ‖q_j − codebook_j[c]‖² (L2) or −q_j·codebook_j[c] (IP) */
  def lut(arr: Array[Float], metric: String): Array[Double] =
    lutScaled(arr, metric, 1.0)

  /** [[lut]] with a final scalar multiply folded in (scale=1 IS lut):
    * each entry's accumulation order is unchanged — `acc * scale`
    * equals the former `lut(...).map(_ * scale)` bit for bit, minus one
    * full-array copy per query. Hoisted metric branch + contiguous
    * codebook floats; values identical to the original 3-level loop
    * (same index-order float→double accumulation). */
  def lutScaled(arr: Array[Float], metric: String, scale: Double): Array[Double] = {
    val ds = dsub
    val ip = metric == "ip" || metric == "dot"
    val m = codebooks.length
    val nC = codebooks(0).length
    val out = new Array[Double](m * nC)
    var j = 0
    while (j < m) {
      val f = flatCb(j)
      val qBase = j * ds
      val oBase = j * nC
      var c = 0
      if (ip) {
        while (c < nC) {
          var acc = 0.0; var i = 0; val cBase = c * ds
          while (i < ds) {
            acc -= arr(qBase + i).toDouble * f(cBase + i)
            i += 1
          }
          out(oBase + c) = acc * scale
          c += 1
        }
      } else {
        while (c < nC) {
          var acc = 0.0; var i = 0; val cBase = c * ds
          while (i < ds) {
            val d = arr(qBase + i).toDouble - f(cBase + i)
            acc += d * d; i += 1
          }
          out(oBase + c) = acc * scale
          c += 1
        }
      }
      j += 1
    }
    out
  }
}

object PqModel {

  /** codebook training shared by PQ and the IVF-PQ composition: bounded
    * deterministic sample → driver, one local Lloyd's run per subspace
    * (driver-core parallel, each independent via seed + j) instead of
    * 2·m Spark jobs per fit. `input` is scanned once in the under-cap
    * regime (boundedVecSample; count + sample above the cap);
    * pre-cache it when the caller also encodes from it. */
  def train(input: DataFrame, numSubspaces: Int, numCentroids: Int,
      seed: Long, trainSample: Int = 65536, iters: Int = 15,
      init: String = "random"): PqModel = {
    // one collect job in the under-cap regime (IvfModel.boundedVecSample
    // — same rows, same order as the historical count-then-collect); the
    // dim probe reads the sample head instead of paying a limit(1) job
    val (sample, n) = IvfModel.boundedVecSample(input, "vector",
      trainSample.toLong, seed)
    require(sample.nonEmpty, "empty PQ training input")
    val dim = sample(0).length
    require(dim % numSubspaces == 0,
      s"dim $dim not divisible by num_subspaces $numSubspaces")
    val dsub = dim / numSubspaces
    val nCent = math.min(numCentroids, n.toInt)
    val codebooks: Array[Array[Array[Float]]] =
      new Array[Array[Array[Float]]](numSubspaces)
    java.util.stream.IntStream.range(0, numSubspaces).parallel().forEach { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      codebooks(j) = LocalKMeans.fit(sub, nCent, seed + j, iters, init)
    }
    PqModel(codebooks, dsub)
  }

  def metaOf(model: PqModel, numSubspaces: Int, seed: Long): Map[String, String] = Map(
    "num_subspaces" -> numSubspaces.toString,
    "num_centroids" -> model.codebooks(0).length.toString,
    "dsub" -> model.dsub.toString,
    "seed" -> seed.toString)

  def codebooksDf(spark: org.apache.spark.sql.SparkSession,
      model: PqModel): DataFrame = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, ci) => (j, ci, c) }
    }.toSeq.toDF("subspace", "centroid", "vector")
  }

  /** the build's model when present, else one collect of the codebooks
    * relation, memoized per frame ([[LocalScan.frameModel]]) */
  def fromArtifact(a: IndexArtifact): PqModel = a.local.get("pq_model") match {
    case Some(m: PqModel) => m
    case _ =>
      LocalScan.frameModel[PqModel](a.aux("codebooks"), "pq")(
        _.codebooks.map(_.map(_.length * 4L + 16).sum).sum)(collectFromAux(a))
  }

  private def collectFromAux(a: IndexArtifact): PqModel = {
    val m = a.meta("num_subspaces").toInt
    val nC = a.meta("num_centroids").toInt
    val dsub = a.meta("dsub").toInt
    val rows = a.aux("codebooks")
      .select("subspace", "centroid", "vector").collect()
    val cbs = Array.fill(m)(Array.fill(nC)(new Array[Float](dsub)))
    rows.foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    PqModel(cbs, dsub)
  }
}
