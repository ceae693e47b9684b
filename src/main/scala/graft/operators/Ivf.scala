package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) coarse quantizer — the reference's FAISS
  * `IVF{nlist},Flat` path (approximate_search.py:39-51,
  * modular.py:292-309) re-expressed as a **partition-pruned equi-join**:
  *
  *  - build: coarse centroids trained with seeded Lloyd's on a bounded
  *    driver-side sample (the FAISS discipline — a 100 TB table never
  *    feeds a full distributed KMeans for a few hundred centroids), then
  *    every row assigned its nearest centroid by a broadcast-centroid
  *    scan: O(n·nlist·dim) embarrassingly parallel map, zero shuffles.
  *    The index relation is the base table + `centroid_id`; at cluster
  *    scale it is written partitioned/bucketed by `centroid_id`, so a
  *    probe touches only `nprobe/nlist` of the data (storage-level
  *    partition pruning — SURVEY §4);
  *  - probe: nearest `nprobe` centroids per query via a tiny broadcast
  *    kNN join (centroid table has `nlist` rows), then an equi-join on
  *    `centroid_id`, then exact rerank of the surviving candidates.
  */
final case class IvfIndexer(nlist: Int, seed: Long) extends Indexer {
  val kind = "ivf"

  /** bounded sample for centroid training */
  val trainSample = 262144

  def build(base: DataFrame): IndexArtifact = {
    val centers = IvfModel.train(base, nlist, seed, trainSample)
    // boxing-free assignment: tuple encoders move primitive float arrays
    // straight from Tungsten rows into the assign kernel (the ScalaUDF
    // path boxes every element through CatalystTypeConverters)
    val spark = base.sparkSession
    import spark.implicits._
    val assigned = base
      .select(col("id").cast("long").as("id"), col("vector"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) => (i, v, IvfModel.assign(centers, v)) })
      .toDF("id", "vector", "centroid_id")
    IndexArtifact(kind, assigned,
      meta = Map("nlist" -> nlist.toString, "seed" -> seed.toString),
      aux = Map("centroids" -> IvfModel.centroidsDf(base.sparkSession, centers)),
      // driver-side copy for searchers (skips a per-search collect job);
      // reconstructable from aux on the load-from-store path
      local = Map("centroids_local" -> centers))
  }
}

object IvfModel {

  /** coarse-centroid training shared by every IVF-composed indexer:
    * seeded Lloyd's on a bounded driver-side sample (the FAISS
    * discipline — see IvfIndexer scaladoc). Extracting it lets IvfSq8 /
    * IvfPq encode assign+codes in ONE pass over the base relation
    * instead of building two relations and join-recombining them. */
  def train(base: DataFrame, nlist: Int, seed: Long,
      trainSample: Int = 262144): Array[Array[Float]] = {
    val cached = base.select(col("id").cast("long").as("id"), col("vector"))
    // FAISS's max_points_per_centroid discipline (Clustering.cpp): a
    // 256-entry-per-centroid sample saturates Lloyd's — more rows cost
    // assignment flops without moving the centers. The gate configs
    // (nlist=16 over ≤4096-row tables) sit under the cap, so their
    // seeded centroids — and the oracle literals derived from them —
    // are unchanged.
    val cap = math.min(trainSample.toLong, nlist.toLong * 256L)
    val (sample, _) = boundedVecSample(cached, "vector", cap, seed)
    LocalKMeans.fit(sample, math.min(nlist, sample.length), seed, iters = 15)
  }

  /** Bounded driver-side training sample of `vecCol` rows, plus the
    * relation's row count: ONE collect job in the under-cap regime (the
    * gate/bench shape), where the historical count-then-collect pair
    * returned the FULL column anyway — a `limit(cap+1)` collect yields
    * the same rows in the same order (CollectLimit concatenates
    * partitions in index order exactly like a full collect; the sf0.01
    * pinned-model oracles re-verify the resulting kmeans byte-for-byte).
    * Above the cap — detected via the Catalyst size estimate WITHOUT
    * collecting cap+1 rows first, so at real scale nothing extra ever
    * lands on the driver — the exact count + the seeded Bernoulli sample
    * run unchanged (same draws: the sample operator seeds per partition,
    * independent of the projection). */
  private[operators] def boundedVecSample(rel: DataFrame, vecCol: String,
      capRows: Long, seed: Long): (Array[Array[Float]], Long) = {
    val probe =
      if (Regime.smallEstimate(rel).isEmpty) None
      else Regime.rowsUpTo(rel.select(col(vecCol)), capRows)
    probe match {
      case Some(rows) => (rows.map(_.getSeq[Float](0).toArray), rows.length.toLong)
      case None =>
        val n = rel.count()
        val fraction = math.min(1.0, capRows.toDouble / math.max(1L, n))
        val sample = (if (fraction < 1.0)
            rel.sample(withReplacement = false, fraction, seed)
          else rel)
          .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
        (sample, n)
    }
  }

  /** nearest-centroid assignment (always L2 — FAISS coarse quantizers
    * assign by L2 under every metric; consumed by the boxing-free
    * mapPartitions builds) */
  def assign(centers: Array[Array[Float]], arr: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var i = 0
      val ce = centers(c)
      while (i < ce.length) { val df = arr(i) - ce(i); d += df * df; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }


  /** Incremental ingestion — FAISS `IndexIVF.add` semantics (the coarse
    * quantizer NEVER retrains on add): encode arriving rows against the
    * artifact's frozen centroids and union them into the index relation.
    * This is the 100 TB operational path — daily arrivals must not
    * trigger a rebuild of a corpus-sized index. The new rows get the
    * same broadcast-centroid mapPartitions assignment as the build
    * (zero shuffles, existing rows untouched — the union is a plan node,
    * not a rewrite), so `append(build(A), B)` produces exactly the
    * relation `build(A ∪ B)` would under A's centroids, and every
    * searcher serves the result unchanged. */
  def append(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact = {
    require(artifact.kind == "ivf", s"ivf append on kind ${artifact.kind}")
    val centers = centroidsOf(artifact).sortBy(_._1).map(_._2)
    val spark = newRows.sparkSession
    import spark.implicits._
    val assigned = newRows
      .select(col("id").cast("long").as("id"), col("vector"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) => (i, v, assign(centers, v)) })
      .toDF("id", "vector", "centroid_id")
    artifact.copy(data = Lineage.record(
      artifact.data.select("id", "vector", "centroid_id").unionByName(assigned),
      artifact.data,
      Lineage.Append(newRows, centers.head.length, v => (assign(centers, v), v))))
  }

  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
      .toDF("centroid_id", "vector")
  }
  /** centroids as (cid, vector) pairs — from the build's driver-side copy
    * when present, else one collect of the tiny aux relation, memoized
    * per frame like a scan table ([[LocalScan.frameModel]]: a reloaded
    * artifact's appends and searches read it with no job) */
  def centroidsOf(artifact: IndexArtifact): Array[(Int, Array[Float])] =
    artifact.local.get("centroids_local") match {
      case Some(cs: Array[Array[Float]] @unchecked) => cs.zipWithIndex.map(_.swap)
      case _ =>
        val aux = artifact.aux("centroids")
        LocalScan.frameModel[Array[(Int, Array[Float])]](aux, "centroids")(
          _.map(_._2.length * 4L + 16).sum) {
          aux.select("centroid_id", "vector")
            .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        }
    }
}

final case class IvfSearcher(nprobe: Int, metric: String,
    strided: Boolean = false) extends Searcher {
  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    val spark = artifact.data.sparkSession
    import spark.implicits._
    // lazy — see IvfSq8Searcher: only probesAuto's fallback and the
    // distributed rerank branch need it; building a DataFrame runs the
    // analyzer eagerly and taxed every driver-local serve batch
    def q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    // coarse probe on the driver: nprobe nearest centroids per query
    // (always L2, as FAISS IVF coarse assignment is L2 even under other
    // metrics) — nlist × dim flops per query, replaces a Spark job. The
    // scan itself stays the declarative equi-join + carried-vector rerank:
    // raw-vector lists are fat and plenty-parallel, so the codegen'd join
    // pipeline beats a buffering scan here (measured; unlike the
    // byte-code ADC family where LUT locality dominates — see AdcScan).
    val (qids, qVecArr) = LocalScan.queryVecsAlways(queries)
    val cents = IvfModel.centroidsOf(artifact)
    val nlist = cents.map(_._1).max + 1
    val dims = if (qVecArr.isEmpty) 0 else qVecArr(0).length
    // below the LocalScan cap the probed lists scan driver-core-parallel
    // on the memoized collected index (same kernel arithmetic as the
    // codegen rerank → bit-identical); above it, the equi-join plan.
    // Below the coarse flop cap the probe FUSES into the scan pass
    // (scanVecsIvfFused — identical probed set and rows, one dispatch)
    (LocalScan.metricMode(metric),
        LocalScan.vecTable(artifact.data, ivf = true)) match {
      case (Some(mode), Some(vt))
          if AdcScan.coarseProbesFit(qids.length.toLong, nlist.toLong, dims.toLong) &&
            AdcScan.fusedEnabled =>
        return LocalScan.scanVecsIvfFused(spark, vt, qids, qVecArr, k, mode,
          cents, nprobe, strided = strided)
      case (Some(mode), Some(vt)) =>
        return LocalScan.scanVecsIvf(spark, vt, qids, qVecArr, k, mode,
          AdcScan.probesAuto(q, qids, qVecArr, cents, nlist, nprobe,
            artifact.aux("centroids")), strided = strided)
      case _ => ()
    }
    val probeArr = AdcScan.probesAuto(q, qids, qVecArr, cents, nlist, nprobe,
      artifact.aux("centroids"))
    val probes = probeArr.iterator.zipWithIndex.flatMap { case (qs, cid) =>
      qs.iterator.map(qi => (qids(qi), cid))
    }.toSeq.toDF("qid", "centroid_id")
    // inverted-list pruned candidates: equi-join on centroid_id. The index
    // relation already carries the vectors it just pruned, so they ride
    // through the probe join straight into the rerank — ONE scan of the
    // index relation, no second full-table join by id.
    val candidates = artifact.data
      .join(broadcast(probes), Seq("centroid_id"))
      .select(col("qid"), col("id"), col("vector"))
    KnnJoin.rerankCarried(candidates, q, k, metric)
  }
}
