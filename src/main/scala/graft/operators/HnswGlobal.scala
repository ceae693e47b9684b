package graft.operators

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** Hierarchical NSW — the reference's actual HNSW shape (multi-layer,
  * Malkov & Yashunin '18; reference glue hnsw.py:76-81, M=16 efC=200):
  * exponentially-thinning upper layers give O(log n) greedy descent to a
  * good entry point, then an ef-beam over the dense bottom layer.
  *
  * Spark shape: like CoverTree (SURVEY §2.3-J12 discipline), the graph is
  * built ONCE on the driver — a global navigable graph is inherently
  * sequential/pointer-chasing, so the driver build + **broadcast** +
  * query-partition-parallel walk is the honest JVM analog of FAISS's
  * single-node IndexHNSWFlat. Bounded to a few million vectors by driver
  * memory; beyond that the partitioned IVF-of-NSW variant
  * ([[HnswIndexer]]) is the distributed path.
  *
  * The build is MULTI-THREADED (hnswlib's concurrency model): neighbor
  * lists are immutable int arrays published through an AtomicReference
  * (copy-on-write), so beam searches read lock-free snapshots while
  * per-node locks serialize list mutation. Level draws stay a pure
  * function of (seed, node index) — only link sets vary run-to-run,
  * which moves recall by well under a point; reloading a SAVED artifact
  * is exactly reproducible (the graph itself is serialized).
  *
  * The artifact serializes the layered adjacency as an aux relation
  * `(idx, layer, nbrs)` plus the node-order id array in meta, so a
  * reloaded artifact re-aligns vectors exactly like CoverTree does.
  */
final case class HnswGlobalIndexer(
    m: Int = 16, efConstruction: Int = 200,
    metric: String = "l2", seed: Long = 42,
    buildThreads: Int = Runtime.getRuntime.availableProcessors()) extends Indexer {
  val kind = "hnsw_global"

  def build(base: DataFrame): IndexArtifact = {
    // Auto-route above the driver build budget (same cap discipline as
    // LocalScan): the global build collects every vector onto the driver,
    // which README pins at roughly 5M×384 on the default 16 GiB heap.
    // Rather than OOM past that, route to the distributed per-centroid
    // build (HnswIndexer — the measured `hnsw_dist` path) with the
    // SPANN spill=2 closure and ~128k-row groups. HnswGlobalSearcher
    // recognizes the resulting kind="hnsw" artifact and delegates.
    // The exact probe runs first, never an estimate (Regime.collectUnder):
    // near the cap the collect is GBs, and an array column's estimate
    // can read ~50× small.
    val stats = LocalScan.payloadStats(base, "vector", 4)
    val fits = stats.exists { case (n, width) =>
      // floats + layered adjacency (~2m ints layer0 + thinning uppers
      // ≈ 12m bytes/row) + Row/array-header overhead
      n * (width.toLong * 4 + 12L * m + 64) <= HnswGlobalIndexer.buildBytesCap
    }
    if (!fits) {
      val n = stats.map(_._1).getOrElse(0L)
      val nPart = math.max(8L, math.min(4096L, n / 131072L + 1L)).toInt
      val art = HnswIndexer(nPartitions = nPart, m = m,
        efConstruction = math.min(efConstruction, 100), metric = metric,
        seed = seed, spill = 2, spillEps = 0.15).build(base)
      // pin the delegated searcher's probe count AT ROUTING TIME: a
      // fixed nprobe=12 (the 16-group hnsw_dist tuning) would silently
      // collapse recall at hundreds of auto-routed groups, so the
      // FRACTION scales with the group count. 1/2 is the swept
      // saturation knee (the removed dev/RoutedNprobeSweep, 256 and 1024 groups on
      // the clustered overlap-0.7 stand-in: recall@10 0.9935/0.9970 at
      // 1/2 vs 0.9950/0.9985 at full probe — 3/4 buys ≤0.0015 more at
      // 1.5× the cost; the curve is group-count-invariant-or-better as
      // groups grow), floored at the tuned 16-group point.
      return art.copy(meta = art.meta +
        ("routed_nprobe" -> math.max(12, nPart / 2).toString))
    }
    val rows = base.select(col("id").cast("long"), col("vector"))
      .orderBy("id").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val model = HnswGlobalModel.build(ids, vecs, metric, m, efConstruction,
      seed, buildThreads)
    val spark = base.sparkSession
    import spark.implicits._
    val graph = model.adjacencyRows.toSeq
      .toDF("idx", "layer", "nbrs")
    IndexArtifact(kind, base,
      meta = Map("metric" -> metric, "m" -> m.toString,
        "ef_construction" -> efConstruction.toString,
        "hg.ids" -> ids.mkString(","),
        "hg.levels" -> model.levels.mkString(","),
        "hg.entry" -> model.entry.toString,
        "hg.max_level" -> model.maxLevel.toString),
      aux = Map("graph" -> graph),
      local = Map("model" -> model))
  }
}

object HnswGlobalIndexer {
  /** driver-heap budget for the global (collect-everything) build.
    * Default 8 GiB ≈ 5M×384-d float vectors + adjacency on the 16 GiB
    * default heap — the crossover README §Distributed HNSW documents.
    * Above it [[HnswGlobalIndexer.build]] routes to the distributed
    * per-centroid build instead of OOMing. */
  def buildBytesCap: Long =
    sys.props.get("graft.hnsw.buildBytesCap").map(_.toLong).getOrElse(8L << 30)
}

final case class HnswGlobalSearcher(efSearch: Int = 100, metric: String = "l2",
    counter: Option[LongAccumulator] = None) extends Searcher {

  // Reuse ONE broadcast of the model across repeated search() calls on
  // this searcher (Experiment repeat loops, BaselineCompare warm+3):
  // re-broadcasting a multi-MB graph per call accumulates broadcast
  // blocks on the executors for the life of the session.
  @transient private var cachedModel: HnswGlobalModel = _
  @transient private var cachedBc: org.apache.spark.broadcast.Broadcast[HnswGlobalModel] = _

  private def broadcastModel(spark: org.apache.spark.sql.SparkSession,
      model: HnswGlobalModel): org.apache.spark.broadcast.Broadcast[HnswGlobalModel] =
    synchronized {
      if (cachedBc == null || !(cachedModel eq model)) {
        // unpersist (not destroy): frees executor copies now; any
        // not-yet-materialized plan holding the old handle can still
        // lazily re-fetch from the driver
        if (cachedBc != null) cachedBc.unpersist()
        cachedModel = model
        cachedBc = spark.sparkContext.broadcast(model)
      }
      cachedBc
    }

  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame =
    searchImpl(artifact, queries, k, None)

  /** Filtered variant: the walk traverses the FULL graph but only ids in
    * `allowed` (one-column `id` relation) enter the result heap — the
    * same IDSelector contract as [[HnswSearcher.searchFiltered]]. Falls
    * back to `k·oversample`+post-filter only when the allowed set
    * exceeds the driver bitmap cap ([[HnswSearcher.allowedLocalCap]]);
    * `strict` turns that crossover into a loud failure for callers
    * whose contract excludes the approximate path. */
  def searchFiltered(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowed: DataFrame, oversample: Int = 4,
      strict: Boolean = false): DataFrame =
    searchImpl(artifact, queries, k, Some(allowed), oversample, strict)

  private def searchImpl(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowedOpt: Option[DataFrame], oversample: Int = 4,
      strict: Boolean = false): DataFrame = {
    // over-cap builds auto-route to the distributed per-centroid index
    // (HnswGlobalIndexer.build) — serve it with its own searcher at the
    // measured hnsw_dist operating point (probe 12 of the spill=2 groups)
    if (artifact.kind == "hnsw") {
      // probe count pinned at build-routing time (scaled with the routed
      // partition count); the `max(12, nPart/2)` fallback (the swept
      // fraction — the removed dev/RoutedNprobeSweep) covers artifacts from stores
      // written before the meta key existed
      val nprobe = artifact.meta.get("routed_nprobe").map(_.toInt)
        .getOrElse(math.max(12,
          artifact.meta.get("n_partitions").map(_.toInt).getOrElse(16) / 2))
      val delegated =
        HnswSearcher(nprobe = nprobe, efSearch = efSearch, metric = metric)
      return allowedOpt match {
        // the per-centroid selector walk has no approximate fallback
        // (over-cap allowed sets ride the distributed plan), so
        // oversample/strict don't apply there
        case Some(al) => delegated.searchFiltered(artifact, queries, k, al)
        case None     => delegated.search(artifact, queries, k)
      }
    }
    val spark = artifact.data.sparkSession
    val model = artifact.local.get("model") match {
      case Some(mo: HnswGlobalModel) => mo
      case _ => HnswGlobalModel.fromArtifact(artifact)
    }
    val acc = counter
    val efS = efSearch
    // selector bitmap over model node indexes (None = unfiltered). The
    // allowed set collects under the same driver cap as the per-centroid
    // filtered walk; over cap, fall back to oversample+post-filter on
    // the unfiltered walk (the only filtered path with a recall/
    // selectivity trade — documented in FilteredSearch).
    val selOpt: Option[Array[Boolean]] = allowedOpt match {
      case None => None
      case Some(al) =>
        val cap = HnswSearcher.allowedLocalCap
        Regime.rowsUpTo(al.select(col("id").cast("long")), cap) match {
          case None =>
            if (strict) throw new IllegalStateException(
              s"hnsw_global filtered search: allowed set exceeds the " +
                s"selector-walk cap (HnswSearcher.allowedLocalCap=$cap ids); " +
                "the oversample+post-filter fallback trades recall for " +
                "selectivity and this caller demanded the selector walk — " +
                "raise graft.hnsw.allowedLocalCap or drop strict")
            val alIds = al.select(col("id").cast("long").as("id"))
            val over = searchImpl(artifact, queries, k * math.max(1, oversample), None)
            return KnnJoin.topKExploded(
              over.join(alIds, Seq("id"), "left_semi")
                .select(col("qid"), col("id"), col("dist")),
              col("id"), col("dist"), k)
          case Some(rows) =>
            val set = new java.util.HashSet[java.lang.Long](rows.length * 2)
            rows.foreach(r => set.add(r.getLong(0)))
            val sel = new Array[Boolean](model.ids.length)
            var i = 0
            while (i < model.ids.length) {
              sel(i) = set.contains(model.ids(i)); i += 1
            }
            Some(sel)
        }
    }
    val outSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    // Adaptive: the graph already lives on the driver (it was built
    // there — this searcher's documented bounded scope), and a search
    // batch is tiny BY DEFINITION, so below the cap the walk runs
    // driver-parallel with zero Spark jobs beyond the query collect
    // (which the ADC/PQ searchers pay anyway for their LUTs) — the same
    // statistics-driven switch as AdcScan's finish. Huge query batches
    // take the broadcast + mapPartitions path.
    // lazy (see IvfSq8Searcher): DataFrame construction runs the
    // analyzer eagerly; only the distributed mapPartitions path needs it
    def qRows = queries.select(col("qid").cast("long"), col("vector"))
    val cap = HnswGlobalSearcher.driverWalkCap
    // memoized across repeated searches of the same batch (LocalScan);
    // the capped probe collects at most cap+1 rows, so a huge query
    // batch never lands on the driver before routing distributed
    val collected = LocalScan.queryVecs(queries, cap)
    if (collected.isDefined) {
      val (cQids, cVecs) = collected.get
      val ws = ThreadLocal.withInitial[HnswWorkspace](() =>
        new HnswWorkspace(model.vecs.length))
      val out = new Array[Array[(Long, Double)]](cQids.length)
      // per-query ndis slots, summed into the accumulator ONCE after the
      // parallel loop: LongAccumulator.add is task-merge-safe on
      // executors but not thread-safe for concurrent driver threads
      val ndisPer = new Array[Long](cQids.length)
      val selArr = selOpt.orNull
      java.util.stream.IntStream.range(0, cQids.length).parallel().forEach { i =>
        val (res, ndis) = model.knn(cVecs(i), k, efS, ws.get(), selArr)
        ndisPer(i) = ndis
        out(i) = res
      }
      acc.foreach(_.add(ndisPer.sum))
      return LocalScan.pairsResultDf(spark, cQids, out)
    }
    val bModel = broadcastModel(spark, model)
    // the selector rides its own broadcast (1 byte/node) — rebroadcast
    // per filtered call is fine; the model broadcast stays shared
    val bSel = selOpt.map(spark.sparkContext.broadcast(_))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    qRows
      .mapPartitions { it =>
        val mo = bModel.value
        val sel = bSel.map(_.value).orNull
        // one workspace per partition: the O(n) stamp-visited array is
        // exactly what HnswWorkspace exists to amortize — per-query
        // allocation+zeroing would be a multi-MB hit on the hot path
        val ws = new HnswWorkspace(mo.vecs.length)
        it.flatMap { r =>
          val qid = r.getLong(0)
          val (res, ndis) = mo.knn(r.getSeq[Float](1).toArray, k, efS, ws, sel)
          acc.foreach(_.add(ndis))
          res.zipWithIndex.map { case ((id, d), i) => Row(qid, i + 1, id, d) }
        }
      }(enc)
  }

}

object HnswGlobalSearcher {
  /** query-batch cap for the driver-parallel walk (above it, the walk
    * distributes via the broadcast model) */
  val driverWalkCap: Int = 100_000
}

/** Driver-side multi-layer HNSW graph. Levels are sampled geometrically
  * (mult = 1/ln m); inserts descend greedily through upper layers then
  * beam-link with efConstruction at each layer ≤ node level; neighbor
  * lists prune to M (2M at layer 0) keeping the diverse-closest.
  * Adjacency is immutable-array copy-on-write so concurrent builders and
  * searchers never see a torn list. */
final class HnswGlobalModel(
    val ids: Array[Long], val vecs: Array[Array[Float]],
    val metric: String, val m: Int) extends Serializable {

  @volatile var entry: Int = 0
  @volatile var maxLevel: Int = 0
  var levels: Array[Int] = _
  /** links(node)(layer).get() = neighbor node indices (layer ≤ levels(node)) */
  var links: Array[Array[AtomicReference[Array[Int]]]] = _

  // metric dispatch hoisted out of the innermost loop: a per-call string
  // compare on the distance path costs measurably at 10⁸ calls per build
  private val isCosine = metric == "cosine"

  // SimdDist.kernel is the dim-gated Vector-API kernel since r12 when
  // the module resolves (SIMD at >= simdMinDim, float-scalar below and
  // without the module; the floor-tier gate
  // tolerates lane-reassociated sums — see SimdDist's scope note and the
  // species-access fix that unblocked intrinsification)
  @inline private[operators] def dist(a: Array[Float], b: Array[Float]): Double =
    if (isCosine) SimdDist.kernel.cosineDist(a, b)
    else SimdDist.kernel.l2(a, b)

  /** greedy descent at one layer: follow improving links to a local min */
  private[operators] def greedy(q: Array[Float], start: Int, layer: Int,
      ws: HnswWorkspace): Int = {
    var cur = start
    var curD = dist(q, vecs(cur)); ws.ndis += 1
    var improved = true
    while (improved) {
      improved = false
      val ns = links(cur)(layer).get()
      var i = 0
      while (i < ns.length) {
        val d = dist(q, vecs(ns(i))); ws.ndis += 1
        if (d < curD) { curD = d; cur = ns(i); improved = true }
        i += 1
      }
    }
    cur
  }

  /** ef-beam at one layer; returns (node, dist) ascending, ≤ ef entries,
    * as primitive parallel arrays.
    * Hot path: primitive min-heap candidates + int-stamp visited array —
    * zero boxing, zero per-visit allocation (the java.util.PriorityQueue/
    * HashSet version spent more time allocating tuples and Integers than
    * computing distances; 20k-insert builds went from minutes to seconds).
    * The result heap is workspace-reused and DRAINED into the two output
    * arrays — the only allocation per call. (The earlier boxed-tuple
    * return was the dominant garbage source of the 100k-insert build:
    * amplified by a busy bench-context heap it inflated build 5×.) */
  private[operators] def searchLayer(q: Array[Float], start: Int, ef: Int,
      layer: Int, ws: HnswWorkspace, sel: Array[Boolean] = null): NodeDists = {
    val visited = ws.freshVisited()
    val stamp = ws.stamp
    ws.clearHeap()
    val best = ws.topkFor(ef)
    val d0 = dist(q, vecs(start)); ws.ndis += 1
    ws.push(d0, start); visited(start) = stamp
    if (sel == null || sel(start)) best.insert(start.toLong, d0)
    while (ws.heapSize > 0) {
      val d = ws.topDist
      val node = ws.popNode()
      val worst = if (best.size < best.k) Double.PositiveInfinity else best.dists(0)
      if (d > worst) ws.clearHeap()
      else {
        val ns = links(node)(layer).get()
        var i = 0
        while (i < ns.length) {
          val nb = ns(i)
          if (visited(nb) != stamp) {
            visited(nb) = stamp
            val dn = dist(q, vecs(nb)); ws.ndis += 1
            val w = if (best.size < best.k) Double.PositiveInfinity else best.dists(0)
            // IDSelector traversal (same contract as NswGraph.search):
            // disallowed nodes still NAVIGATE (enter the candidate beam)
            // but never the result heap, so the termination bound comes
            // from allowed candidates and the walk digs deeper under
            // selective predicates instead of collapsing like post-filter
            if (dn < w) {
              ws.push(dn, nb)
              if (sel == null || sel(nb)) best.insert(nb.toLong, dn)
            }
          }
          i += 1
        }
      }
    }
    // drain the (dist desc, id desc) max-heap back-to-front → ascending
    val n = best.size
    val nodes = new Array[Int](n)
    val ds = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      nodes(i) = best.ids(0).toInt; ds(i) = best.dists(0)
      best.popRoot(); i -= 1
    }
    new NodeDists(nodes, ds)
  }

  /** approximate k-NN: greedy descent through upper layers, ef-beam at
    * layer 0; returns ((id, dist) asc, ndis-for-this-call). Callers on a
    * hot path pass a reused per-thread/per-partition workspace (the stamp
    * trick makes reuse across calls free); the no-ws overload allocates a
    * fresh one for one-off callers. NOT thread-safe per workspace. */
  def knn(q: Array[Float], k: Int, ef: Int, ws: HnswWorkspace): (Array[(Long, Double)], Long) =
    knn(q, k, ef, ws, null)

  /** selector-filtered kNN: `sel(node)` gates result-heap entry at
    * layer 0 (upper-layer greedy descent is navigation only and stays
    * unfiltered); null = unfiltered. */
  def knn(q: Array[Float], k: Int, ef: Int, ws: HnswWorkspace,
      sel: Array[Boolean]): (Array[(Long, Double)], Long) = {
    val ndis0 = ws.ndis
    var ep = entry
    var lc = maxLevel
    while (lc > 0) { ep = greedy(q, ep, lc, ws); lc -= 1 }
    val res = searchLayer(q, ep, math.max(ef, k), 0, ws, sel)
    val kk = math.min(k, res.length)
    val out = new Array[(Long, Double)](kk)
    var i = 0
    while (i < kk) { out(i) = (ids(res.nodes(i)), res.dists(i)); i += 1 }
    (out, ws.ndis - ndis0)
  }

  def knn(q: Array[Float], k: Int, ef: Int): (Array[(Long, Double)], Long) =
    knn(q, k, ef, new HnswWorkspace(vecs.length))

  /** flatten to (idx, layer, nbrs) rows for the aux relation */
  def adjacencyRows: Iterator[(Int, Int, Seq[Int])] =
    links.iterator.zipWithIndex.flatMap { case (perLayer, idx) =>
      perLayer.iterator.zipWithIndex.map { case (ns, layer) =>
        (idx, layer, ns.get().toSeq)
      }
    }
}

/** Beam-search result rows: (node index, dist) ascending, primitive
  * parallel arrays — the unboxed return shape of
  * [[HnswGlobalModel.searchLayer]]. */
final class NodeDists(val nodes: Array[Int], val dists: Array[Double]) {
  def length: Int = nodes.length
  def nonEmpty: Boolean = nodes.length > 0
}

/** Allocation-free per-search scratch: stamp-based visited marks (one int
  * array reused across calls, no clearing), a primitive (dist, node)
  * binary min-heap for the beam candidates, and a reused result top-k. */
final class HnswWorkspace(n: Int) {
  private var topk: BoundedTopK = null
  /** one result heap per workspace, re-created only when ef changes
    * (constant within a build or a search batch) */
  def topkFor(k: Int): BoundedTopK = {
    if (topk == null || topk.k != k) topk = new BoundedTopK(k)
    else topk.reset()
    topk
  }
  var ndis = 0L
  private val visited = new Array[Int](n)
  var stamp = 0
  def freshVisited(): Array[Int] = {
    stamp += 1
    if (stamp == Int.MaxValue) { java.util.Arrays.fill(visited, 0); stamp = 1 }
    visited
  }

  private var heapD = new Array[Double](256)
  private var heapN = new Array[Int](256)
  var heapSize = 0
  def clearHeap(): Unit = heapSize = 0
  def topDist: Double = heapD(0)
  def push(d: Double, node: Int): Unit = {
    if (heapSize == heapD.length) {
      heapD = java.util.Arrays.copyOf(heapD, heapSize * 2)
      heapN = java.util.Arrays.copyOf(heapN, heapSize * 2)
    }
    var i = heapSize
    heapD(i) = d; heapN(i) = node; heapSize += 1
    while (i > 0) {
      val p = (i - 1) >> 1
      if (heapD(i) < heapD(p)) {
        val td = heapD(i); heapD(i) = heapD(p); heapD(p) = td
        val tn = heapN(i); heapN(i) = heapN(p); heapN(p) = tn
        i = p
      } else i = 0
    }
  }
  def popNode(): Int = {
    val out = heapN(0)
    heapSize -= 1
    if (heapSize > 0) {
      heapD(0) = heapD(heapSize); heapN(0) = heapN(heapSize)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < heapSize && heapD(l) < heapD(m)) m = l
        if (r < heapSize && heapD(r) < heapD(m)) m = r
        if (m == i) done = true
        else {
          val td = heapD(i); heapD(i) = heapD(m); heapD(m) = td
          val tn = heapN(i); heapN(i) = heapN(m); heapN(m) = tn
          i = m
        }
      }
    }
    out
  }
}

object HnswGlobalModel {

  private val EMPTY = Array.emptyIntArray

  /** Algorithm 1 of Malkov-Yashunin, parallel inserts: level =
    * ⌊−ln U · 1/ln m⌋ (drawn sequentially from the seed, so levels are
    * deterministic); worker threads claim node indices from a cursor,
    * descend greedily from the top to level+1, then beam-search with
    * efConstruction and link the m diverse-closest at every layer ≤
    * level; over-full neighbor lists prune to the closest m (2m at
    * layer 0) under that node's lock. */
  def build(ids: Array[Long], vecs: Array[Array[Float]], metric: String,
      m: Int, efC: Int, seed: Long, buildThreads: Int = 1): HnswGlobalModel = {
    val n = ids.length
    require(n > 0, "empty base set")
    val model = new HnswGlobalModel(ids, vecs, metric, m)
    val mL = 1.0 / math.log(m.toDouble)
    val mmax0 = 2 * m
    val rnd = new java.util.Random(seed)
    val levels = new Array[Int](n)
    val links = new Array[Array[AtomicReference[Array[Int]]]](n)
    model.levels = levels
    model.links = links
    // level draws + list allocation are sequential and seed-deterministic
    var li = 0
    while (li < n) {
      val lvl = (-math.log(rnd.nextDouble()) * mL).toInt
      levels(li) = lvl
      links(li) = Array.fill(lvl + 1)(new AtomicReference[Array[Int]](EMPTY))
      li += 1
    }
    val locks = Array.fill(n)(new Object)
    val entryLock = new Object

    @inline def d(a: Int, b: Int): Double = model.dist(vecs(a), vecs(b))
    /** SELECT-NEIGHBORS-HEURISTIC (Malkov-Yashunin Alg. 4): walk the
      * candidates ascending (`nodes`/`ds` pre-sorted by (dist, node)) and
      * keep e only if it is closer to the base point than to every
      * already-kept neighbor — spreads links across directions instead of
      * clustering them (closest-M alone cost ~7 recall points on the 20k
      * random baseline); pruned candidates back-fill to the cap
      * (keepPrunedConnections). `exclude` drops the inserted node itself
      * without an intermediate filtered copy. Primitive arrays end to
      * end: this runs ~n·m times per build and the boxed-tuple version
      * was a dominant garbage source. */
    def selectNeighbors(nodes: Array[Int], ds: Array[Double], len: Int,
        exclude: Int, cap: Int): Array[Int] = {
      val res = new Array[Int](cap)
      var resLen = 0
      val skipped = new Array[Int](len)
      var skippedLen = 0
      var j = 0
      while (j < len && resLen < cap) {
        val e = nodes(j); val dE = ds(j)
        if (e != exclude) {
          var keep = true
          var r = 0
          while (keep && r < resLen) {
            if (d(e, res(r)) < dE) keep = false
            r += 1
          }
          if (keep) { res(resLen) = e; resLen += 1 }
          else { skipped(skippedLen) = e; skippedLen += 1 }
        }
        j += 1
      }
      var s = 0
      while (resLen < cap && s < skippedLen) {
        res(resLen) = skipped(s); resLen += 1; s += 1
      }
      if (resLen == cap) res else java.util.Arrays.copyOf(res, resLen)
    }
    /** append `nb` to links(e)(lc) and re-prune with the same heuristic
      * if over cap — copy-on-write under e's lock, so readers never see
      * a torn list and concurrent appends serialize */
    def addLink(e: Int, lc: Int, nb: Int, cap: Int): Unit =
      locks(e).synchronized {
        val cur = links(e)(lc).get()
        val appended = java.util.Arrays.copyOf(cur, cur.length + 1)
        appended(cur.length) = nb
        val next =
          if (appended.length <= cap) appended
          else {
            // insertion-sort the ≤ 2m+1 candidates by (dist, node) asc
            // in place on primitive parallel arrays
            val len = appended.length
            val ds = new Array[Double](len)
            var i = 0
            while (i < len) { ds(i) = d(e, appended(i)); i += 1 }
            i = 1
            while (i < len) {
              val dv = ds(i); val nv = appended(i)
              var j = i - 1
              while (j >= 0 &&
                  (ds(j) > dv || (ds(j) == dv && appended(j) > nv))) {
                ds(j + 1) = ds(j); appended(j + 1) = appended(j); j -= 1
              }
              ds(j + 1) = dv; appended(j + 1) = nv
              i += 1
            }
            selectNeighbors(appended, ds, len, -1, cap)
          }
        links(e)(lc).set(next)
      }

    def insert(i: Int, ws: HnswWorkspace): Unit = {
      val lvl = levels(i)
      // consistent (entry, maxLevel) snapshot; a stale one only means a
      // slightly longer descent, never a wrong result
      var (ep, top) = entryLock.synchronized((model.entry, model.maxLevel))
      var lc = top
      while (lc > lvl) { ep = model.greedy(vecs(i), ep, lc, ws); lc -= 1 }
      lc = math.min(lvl, top)
      while (lc >= 0) {
        val w = model.searchLayer(vecs(i), ep, efC, lc, ws)
        val neighbors = selectNeighbors(w.nodes, w.dists, w.length, i, m)
        val cap = if (lc == 0) mmax0 else m
        neighbors.foreach { e =>
          addLink(i, lc, e, cap)
          addLink(e, lc, i, cap)
        }
        if (w.nonEmpty) ep = w.nodes(0)
        lc -= 1
      }
      if (lvl > model.maxLevel) entryLock.synchronized {
        if (lvl > model.maxLevel) { model.maxLevel = lvl; model.entry = i }
      }
    }

    model.entry = 0
    model.maxLevel = levels(0)
    val threads = math.max(1, math.min(buildThreads, n))
    if (threads == 1) {
      val ws = new HnswWorkspace(n)
      var i = 1
      while (i < n) { insert(i, ws); i += 1 }
    } else {
      val cursor = new AtomicInteger(1)
      val failure = new AtomicReference[Throwable](null)
      val pool = (0 until threads).map { _ =>
        val t = new Thread(() => {
          val ws = new HnswWorkspace(n)
          try {
            var i = cursor.getAndIncrement()
            while (i < n && failure.get() == null) {
              insert(i, ws)
              i = cursor.getAndIncrement()
            }
          } catch { case e: Throwable => failure.compareAndSet(null, e) }
        })
        t.setDaemon(true); t.start(); t
      }
      pool.foreach(_.join())
      if (failure.get() != null) throw failure.get()
    }
    model
  }

  /** load path for artifacts reloaded from the store: re-align collected
    * vectors to the serialized hg.ids order, rebuild links from the aux
    * graph relation */
  def fromArtifact(artifact: IndexArtifact): HnswGlobalModel = {
    val meta = artifact.meta
    val ids = meta("hg.ids").split(",").map(_.toLong)
    val rows = artifact.data
      .select(col("id").cast("long"), col("vector")).collect()
    val byId = new java.util.HashMap[Long, Array[Float]](rows.length * 2)
    rows.foreach(r => byId.put(r.getLong(0), r.getSeq[Float](1).toArray))
    val vecs = ids.map { id =>
      val v = byId.get(id)
      require(v != null, s"hnsw_global artifact missing vector for id $id")
      v
    }
    val model = new HnswGlobalModel(ids, vecs,
      meta.getOrElse("metric", "l2"), meta.getOrElse("m", "16").toInt)
    model.entry = meta("hg.entry").toInt
    model.maxLevel = meta("hg.max_level").toInt
    model.levels = meta("hg.levels").split(",").map(_.toInt)
    val links = new Array[Array[AtomicReference[Array[Int]]]](ids.length)
    var idx = 0
    while (idx < ids.length) {
      links(idx) = Array.fill(model.levels(idx) + 1)(
        new AtomicReference[Array[Int]](EMPTY))
      idx += 1
    }
    artifact.aux("graph").select("idx", "layer", "nbrs").collect().foreach { r =>
      val cur = links(r.getInt(0))(r.getInt(1))
      cur.set(cur.get() ++ r.getSeq[Int](2))
    }
    model.links = links
    model
  }
}
