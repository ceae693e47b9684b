package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HNSW-family graph search, Spark-shaped (reference J11: FAISS
  * `IndexHNSWFlat` glue, hnsw.py:76-81 / modular.py:136-179).
  *
  * A single global navigable graph is inherently sequential and
  * pointer-chasing — the wrong shape for a cluster. SURVEY §2.3-J11
  * option (a): **IVF-of-NSW** — partition the base by coarse centroid and
  * build an independent small navigable-small-world graph per centroid
  * group **at build time** (the reference builds once, hnsw.py:76-81).
  * The index relation IS the per-node adjacency:
  * `(centroid_id, idx, id, vector, nbrs)` — persistable, partitionable by
  * `centroid_id`, and materialized under `build()` so `search()` only
  * routes queries, loads the arrays, and walks. Each group's graph build
  * is local and parallel, so build time scales with the largest group,
  * not n.
  */
final case class HnswIndexer(
    nPartitions: Int = 8, m: Int = 8, efConstruction: Int = 32,
    metric: String = "l2", seed: Long = 42,
    // SPANN-style boundary closure (Chen et al., NeurIPS 2021 §4.2):
    // assign each vector to up to `spill` nearest centroids whose
    // distance is within (1+spillEps)·d₁ — boundary points then appear
    // in every graph a nearby query may route to, lifting the
    // recall-per-probe frontier at the cost of duplicated index rows.
    // spill=1 (default) is the plain disjoint partition; searchers
    // dedup by id iff meta says spill>1.
    spill: Int = 1, spillEps: Double = 0.15) extends Indexer {
  val kind = "hnsw"

  def build(base: DataFrame): IndexArtifact = {
    // coarse partitioner (same discipline as IVF build)
    val cached = base.select(col("id").cast("long").as("id"), col("vector"))
    // one collect job in the under-cap regime (IvfModel.boundedVecSample
    // — same rows, same order as the historical count-then-collect)
    val (sample, _) = IvfModel.boundedVecSample(cached, "vector", 262144L, seed)
    val centers = LocalKMeans.fit(sample, math.min(nPartitions, sample.length),
      seed, iters = 10)
    val spillN = math.max(1, math.min(spill, centers.length))
    val assigned = cached
      .withColumn("centroid_id",
        explode(Hnsw.assignUdf(centers, spillN, spillEps)(col("vector"))))
      .repartition(centers.length, col("centroid_id"))
    // per-centroid NSW construction, ONCE, inside the build job: each
    // Spark partition holds whole centroid groups (repartition hashes the
    // grouping column), builds one graph per group, and emits the
    // adjacency rows that become the index relation
    val adjacency = Hnsw.buildAdjacency(assigned, m, efConstruction, metric)
      .persist()
    adjacency.count() // materialize: graph construction is a BUILD cost
    val spark = base.sparkSession
    import spark.implicits._
    val centroids = centers.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
      .toDF("centroid_id", "vector")
    IndexArtifact(kind, adjacency,
      meta = Map("m" -> m.toString, "ef_construction" -> efConstruction.toString,
        "metric" -> metric, "n_partitions" -> centers.length.toString,
        "spill" -> spillN.toString, "spill_eps" -> spillEps.toString),
      aux = Map("centroids" -> centroids))
  }
}

/** Shared build machinery, factored so [[IndexAppend]]'s touched-group
  * rebuild encodes/builds EXACTLY as the one-shot build does (same
  * contract as IvfSq8.encodeRelation / IvfPq.encodeRow). */
object Hnsw {
  import org.apache.spark.sql.expressions.UserDefinedFunction

  /** SPANN-closure assignment against FROZEN centroids: up to `spillN`
    * nearest centroid ids whose distance is within (1+eps)·d₁. The
    * build's partitioner and the append path's arrival router are this
    * one function. */
  def assignUdf(centers: Array[Array[Float]], spillN: Int,
      eps: Double): UserDefinedFunction = udf { (v: Seq[Float]) =>
    val arr = v.toArray
    // top-`spill` centroids ascending by distance (exact: nPartitions
    // is small by construction)
    val top = new BoundedTopK(spillN)
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var i = 0
      val ce = centers(c)
      while (i < ce.length) { val df = arr(i) - ce(i); d += df * df; i += 1 }
      top.insert(c.toLong, d)
      c += 1
    }
    val sorted = top.sorted
    val d1 = math.sqrt(sorted(0)._2)
    sorted.iterator.zipWithIndex
      .filter { case ((_, d), j) => j == 0 || math.sqrt(d) <= (1.0 + eps) * d1 }
      .map(_._1._1.toInt).toSeq
  }

  private val adjSchema = StructType(Seq(
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("idx", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("nbrs", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Per-centroid NSW construction over an assigned relation with columns
    * (id, vector, centroid_id). Each group's rows are SORTED BY id before
    * insertion, so a group's graph is a pure function of its row SET —
    * shuffle arrival order can't change adjacency, and rebuilding a group
    * with appended rows (IndexAppend) yields byte-identical output to a
    * one-shot build over the union. */
  def buildAdjacency(assigned: DataFrame, m: Int, efC: Int,
      metric: String): DataFrame = {
    val met = metric
    val adjEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(adjSchema)
    assigned.select(col("id"), col("vector"), col("centroid_id"))
      .mapPartitions { it =>
        val groups = new java.util.HashMap[Int,
          (scala.collection.mutable.ArrayBuffer[Long],
           scala.collection.mutable.ArrayBuffer[Array[Float]])]()
        it.foreach { r =>
          val cid = r.getInt(2)
          var g = groups.get(cid)
          if (g == null) {
            g = (new scala.collection.mutable.ArrayBuffer[Long](),
              new scala.collection.mutable.ArrayBuffer[Array[Float]]())
            groups.put(cid, g)
          }
          g._1 += r.getLong(0)
          g._2 += r.getSeq[Float](1).toArray
        }
        import scala.jdk.CollectionConverters._
        groups.entrySet().iterator().asScala.flatMap { e =>
          val cid = e.getKey
          val (rawIds, rawVecs) = e.getValue
          // deterministic insertion order: ascending id
          val order = rawIds.indices.toArray.sortBy(rawIds(_))
          val ids = order.map(rawIds(_))
          val vecs = order.map(rawVecs(_))
          val g = NswGraph.build(vecs, m, efC, met)
          (0 until ids.length).iterator.map { i =>
            Row(cid, i, ids(i), vecs(i).toSeq, g.neighbors(i).toSeq)
          }
        }
      }(adjEnc)
  }
}

final case class HnswSearcher(nprobe: Int = 2, efSearch: Int = 48,
    metric: String = "l2") extends Searcher {

  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame =
    searchImpl(artifact, queries, k, None)

  /** Filtered search, FAISS-IDSelector style: the walk traverses the
    * FULL graph (disallowed nodes still navigate) but only allowed ids
    * enter the result heap, so the beam bound comes from allowed
    * candidates and the walk digs deeper under selective predicates —
    * unlike oversample-then-post-filter, whose recall collapses once
    * the allowed GT sits beyond the walk's unrestricted depth (found at
    * the 100× scaled pass). The allowed flags ride co-partitioned with
    * the adjacency relation (one semi-style join, no corpus-sized
    * broadcast), so the shape holds at 100 TB. */
  def searchFiltered(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowed: DataFrame): DataFrame =
    searchImpl(artifact, queries, k, Some(allowed))

  private def searchImpl(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowedOpt: Option[DataFrame]): DataFrame = {
    // Adaptive driver-local walk (same discipline as HnswGlobalSearcher /
    // LocalScan): the per-centroid graphs are disjoint-id and walk-ready,
    // so a small serving batch routes + walks driver-parallel with zero
    // Spark jobs beyond the query collect. Capped by the query-row cap
    // and the payload bytes cap (and, filtered, by the allowed-id cap);
    // over-cap inputs keep the distributed plan below, which
    // HnswDistLocalSpec asserts produces identical rows.
    if (Regime.enabled) {
      val collected =
        LocalScan.queryVecs(queries, HnswGlobalSearcher.driverWalkCap)
      val model =
        if (collected.isDefined) HnswSearcher.localModel(artifact) else None
      // Some(None) = unfiltered local; Some(Some(set)) = filtered local;
      // None = allowed set over the driver cap → distributed plan only
      val localAllowed: Option[Option[java.util.HashSet[java.lang.Long]]] =
        allowedOpt match {
          case None => Some(None)
          case Some(al) if collected.isDefined && model.isDefined =>
            Regime.rowsUpTo(al.select(col("id").cast("long")),
                HnswSearcher.allowedLocalCap).map { rows =>
              val s = new java.util.HashSet[java.lang.Long](rows.length * 2)
              rows.foreach(r => s.add(r.getLong(0)))
              Some(s)
            }
          case _ => None
        }
      if (collected.isDefined && model.isDefined && localAllowed.isDefined) {
        val (cQids, cVecs) = collected.get
        val mo = model.get
        // per-group selector bitmaps, built once per search batch
        val sels: Array[Array[Boolean]] = localAllowed.get match {
          case None => null
          case Some(set) =>
            mo.idsByCid.map(ids => ids.map(id => set.contains(id)))
        }
        // spill>1 duplicates boundary rows across graphs: a query probing
        // two graphs can see the same (id, dist) twice, so the merge must
        // dedup by id (duplicates carry identical dist — same vector,
        // same deterministic kernel)
        val dedup = artifact.meta.get("spill").exists(_.toInt > 1)
        val heaps = new Array[BoundedTopK](cQids.length)
        java.util.stream.IntStream.range(0, cQids.length).parallel().forEach { qi =>
          val qv = cVecs(qi)
          // routing = KnnJoin.knnJoin(q, centroids, nprobe, "l2"): plain
          // L2 in index-order double accumulation, ties broken (dist, id)
          // by the shared BoundedTopK
          val route = new BoundedTopK(math.min(nprobe, mo.centroids.length))
          var c = 0
          while (c < mo.centroids.length) {
            val ce = mo.centroids(c)
            var acc = 0.0; var i = 0
            while (i < ce.length) {
              val d = qv(i).toDouble - ce(i).toDouble; acc += d * d; i += 1
            }
            route.insert(c.toLong, math.sqrt(acc))
            c += 1
          }
          val h = new BoundedTopK(k)
          val seen = if (dedup) new java.util.HashSet[java.lang.Long]() else null
          route.sorted.foreach { case (cidL, _) =>
            val cid = cidL.toInt
            val g = mo.graphs(cid)
            if (g != null) {
              val ids = mo.idsByCid(cid)
              val sel = if (sels == null) null else sels(cid)
              g.search(qv, k, efSearch, sel).foreach { case (i, d) =>
                if (seen == null || seen.add(ids(i))) h.insert(ids(i), d)
              }
            }
          }
          heaps(qi) = h
        }
        return LocalScan.resultDf(artifact.data.sparkSession, cQids, heaps)
      }
    }
    // route each query to its nprobe nearest centroid graphs
    val q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    val centroids = artifact.aux("centroids")
      .select(col("centroid_id").cast("long").as("id"), col("vector"))
    val probes = KnnJoin.knnJoin(q, centroids, nprobe, "l2")
      .select(col("qid"), col("id").cast("int").as("centroid_id"))
      .join(broadcast(q), Seq("qid"))
    // co-partition routed queries with the prebuilt adjacency rows; the
    // walk only LOADS arrays — no graph construction on the search path.
    // Filtered: the allowed flag joins onto the adjacency rows BEFORE
    // the repartition, so each group's selector bitmap arrives with its
    // graph — no driver set, no broadcast.
    val met = metric
    val efS = efSearch
    val filtered = allowedOpt.isDefined
    val dataOk = allowedOpt match {
      case None =>
        artifact.data.select(col("centroid_id"), col("idx"), col("id"),
          col("vector"), col("nbrs"), lit(true).as("ok"))
      case Some(al) =>
        artifact.data.join(
            al.select(col("id").cast("long").as("id")).distinct()
              .withColumn("__ok", lit(true)),
            Seq("id"), "left")
          .select(col("centroid_id"), col("idx"), col("id"), col("vector"),
            col("nbrs"), coalesce(col("__ok"), lit(false)).as("ok"))
    }
    val outSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val tagged = dataOk
      .withColumn("qid", lit(null).cast("long"))
      .unionByName(probes
        .select(col("centroid_id"), lit(-1).as("idx"), lit(-1L).as("id"),
          col("vector"), lit(null).cast("array<int>").as("nbrs"),
          lit(true).as("ok"), col("qid")))
      .repartition(artifact.meta("n_partitions").toInt, col("centroid_id"))
    val merged = tagged.mapPartitions { it =>
      // bucket rows per centroid group: with spill=1 graphs are disjoint
      // by centroid and the top-k merge sees no overlapping ids; with
      // spill>1 boundary rows live in several graphs, so the merge below
      // (and the local path) dedup by id — keep that dedup
      final class Group {
        val rows = new scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Float], Array[Int], Boolean)]()
        val qIds = new scala.collection.mutable.ArrayBuffer[Long]()
        val qVecs = new scala.collection.mutable.ArrayBuffer[Array[Float]]()
      }
      val groups = new java.util.HashMap[Int, Group]()
      it.foreach { r =>
        val cid = r.getInt(0)
        var g = groups.get(cid)
        if (g == null) { g = new Group; groups.put(cid, g) }
        if (r.isNullAt(6)) {
          g.rows += ((r.getInt(1), r.getLong(2), r.getSeq[Float](3).toArray,
            r.getSeq[Int](4).toArray, r.getBoolean(5)))
        } else {
          g.qIds += r.getLong(6)
          g.qVecs += r.getSeq[Float](3).toArray
        }
      }
      import scala.jdk.CollectionConverters._
      groups.values().iterator().asScala.flatMap { g =>
        if (g.rows.isEmpty || g.qIds.isEmpty) Iterator.empty
        else {
          val n = g.rows.length
          val ids = new Array[Long](n)
          val vecs = new Array[Array[Float]](n)
          val nbrs = new Array[Array[Int]](n)
          val sel = if (filtered) new Array[Boolean](n) else null
          g.rows.foreach { case (idx, id, v, nb, ok) =>
            ids(idx) = id; vecs(idx) = v; nbrs(idx) = nb
            if (sel != null) sel(idx) = ok
          }
          val graph = NswGraph.fromAdjacency(vecs, nbrs, met)
          g.qIds.iterator.zip(g.qVecs.iterator).flatMap { case (qid, qv) =>
            graph.search(qv, k, efS, sel).map { case (i, d) => Row(qid, ids(i), d) }
          }
        }
      }
    }(enc)
    // merge across probed partitions → global top-k per query. With
    // spill>1 a boundary row lives in several graphs, so the same
    // (qid, id) can arrive twice with identical dist — dedup before the
    // top-k so a duplicate never occupies two result slots.
    val deduped =
      if (artifact.meta.get("spill").exists(_.toInt > 1))
        merged.dropDuplicates("qid", "id")
      else merged
    KnnJoin.topKExploded(deduped, col("id"), col("dist"), k)
  }
}

object HnswSearcher {
  /** max allowed-ids collected for the driver-local filtered walk
    * (8 B/id → 32 MB at the default); above it the distributed plan
    * carries the flags co-partitioned with the graph instead */
  def allowedLocalCap: Int =
    sys.props.get("graft.hnsw.allowedLocalCap").map(_.toInt).getOrElse(4 << 20)

  /** Driver-collected per-centroid graphs: the build's adjacency relation
    * reloaded walk-ready. With spill=1 id spaces are disjoint across
    * centroid groups (each base row lives in exactly one) and the
    * cross-probe merge needs no dedup; with spill>1 boundary rows live in
    * several graphs and both serve paths dedup by id (meta-driven). */
  final class DistModel(
      val graphs: Array[NswGraph],
      val idsByCid: Array[Array[Long]],
      val centroids: Array[Array[Float]])

  /** memoized per artifact relation; None above [[LocalScan.bytesCap]]
    * (the vector payload dominates: nbrs add ~2m ints/row) */
  private[operators] def localModel(artifact: IndexArtifact): Option[DistModel] = {
    // per-row bytes: vector floats + adjacency (~2m ints at spill-time
    // degree, NswGraph caps degree at 2m) + Row/array-header overhead
    val m = artifact.meta.getOrElse("m", "16").toInt
    def bytesOf(n: Long, width: Long): Long = n * (width * 4 + 8L * m + 64)
    LocalScan.memoized[DistModel](artifact.data, "hnsw")(d =>
      bytesOf(d.idsByCid.map(_.length.toLong).sum,
        if (d.centroids.isEmpty) 0 else d.centroids(0).length)) {
      Regime.collectUnder(artifact.data, LocalScan.bytesCap)(
        LocalScan.payloadStats(artifact.data, "vector", 4)
          .map { case (n, width) => bytesOf(n, width) }) {
        Some(artifact.data
          .select(col("centroid_id").cast("int"), col("idx").cast("int"),
            col("id").cast("long"), col("vector"), col("nbrs"))
          .collect())
      } { rows =>
        if (rows.isEmpty) 0L
        else bytesOf(rows.length, rows.head.getSeq[Float](3).length)
      }.map { rows =>
        val met = artifact.meta.getOrElse("metric", "l2")
        val nPart = artifact.meta("n_partitions").toInt
        val counts = new Array[Int](nPart)
        rows.foreach(r => counts(r.getInt(0)) += 1)
        val ids = Array.tabulate(nPart)(c => new Array[Long](counts(c)))
        val vecs = Array.tabulate(nPart)(c => new Array[Array[Float]](counts(c)))
        val adj = Array.tabulate(nPart)(c => new Array[Array[Int]](counts(c)))
        rows.foreach { r =>
          val cid = r.getInt(0); val idx = r.getInt(1)
          ids(cid)(idx) = r.getLong(2)
          vecs(cid)(idx) = r.getSeq[Float](3).toArray
          adj(cid)(idx) = r.getSeq[Int](4).toArray
        }
        val graphs = Array.tabulate(nPart) { c =>
          if (counts(c) == 0) null
          else NswGraph.fromAdjacency(vecs(c), adj(c), met)
        }
        val centroids = artifact.aux("centroids")
          .select(col("centroid_id").cast("int"), col("vector"))
          .collect()
          .sortBy(_.getInt(0))
          .map(_.getSeq[Float](1).toArray)
        new DistModel(graphs, ids, centroids)
      }
    }
  }
}

/** growable primitive int list: the adjacency representation (a generic
  * ArrayBuffer[Int] boxes every element — measurable on the walk hot
  * path, where each beam step reads a full neighbor list) */
private[operators] final class IntVec(initial: Int = 8) {
  private var arr = new Array[Int](math.max(1, initial))
  private var n = 0
  def add(x: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = x; n += 1
  }
  @inline def apply(i: Int): Int = arr(i)
  @inline def length: Int = n
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
}

/** Navigable-small-world graph (single layer; Malkov et al. 2014 — the
  * base layer of HNSW) with incremental insertion and beam search.
  * Search scratch (stamp-visited marks, primitive candidate heap, result
  * top-k) lives in a per-thread [[HnswWorkspace]] — the same de-boxing
  * HnswGlobal's walk got in round 8; the boxed HashSet[Integer] +
  * tuple-PriorityQueue path cost ~3× on both the per-centroid build and
  * the serve walk (the removed dev/HnswDistProbe before/after). */
final class NswGraph private (
    vecs: Array[Array[Float]], metric: String,
    private val nbrs: Array[IntVec]) {

  def this(vecs: Array[Array[Float]], metric: String) =
    this(vecs, metric, Array.fill(vecs.length)(new IntVec()))

  private[operators] def link(a: Int, b: Int): Unit = {
    nbrs(a).add(b)
    nbrs(b).add(a)
  }

  /** adjacency list of node i (for serialization into the index relation) */
  def neighbors(i: Int): Array[Int] = nbrs(i).toArray

  private val isCosine = metric == "cosine"

  // per-thread scratch, sized once to this graph's node count (the build
  // path inserts into a graph whose arrays are pre-sized to final n)
  @transient private lazy val wsTl: ThreadLocal[HnswWorkspace] =
    ThreadLocal.withInitial(() => new HnswWorkspace(vecs.length))

  // dim-gated Vector-API kernel since r12 (float-scalar when the module
  // is absent; floor-tier tolerance — SimdDist's scope note)
  @inline private def dist(a: Array[Float], b: Array[Float]): Double =
    if (isCosine) SimdDist.kernel.cosineDist(a, b)
    else SimdDist.kernel.l2(a, b)

  /** beam search from node 0; returns (index, dist) ascending, ≤ k.
    *
    * `sel` (optional): FAISS-IDSelector-style predicate bitmap — the
    * walk TRAVERSES every node (disallowed nodes still navigate; cutting
    * them would sever connectivity, which is why filtered graph search
    * can't pre-filter the adjacency relation) but only `sel(i)` nodes
    * enter the result heap. The beam bound comes from the allowed heap,
    * so under a selective filter the walk automatically digs deeper
    * before terminating — the fix for post-filtering's recall collapse
    * (found at the 100× scaled pass: oversample-then-filter fell below
    * the gate floor at 200k rows / 50% selectivity). */
  def search(q: Array[Float], k: Int, ef: Int,
      sel: Array[Boolean] = null): Array[(Int, Double)] = {
    if (vecs.isEmpty) return Array.empty
    val ws = wsTl.get()
    val visited = ws.freshVisited()
    val stamp = ws.stamp
    ws.clearHeap()
    val best = ws.topkFor(math.max(k, ef))
    val d0 = dist(q, vecs(0))
    ws.push(d0, 0); visited(0) = stamp
    if (sel == null || sel(0)) best.insert(0L, d0)
    var done = false
    while (!done && ws.heapSize > 0) {
      val d = ws.topDist
      val worst = if (best.size < best.k) Double.PositiveInfinity else best.dists(0)
      if (d > worst) done = true
      else {
        val node = ws.popNode()
        val ns = nbrs(node)
        var i = 0
        while (i < ns.length) {
          val nb = ns(i)
          if (visited(nb) != stamp) {
            visited(nb) = stamp
            val dn = dist(q, vecs(nb))
            val w = if (best.size < best.k) Double.PositiveInfinity else best.dists(0)
            if (dn < w) {
              ws.push(dn, nb)
              if (sel == null || sel(nb)) best.insert(nb.toLong, dn)
            }
          }
          i += 1
        }
      }
    }
    best.sorted.take(k).map { case (i, d) => (i.toInt, d) }
  }
}

object NswGraph {
  /** incremental insertion: each node links to its m nearest among the
    * already-inserted set (found by beam search), bidirectionally */
  def build(vecs: Array[Array[Float]], m: Int, efC: Int, metric: String): NswGraph = {
    val g = new NswGraph(vecs, metric)
    var i = 1
    while (i < vecs.length) {
      val found = g.search(vecs(i), m, efC)
      found.foreach { case (j, _) =>
        if (j != i) { g.link(i, j) }
      }
      i += 1
    }
    g
  }

  /** reconstruct a prebuilt graph from serialized adjacency arrays — the
    * search-path loader; does NO insertion work */
  def fromAdjacency(vecs: Array[Array[Float]], adjacency: Array[Array[Int]],
      metric: String): NswGraph = {
    val nbrs = adjacency.map { a =>
      val b = new IntVec(math.max(1, a.length))
      var i = 0
      while (i < a.length) { b.add(a(i)); i += 1 }
      b
    }
    new NswGraph(vecs, metric, nbrs)
  }
}
