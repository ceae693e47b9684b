package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** Cover-tree exact k-NN (reference J12: covertree_v2_2.py:316-500) —
  * exact search with triangle-inequality pruning (`dist ≤ bound +
  * 2^(level+1)`), recall ≡ 1.0 by construction.
  *
  * Spark shape (SURVEY §2.3-J12): the tree is built once on the driver
  * (every reference config is ≤ a few 100k vectors; at larger scale the
  * IVF family is the right tool) and **broadcast**; the search fans out
  * over query partitions — each executor walks the shared tree for its
  * queries. Distance computations are counted into a `LongAccumulator`
  * (A10 operation counters, base_algorithm.py:91-96 / `ndis`).
  */
final case class CoverTreeIndexer(metric: String = "l2") extends Indexer {
  val kind = "covertree"

  def build(base: DataFrame): IndexArtifact = {
    // ONE collect, at build time, sorted by id: DataFrame collect order is
    // not stable across shuffles/part files, and the CSR node indices are
    // positional — a different order on reload would silently pair nodes
    // with wrong vectors. Sorting pins the node↔id mapping; the id array
    // also serializes so a loaded artifact can re-align (see fromData).
    val rows = base.select(col("id").cast("long"), col("vector"))
      .orderBy("id").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val tree = CoverTreeModel.build(ids, vecs, metric)
    // persistable relation: the vectors themselves + tree arrays in meta;
    // `local` carries the already-built model so search never re-collects
    IndexArtifact(kind, base,
      meta = Map("metric" -> metric) ++ tree.serializeMeta,
      aux = Map.empty,
      local = Map("model" -> tree))
  }
}

final case class CoverTreeSearcher(metric: String = "l2",
    counter: Option[LongAccumulator] = None) extends Searcher {

  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame =
    searchImpl(artifact, queries, k, None)

  /** Filtered exact kNN: only ids in `allowed` (one-column `id`
    * relation) enter the result heap; the walk still navigates the full
    * tree and the triangle-inequality bound derives from the
    * allowed-only heap, so the result is EXACT over the allowed subset
    * (see [[CoverTreeModel.knn]]). Over the driver bitmap cap
    * ([[HnswSearcher.allowedLocalCap]]) it falls back to
    * `k·oversample`+post-filter — the one APPROXIMATE path; `strict`
    * makes that crossover fail loudly instead, for callers whose
    * contract is exactness (the `j12_covertree_filtered` hash gate —
    * without it, crossing the cap at a future scale decade would
    * surface as an opaque hash mismatch with nothing naming the cap). */
  def searchFiltered(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowed: DataFrame, oversample: Int = 4,
      strict: Boolean = false): DataFrame =
    searchImpl(artifact, queries, k, Some(allowed), oversample, strict)

  private def searchImpl(artifact: IndexArtifact, queries: DataFrame, k: Int,
      allowedOpt: Option[DataFrame], oversample: Int = 4,
      strict: Boolean = false): DataFrame = {
    val spark = artifact.data.sparkSession
    // the model built by CoverTreeIndexer.build rides along in
    // artifact.local — search does NOT touch the base relation again.
    // The collect+realign path below only runs for artifacts reloaded
    // from the store (where only data+meta survive).
    val tree = artifact.local.get("model") match {
      case Some(m: CoverTreeModel) => m
      case _ => CoverTreeModel.fromData(artifact.data, artifact.meta, metric)
    }
    // selector bitmap over tree node indexes (same cap discipline as the
    // HNSW filtered walks); over-cap allowed sets oversample+post-filter
    val selOpt: Option[Array[Boolean]] = allowedOpt match {
      case None => None
      case Some(al) =>
        val cap = HnswSearcher.allowedLocalCap
        Regime.rowsUpTo(al.select(col("id").cast("long")), cap) match {
          case None =>
            if (strict) throw new IllegalStateException(
              s"covertree filtered search: allowed set exceeds the exact " +
                s"selector-walk cap (HnswSearcher.allowedLocalCap=$cap ids); " +
                "the oversample+post-filter fallback is APPROXIMATE and this " +
                "caller demanded exactness — raise graft.hnsw.allowedLocalCap " +
                "or drop strict")
            val alIds = al.select(col("id").cast("long").as("id"))
            val over = searchImpl(artifact, queries, k * math.max(1, oversample), None)
            return KnnJoin.topKExploded(
              over.join(alIds, Seq("id"), "left_semi")
                .select(col("qid"), col("id"), col("dist")),
              col("id"), col("dist"), k)
          case Some(rows) =>
            val set = new java.util.HashSet[java.lang.Long](rows.length * 2)
            rows.foreach(r => set.add(r.getLong(0)))
            val sel = new Array[Boolean](tree.ids.length)
            var i = 0
            while (i < tree.ids.length) {
              sel(i) = set.contains(tree.ids(i)); i += 1
            }
            Some(sel)
        }
    }
    val acc = counter
    // adaptive local walk (see HnswGlobalSearcher / LocalScan): the tree
    // already lives on the driver, a search batch is tiny by definition —
    // below the cap the walk runs driver-core-parallel with zero Spark
    // jobs and zero per-search tree broadcasts
    val collected = LocalScan.queryVecs(queries,
      HnswGlobalSearcher.driverWalkCap)
    if (collected.isDefined) {
      val (qids, qVecs) = collected.get
      val out = new Array[Array[(Long, Double)]](qids.length)
      // per-query ndis slots, summed into the accumulator ONCE after the
      // parallel loop: LongAccumulator.add is task-merge-safe on
      // executors but not thread-safe for concurrent driver threads
      val ndisPer = new Array[Long](qids.length)
      val selArr = selOpt.orNull
      java.util.stream.IntStream.range(0, qids.length).parallel().forEach { i =>
        val (res, ndis) = tree.knn(qVecs(i), k, selArr)
        ndisPer(i) = ndis
        out(i) = res
      }
      acc.foreach(_.add(ndisPer.sum))
      return LocalScan.pairsResultDf(spark, qids, out)
    }
    val bTree = spark.sparkContext.broadcast(tree)
    val bSel = selOpt.map(spark.sparkContext.broadcast(_))
    val outSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    queries.select(col("qid").cast("long"), col("vector"))
      .mapPartitions { it =>
        val t = bTree.value
        val sel = bSel.map(_.value).orNull
        it.flatMap { r =>
          val qid = r.getLong(0)
          val q = r.getSeq[Float](1).toArray
          val (res, ndis) = t.knn(q, k, sel)
          acc.foreach(_.add(ndis))
          res.zipWithIndex.map { case ((id, d), i) => Row(qid, i + 1, id, d) }
        }
      }(enc)
  }
}

/** Driver-side cover tree: simplified (single child list per node, level
  * radius 2^level) but exact — the pruning bound only ever skips subtrees
  * that provably cannot contain a closer point. */
final class CoverTreeModel(
    val ids: Array[Long], val vecs: Array[Array[Float]],
    val metric: String) extends Serializable {

  // tree arrays (CSR): children(i) = indices of node i's children
  var root: Int = 0
  var level: Array[Int] = _
  var childOffsets: Array[Int] = _
  var children: Array[Int] = _

  // metric dispatch hoisted out of the hot loop (string compare per
  // distance call is measurable at millions of calls)
  private val isCosine = metric == "cosine"

  @inline private def dist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    if (isCosine) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 1.0 else 1.0 - dot / den
    } else {
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
  }

  /** exact k-NN with covering-radius pruning; returns ((id,dist) asc, ndis) */
  def knn(q: Array[Float], k: Int): (Array[(Long, Double)], Long) =
    knn(q, k, null)

  /** Selector-filtered exact kNN: `sel(node)` gates result-heap entry
    * only — every node still NAVIGATES (its subtree may hold allowed
    * points), and the pruning bound comes from the allowed-only heap,
    * which is always ≥ the unfiltered bound, so no subtree containing a
    * closer allowed point is ever skipped: the filtered walk stays EXACT
    * over the allowed subset. null = unfiltered. */
  def knn(q: Array[Float], k: Int, sel: Array[Boolean])
      : (Array[(Long, Double)], Long) = {
    var ndis = 0L
    val heap = new BoundedTopK(k)
    // best-first traversal: (lower-bound, node)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (x: (Double, Int), y: (Double, Int)) => java.lang.Double.compare(x._1, y._1))
    val dRoot = dist(q, vecs(root)); ndis += 1
    if (sel == null || sel(root)) heap.insert(ids(root), dRoot)
    pq.add((math.max(0.0, dRoot - coverRadius(level(root))), root))
    while (!pq.isEmpty) {
      val (lb, node) = pq.poll()
      val worst = if (heap.size < k) Double.PositiveInfinity else heap.dists(0)
      if (lb <= worst) {
        var c = childOffsets(node)
        while (c < childOffsets(node + 1)) {
          val ch = children(c)
          val d = dist(q, vecs(ch)); ndis += 1
          if (sel == null || sel(ch)) heap.insert(ids(ch), d)
          val childLb = math.max(0.0, d - coverRadius(level(ch)))
          val w2 = if (heap.size < k) Double.PositiveInfinity else heap.dists(0)
          if (childLb <= w2 && childOffsets(ch) < childOffsets(ch + 1)) pq.add((childLb, ch))
          c += 1
        }
      }
    }
    (heap.sorted, ndis)
  }

  /** max distance from a node at `lvl` to anything in its subtree:
    * Σ_{l ≤ lvl} 2^l < 2^(lvl+1) (scalb = exponent bits, no pow) */
  @inline private def coverRadius(lvl: Int): Double = Math.scalb(1.0, lvl + 1)

  def serializeMeta: Map[String, String] = Map(
    "ct.root" -> root.toString,
    "ct.ids" -> ids.mkString(","),
    "ct.level" -> level.mkString(","),
    "ct.childOffsets" -> childOffsets.mkString(","),
    "ct.children" -> children.mkString(","))
}

object CoverTreeModel {

  /** Load path for artifacts deserialized from the store: the CSR arrays
    * index nodes positionally, so the collected base rows are re-aligned
    * to the serialized `ct.ids` order (collect order itself is NOT stable
    * across part files / shuffles — pairing positionally would corrupt the
    * tree silently). */
  def fromData(data: DataFrame, meta: Map[String, String], metric: String)
      : CoverTreeModel = {
    val rows = data.select(col("id").cast("long"), col("vector")).collect()
    val byId = new java.util.HashMap[Long, Array[Float]](rows.length * 2)
    rows.foreach(r => byId.put(r.getLong(0), r.getSeq[Float](1).toArray))
    meta.get("ct.ids") match {
      case Some(idsStr) =>
        val ids = idsStr.split(",").map(_.toLong)
        val vecs = ids.map { id =>
          val v = byId.get(id)
          require(v != null, s"covertree artifact missing vector for id $id")
          v
        }
        fromMeta(ids, vecs, meta)
          .getOrElse(build(ids, vecs, meta.getOrElse("metric", metric)))
      case None => // pre-ids artifact: deterministic rebuild from sorted ids
        val ids = rows.map(_.getLong(0)).sorted
        build(ids, ids.map(byId.get), meta.getOrElse("metric", metric))
    }
  }

  /** reconstruct from the serialized CSR arrays (covertree_v2_2.py
    * save/load shape: tree arrays + manifest) */
  def fromMeta(ids: Array[Long], vecs: Array[Array[Float]],
      meta: Map[String, String]): Option[CoverTreeModel] =
    for {
      root <- meta.get("ct.root")
      level <- meta.get("ct.level")
      offsets <- meta.get("ct.childOffsets")
      children <- meta.get("ct.children")
      metric <- meta.get("metric")
    } yield {
      val m = new CoverTreeModel(ids, vecs, metric)
      m.root = root.toInt
      m.level = level.split(",").map(_.toInt)
      m.childOffsets = offsets.split(",").map(_.toInt)
      m.children =
        if (children.isEmpty) Array.empty else children.split(",").map(_.toInt)
      m
    }

  /** batch build: simplified cover-tree insertion (covertree_v2_2.py:
    * 316-369 shape — sequential inserts descending from the root). */
  def build(ids: Array[Long], vecs: Array[Array[Float]], metric: String)
      : CoverTreeModel = {
    val m = new CoverTreeModel(ids, vecs, metric)
    val n = ids.length
    require(n > 0, "empty base set")
    val level = new Array[Int](n)
    val childLists = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int]())

    val isCosine = metric == "cosine" // hoisted: no string compare per call
    def dist(a: Int, b: Int): Double = {
      val va = vecs(a); val vb = vecs(b)
      var acc = 0.0; var i = 0
      if (isCosine) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < va.length) {
          val x = va(i).toDouble; val y = vb(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den == 0.0) 1.0 else 1.0 - dot / den
      } else {
        while (i < va.length) {
          val d = va(i).toDouble - vb(i).toDouble; acc += d * d; i += 1
        }
        math.sqrt(acc)
      }
    }

    // cover test with EARLY EXIT (L2 only): `dist(a,b) <= r` needs only
    // the boolean, and the squared-L2 partial sum is monotone — abort as
    // soon as it exceeds r². Most cover tests FAIL (the scan walks the
    // child list until one covers), so the abort fires on nearly every
    // call and cuts the per-test work from O(dims) to the prefix that
    // proves failure. The abort is boolean-identical to the full ≤ r²
    // compare (an aborted sum can only grow). NOTE the ≤ r² form itself
    // is not ulp-identical to the sqrt form it replaced: for acc exactly
    // 1 ulp above r², sqrt(acc) can round down to r (sqrt(nextUp(r²))
    // == r), so this test is strictly STRICTER at that boundary and the
    // tree may place such a child differently. That preserves the cover
    // invariant (acc ≤ r² ⟹ sqrt(acc) ≤ r, monotone correctly-rounded
    // sqrt), every tree satisfying the invariant yields the same EXACT
    // search results — which is what the j12 gate hashes — and the
    // sf0.01/sf0.1/10× gates all verified green against the oracle.
    // 30k×384 build: 129.5 → 8.7 s (the removed dev/CoverTreeMsmarcoProbe).
    // strip-mined: the abort check runs once per 32-element block, not
    // per element — a per-element compare+branch de-pipelines the
    // subtract/multiply chain and measured SLOWER than no exit at all
    def coversL2(a: Int, b: Int, r2: Double): Boolean = {
      val va = vecs(a); val vb = vecs(b)
      var acc = 0.0; var i = 0
      val len = va.length
      while (i < len) {
        val end = math.min(i + 32, len)
        while (i < end) {
          val d = va(i).toDouble - vb(i).toDouble; acc += d * d; i += 1
        }
        if (acc > r2) return false
      }
      true
    }
    val root = 0
    level(root) = 20 // top level; radius 2^20 covers any normalized data
    var i = 1
    while (i < n) {
      // descend: find deepest node whose cover radius contains the point.
      // Hot loop: no closures, and Math.scalb (exponent bit-twiddle) for
      // the 2^level radius instead of math.pow — the pow-per-child-visited
      // version spent more time in pow than in distances
      var cur = root
      var placed = false
      while (!placed) {
        // hand off to the first child that covers the point
        val cs = childLists(cur)
        var next = -1
        var c = 0
        if (isCosine) {
          while (next < 0 && c < cs.length) {
            val ch = cs(c)
            if (dist(i, ch) <= Math.scalb(1.0, level(ch))) next = ch
            c += 1
          }
        } else if (cs.length < 2048) {
          while (next < 0 && c < cs.length) {
            val ch = cs(c)
            val r = Math.scalb(1.0, level(ch))
            if (coversL2(i, ch, r * r)) next = ch
            c += 1
          }
        } else {
          // High-intrinsic-dim data degenerates this simplified tree: the
          // separation invariant (children pairwise > 2^(l-1) apart) packs
          // exponentially many children at the fan-out level, so the scan
          // is effectively O(n) per insert and the build O(n²·d) — the
          // 100k×384 msmarco shape is ~1,500 s sequential. The scan is
          // "first covering child in LIST ORDER", which parallelizes
          // block-wise without changing the answer: evaluate a block of
          // cover tests driver-parallel, then take the first passing index
          // in order — deterministic, bit-identical tree to the
          // sequential build (j12 gate hashes unchanged).
          var start = 0
          while (next < 0 && start < cs.length) {
            val end = math.min(start + 8192, cs.length)
            val pass = new Array[Boolean](end - start)
            val me = i
            java.util.stream.IntStream.range(start, end).parallel().forEach { cc =>
              val ch = cs(cc)
              val r = Math.scalb(1.0, level(ch))
              pass(cc - start) = coversL2(me, ch, r * r)
            }
            var cc = start
            while (next < 0 && cc < end) {
              if (pass(cc - start)) next = cs(cc)
              cc += 1
            }
            start = end
          }
        }
        if (next >= 0) cur = next
        else {
          level(i) = level(cur) - 1
          childLists(cur) += i
          placed = true
        }
      }
      i += 1
    }

    m.root = root
    m.level = level
    val offsets = new Array[Int](n + 1)
    var acc = 0
    var j = 0
    while (j < n) { offsets(j) = acc; acc += childLists(j).size; j += 1 }
    offsets(n) = acc
    m.childOffsets = offsets
    m.children = childLists.flatMap(_.toArray)
    m
  }
}
