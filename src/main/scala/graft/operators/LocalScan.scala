package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._

/** Driver-local batch-search fast path — the FAISS client-memory regime
  * (reference: every index lives in process RAM and `batch_search`
  * returns arrays without any cluster hop — modular.py:336-387,
  * base_algorithm.py:57-71), expressed as an ADAPTIVE execution choice:
  *
  *  - below [[bytesCap]], the index relation is collected ONCE into flat
  *    primitive arrays, and every subsequent batch search runs as a
  *    multi-threaded scan across driver cores with ZERO Spark jobs. The
  *    table is memoized on the frame itself (the artifact holds one
  *    DataFrame instance for its lifetime), and also by the frame's store
  *    identity when [[graft.sources.ArtifactStore.load]] made the frame
  *    (so a reload of the same stored index is a hit). A frame
  *    that [[IndexAppend]] made from a parent ([[Lineage]]) is derived on
  *    the driver from the parent's table plus the appended or deleted
  *    rows instead of being collected again;
  *  - above it, callers keep the distributed partition-buffered scan
  *    ([[AdcScan]]) / join pipelines — the 100 TB path, where the index
  *    could never fit one machine and per-search job dispatch is noise
  *    against the scan itself.
  *
  * The switch mirrors Spark's own broadcast-join threshold: statistics
  * decide whether the small-side shortcut applies ([[Regime]] holds the
  * estimate, the exact re-check and the kill switch); semantics never
  * change. Kernels reuse the exact scorer objects ([[AdcScan.Scorer]])
  * and the [[BoundedTopK]] (dist, id) total order of the distributed
  * path, so results are bit-identical either way (spec-asserted by
  * LocalScanSpec against the forced-distributed plans).
  *
  * Why it matters for the benchmark: at reference workload shapes
  * (20k-100k rows) a batch search is a few hundred microseconds of
  * arithmetic; the distributed path's floor is one job dispatch
  * (~tens of ms at local[32]) plus one multi-MB LUT broadcast write per
  * search. The reference's FAISS numbers (10⁴-10⁵ QPS) live entirely
  * below that floor.
  */
object LocalScan {

  /** max bytes of index payload collected to the driver (ids + codes or
    * vectors); above it the caller keeps the distributed scan */
  def bytesCap: Long =
    sys.props.get("graft.local.bytesCap").map(_.toLong).getOrElse(512L << 20)

  /** per-batch flop budget for the FULL flat scan (queries × rows × dim):
    * above it the batch is compute-bound end to end and LinearSearcher
    * keeps the declarative distributed join (which on a real cluster
    * holds every executor core while the driver kernel is capped at one
    * machine). With batch-adaptive query tiling (see [[blockFor]]) the
    * driver kernel measures ~4× the distributed path's throughput at
    * local[32] (0.19 s vs 0.77 s for 70 q × 100k × 384-d), so the budget
    * sits well past every reference batch shape; [[bytesCap]] and
    * [[queryRowCap]] still route genuinely big inputs to the cluster
    * path. Pruned scans (IVF lists, code scans) stay local — their
    * per-batch work is orders of magnitude smaller. */
  val fullScanFlopCap: Long = 64_000_000_000L

  /** max query rows collected+memoized by [[queryVecs]]; a query batch
    * beyond this is not a "batch search" but a join — callers fall back
    * to their streaming plans */
  val queryRowCap: Long = 1L << 20

  /** Vector-API dot for the STRIDED (gram/FAISS-regime) scans — already
    * the reassociated contract, so the SIMD kernel is used whenever the
    * module resolves, dim-gated at [[scanSimdMinDim]]. The NON-strided
    * scans keep the oracle-exact double kernels. */
  private val stridedSimdKernel: SimdDist.Kernel = SimdDist.vectorKernel.orNull

  /** The flat scan's own dim gate — LOWER than the HNSW walk's
    * [[SimdDist.simdMinDim]]: over contiguous rows the SIMD dot wins
    * already at 50-d (glove50 exact 29.1k → 36.2k QPS same-session;
    * ivf_flat par), where the graph walk's scattered per-call pattern
    * measured net negative. 50 is the narrowest measured shape — below
    * it the scalar chain stays. */
  private val scanSimdMinDim: Int = 50

  /** one collected inverted-code relation: row r's code bytes at
    * [r·m, (r+1)·m); rows grouped contiguously by centroid id with
    * `listOffsets(cid) until listOffsets(cid+1)` (null for flat scans) */
  final class CodeTable(val ids: Array[Long], val codes: Array[Byte],
      val m: Int, val listOffsets: Array[Int]) {
    def n: Int = ids.length
  }

  /** one collected float-vector relation, same layout with dim-strided
    * floats */
  final class VecTable(val ids: Array[Long], val flat: Array[Float],
      val dim: Int, val listOffsets: Array[Int]) {
    def n: Int = ids.length
    /** lazily-computed per-row squared norms (gram-trick scan), cached
      * on the table */
    @volatile private[operators] var normsCache: Array[Double] = null
    /** id → row offset, built once per table; None when an id repeats */
    private[operators] lazy val idIndex: Option[scala.collection.mutable.LongMap[Int]] = {
      val m = new scala.collection.mutable.LongMap[Int](n * 2)
      var i = 0
      while (i < n && !m.contains(ids(i))) { m(ids(i)) = i; i += 1 }
      if (i < n) None else Some(m)
    }
  }

  // ---------------------------------------------------------------------
  // memoization: per frame (an IndexArtifact holds the same DataFrame
  // instance for its lifetime; a rebuilt artifact is a new frame), or
  // store keyed for frames loaded from an ArtifactStore
  // ---------------------------------------------------------------------
  private case object TooBig
  /** a keyed structure found too big under cap `cap` ([[memoizedBy]]) */
  private final case class TooBigAt(cap: Long)
  private val slotTags =
    new java.util.concurrent.ConcurrentHashMap[String, TreeNodeTag[AnyRef]]()

  /** The frame's own memo entry for `slot`: a tag on its logical plan
    * node, so the entry lives exactly as long as the frame (and the
    * DataFrames that share its plan, such as `toDF()`). A weak map keyed
    * by the frame would keep the value after the frame died, until the
    * map's next access. */
  private def entry(frame: DataFrame, slot: String): AnyRef = {
    val node = frame.queryExecution.logical
    node.synchronized(node.getTagValue(slotTags.computeIfAbsent(slot, TreeNodeTag[AnyRef](_))))
      .orNull
  }

  private def setEntry(frame: DataFrame, slot: String, v: AnyRef): Unit = {
    val node = frame.queryExecution.logical
    node.synchronized(node.setTagValue(slotTags.computeIfAbsent(slot, TreeNodeTag[AnyRef](_)), v))
  }

  /** Store-keyed entries, least recently used first. They are held
    * strongly (a reload makes new DataFrames, so nothing else keeps them
    * alive), and their `bytesOf` total stays at or under [[bytesCap]]. */
  private object stored {
    private val entries =
      new java.util.LinkedHashMap[String, (AnyRef, Long)](16, 0.75f, true)
    private var held = 0L

    def bytes: Long = synchronized(held)

    def get(key: String): Option[AnyRef] = entry(key).map(_._1)

    /** the value held under `key` with the bytes it was counted at */
    def entry(key: String): Option[(AnyRef, Long)] = synchronized(Option(entries.get(key)))

    def put(key: String, v: AnyRef, bytes: Long): Unit = synchronized {
      val old = entries.remove(key)
      if (old != null) held -= old._2
      val cap = bytesCap
      if (bytes <= cap) {
        entries.put(key, (v, bytes))
        held += bytes
        val eldest = entries.values.iterator
        while (held > cap) { held -= eldest.next()._2; eldest.remove() }
      }
    }
  }

  /** bytes held by the store-keyed entries */
  private[graft] def storedBytes: Long = stored.bytes

  /** Memo slot for a structure collected from one frame (the built-in
    * tables, query batches, LSH bucket maps, frozen models); None = too
    * big, and None without computing when [[Regime.enabled]] is off. The
    * caller owns the size gate. When [[graft.sources.ArtifactStore.load]]
    * made the frame, a computed structure is also held under the frame's
    * store identity and `slot`, so every reload of the same stored files
    * hits; "too big" stays per frame, so a reload re-checks it against the
    * current cap. Once computed, the frame's [[Lineage]] link is dropped. */
  def memoized[T <: AnyRef](frame: DataFrame, slot: String)(bytesOf: T => Long)(
      compute: => Option[T]): Option[T] =
    if (!Regime.enabled) None
    else {
      val key = graft.sources.ArtifactStore.identityOf(frame).map(_ + "#" + slot)
      entry(frame, slot) match {
        case TooBig => None
        case null =>
          key.flatMap(stored.get).orElse {
            val v = compute
            Lineage.forget(frame)
            for (k <- key; t <- v) stored.put(k, t, bytesOf(t))
            v
          } match {
            case Some(t) => setEntry(frame, slot, t); Some(t.asInstanceOf[T])
            case None => setEntry(frame, slot, TooBig); None
          }
        case v => Some(v.asInstanceOf[T])
      }
    }

  /** Memo slot for a structure collected under a key the caller builds
    * from what the structure was read from (a persisted BM25 index's
    * snapshot: its files and scoring parameters), held in the same
    * store-keyed LRU, so its bytes count under [[bytesCap]]. `compute`
    * owns any pre-collect size bound (None = too big); the exact
    * `bytesOf` is re-checked here. None without computing when
    * [[Regime.enabled]] is off. A held structure is served only while it
    * fits the current cap ([[heldBy]]), and one found too big is not
    * computed again until the cap rises. */
  def memoizedBy[T <: AnyRef](key: String)(bytesOf: T => Long)(
      compute: => Option[T]): Option[T] =
    if (!Regime.enabled) None
    else {
      val cap = bytesCap
      stored.entry(key) match {
        case Some((TooBigAt(was), _)) if cap <= was => None
        case Some((TooBigAt(_), _)) | None =>
          compute.map(t => (t, bytesOf(t))) match {
            case Some((t, bytes)) if bytes <= cap =>
              stored.put(key, t, bytes); Some(t)
            case _ => stored.put(key, TooBigAt(cap), 0L); None
          }
        case Some(_) => heldBy[T](key)
      }
    }

  /** The structure [[memoizedBy]] holds under `key` when it fits the
    * current [[bytesCap]], without computing anything; None when
    * [[Regime.enabled]] is off. */
  def heldBy[T <: AnyRef](key: String): Option[T] =
    if (!Regime.enabled) None
    else stored.entry(key).collect {
      case (v, bytes) if !v.isInstanceOf[TooBigAt] && bytes <= bytesCap => v.asInstanceOf[T]
    }

  /** a frozen model read from an index frame (centroids, codebooks):
    * memoized like a table, and computed per call when the memo is off */
  def frameModel[T <: AnyRef](frame: DataFrame, slot: String)(bytesOf: T => Long)(
      compute: => T): T =
    memoized[T](frame, slot)(bytesOf)(Some(compute)).getOrElse(compute)

  /** True when `frame`'s `slot` table is in the memo, or will be once
    * collected because the frame was loaded from a store; false once the
    * frame's table was found too big */
  private def rooted(frame: DataFrame, slot: String): Boolean =
    entry(frame, slot) match {
      case null => graft.sources.ArtifactStore.identityOf(frame).isDefined
      case TooBig => false
      case _ => true
    }

  /** True when `frame`'s table can come from the memo without collecting a
    * plan that [[IndexAppend]] made: it is [[rooted]], or its delta is on
    * the driver ([[Lineage.onDriver]]) and its parent is servable. A built
    * parent that was never searched is not: its child collects its own
    * plan instead. */
  private def servable(frame: DataFrame, slot: String): Boolean =
    rooted(frame, slot) ||
      Lineage.of(frame).exists(l => Lineage.onDriver(l.delta) && servable(l.parent, slot))

  /** `frame`'s table built on the driver from its parent's table and the
    * delta rows, when `frame` has a [[Lineage]] link whose delta is on the
    * driver and whose parent is [[servable]]; `apply` returns None when it
    * cannot mirror the plan (an appended id that is already live). A
    * [[rooted]] parent's table comes from `tableOf` (the memo), before
    * any delta row is read; an intermediate one is derived in passing and
    * not memoized, so a chain holds no table per step. */
  private[operators] def derived[T](frame: DataFrame, slot: String)(
      tableOf: DataFrame => Option[T])(apply: (T, Lineage.Rows) => Option[T]): Option[T] =
    for {
      link <- Lineage.of(frame)
      if Lineage.onDriver(link.delta) && servable(link.parent, slot)
      parent <- if (rooted(link.parent, slot)) tableOf(link.parent)
        else derived(link.parent, slot)(tableOf)(apply)
      rows <- Lineage.rowsOf(link.delta)
      table <- apply(parent, rows)
    } yield table

  private def qidVectors(queries: DataFrame): DataFrame =
    queries.select(col("qid").cast("long"), col("vector"))

  /** `(qid: long, vector)` rows → (qids ascending, vectors aligned by
    * qidx); None when a qid or a vector is null. The distributed plans
    * skip such a row (its distance is null), which the driver kernels
    * cannot mirror, so callers keep the distributed plan for it. */
  def queryArrays(rows: Array[Row]): Option[(Array[Long], Array[Array[Float]])] =
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else {
      val sorted = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
      Some((sorted.map(_._1), sorted.map(_._2)))
    }

  /** Queries collected once per queries-DataFrame instance: (qids sorted
    * ascending, vectors aligned by qidx). None above `cap` rows (by
    * default [[queryRowCap]]; the driver graph walks pass their own),
    * with the fast path disabled, or when a qid or a vector is null
    * ([[queryArrays]]). Memoization freezes the batch against
    * THIS DataFrame instance: a lazy source whose underlying files
    * change between searches of the same object returns the first
    * collection — re-plan the DataFrame (or disable the fast path) for
    * re-reading sources; pre-fast-path searchers re-collected per call
    * but froze nothing across calls either way.
    *
    * A batch already on the driver ([[Regime.onDriver]]) is read off its
    * relation, with no optimizer run and no job. Otherwise under-cap this
    * is ONE collect job (r15): when the size estimate is
    * small, or `cap` is below [[queryRowCap]] (cap + 1 rows are few), the
    * [[Regime.rowsUpTo]] probe replaces the historical count-then-collect
    * pair — same rows (the batch sorts by qid anyway, so even row order
    * is immaterial). Otherwise the count runs first, so an at-scale batch
    * never collects queryRowCap + 1 rows to learn it is big. */
  def queryVecs(queries: DataFrame, cap: Long = queryRowCap)
      : Option[(Array[Long], Array[Array[Float]])] =
    memoized[(Array[Long], Array[Array[Float]])](queries, "queries")(
        qv => qv._1.length * 8L + qv._2.map(_.length * 4L + 16).sum) {
      val qv = qidVectors(queries)
      if (cap < queryRowCap || Regime.onDriver(qv) || Regime.smallEstimate(queries).isDefined)
        Regime.rowsUpTo(qv, cap).flatMap(queryArrays)
      else if (queries.count() > cap) None
      else queryArrays(qv.collect())
    }

  /** [[queryVecs]] with the pre-existing unconditional-collect behavior
    * as the over-cap/disabled fallback: every searcher collected its
    * query batch per search before this module existed; above the memo
    * cap they keep doing exactly that. */
  def queryVecsAlways(queries: DataFrame): (Array[Long], Array[Array[Float]]) =
    queryVecs(queries).orElse(queryArrays(qidVectors(queries).collect())).getOrElse(
      throw new IllegalArgumentException("query batch holds a null qid or vector"))

  /** exact payload bytes of a table, n · (width · unit + 12), from the
    * [[payloadStats]] probe */
  private def tableBytes(data: DataFrame, payloadCol: String,
      bytesPerUnit: Int): Option[Long] =
    payloadStats(data, payloadCol, bytesPerUnit).map { case (n, width) =>
      n * (width.toLong * bytesPerUnit + 12)
    }

  /** collected code relation (id, codes[, centroid_id]) under
    * [[bytesCap]] ([[Regime.collectUnder]]), or derived from its parent's
    * table ([[derived]]); memoized per frame ([[memoized]]). */
  def codeTable(data: DataFrame, ivf: Boolean): Option[CodeTable] =
    memoized[CodeTable](data, s"codes:$ivf")(codeBytes) {
      derived(data, s"codes:$ivf")(codeTable(_, ivf)) { (p, rows) =>
        withDelta(p.ids, p.listOffsets, p.m, p.codes, ivf, rows)(new CodeTable(_, _, _, _))
      }.filter(codeBytes(_) <= bytesCap).orElse(collectCodes(data, ivf))
    }

  private def codeBytes(ct: CodeTable): Long = ct.n.toLong * (ct.m.toLong + 12)

  private def collectCodes(data: DataFrame, ivf: Boolean): Option[CodeTable] =
    Regime.collectUnder(data, bytesCap)(tableBytes(data, "codes", 1)) {
      if (ivf) {
        val rows = data
          .select(col("id").cast("long"), col("centroid_id").cast("int"),
            col("codes"))
          .collect()
          .map(r => (r.getInt(1), r.getLong(0), r.getAs[Array[Byte]](2)))
          .sortBy(t => (t._1, t._2))
        val m = if (rows.isEmpty) 0 else rows.head._3.length
        Some(new CodeTable(rows.map(_._2), flattenBytes(rows.map(_._3), m),
          m, offsetsOf(rows.map(_._1))))
      } else {
        val rows = data
          .select(col("id").cast("long"), col("codes"))
          .collect()
          .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        val m = if (rows.isEmpty) 0 else rows.head._2.length
        Some(new CodeTable(rows.map(_._1), flattenBytes(rows.map(_._2), m), m, null))
      }
    }(codeBytes)

  /** collected float-vector relation (id, vector[, centroid_id]) under
    * [[bytesCap]] ([[Regime.collectUnder]]), or derived from its parent's
    * table ([[derived]]); memoized per frame ([[memoized]]). None
    * (the distributed plan) when a collected id, centroid id or vector is
    * null, or the vectors differ in length: the distributed plans skip a
    * null row, and the flat layout holds one dim per table. */
  def vecTable(data: DataFrame, ivf: Boolean): Option[VecTable] =
    memoized[VecTable](data, s"vectors:$ivf")(vecBytes) {
      derived(data, s"vectors:$ivf")(vecTable(_, ivf)) { (p, rows) =>
        withDelta(p.ids, p.listOffsets, p.dim, p.flat, ivf, rows)(new VecTable(_, _, _, _))
      }.filter(vecBytes(_) <= bytesCap).orElse(collectVecs(data, ivf))
    }

  private def vecBytes(vt: VecTable): Long = vt.n.toLong * (vt.dim.toLong * 4 + 12)

  private def collectVecs(data: DataFrame, ivf: Boolean): Option[VecTable] =
    Regime.collectUnder(data, bytesCap)(tableBytes(data, "vector", 4)) {
      val cols = Seq(col("id").cast("long"), col("vector")) ++
        (if (ivf) Seq(col("centroid_id").cast("int")) else Nil)
      val raw = data.select(cols: _*).collect()
      if (raw.exists(r => (0 until r.length).exists(r.isNullAt))) None
      else {
        val rows = raw.map(r => (if (ivf) r.getInt(2) else 0, r.getLong(0),
          r.getSeq[Float](1).toArray))
        val dim = if (rows.isEmpty) 0 else rows.head._3.length
        if (rows.exists(_._3.length != dim)) None
        else if (ivf) {
          val sorted = rows.sortBy(t => (t._1, t._2))
          Some(new VecTable(sorted.map(_._2), flattenFloats(sorted.map(_._3), dim),
            dim, offsetsOf(sorted.map(_._1))))
        } else
          Some(new VecTable(rows.map(_._2), flattenFloats(rows.map(_._3), dim), dim, null))
      }
    }(vecBytes)

  /** A table derived through one delta, as `make(ids, payload, width,
    * listOffsets)`: the parent's rows (flat payload of stride `width`)
    * less the deleted ids, plus the added rows. A grouped table (`ivf`)
    * merges the added rows into the (centroid_id, id) order that the
    * collect sorts into, so it equals the collected table array for
    * array; a flat one appends them (row order never changes a (dist, id)
    * top-k). None when an added id is already live in the parent, or an
    * added payload has another width. */
  private def withDelta[A: scala.reflect.ClassTag, T](ids: Array[Long], offsets: Array[Int],
      width: Int, flat: Array[A], ivf: Boolean, rows: Lineage.Rows)(
      make: (Array[Long], Array[A], Int, Array[Int]) => T): Option[T] = {
    val added = rows.payloads.map(_.asInstanceOf[Array[A]])
    val w = if (ids.nonEmpty || added.isEmpty) width else added(0).length
    if (added.exists(_.length != w) || ids.exists(rows.adds)) return None
    // output row i: parent row src(i) when ≥ 0, else added row −src(i)−1
    val src = Array.newBuilder[Int]
    val cids = Array.newBuilder[Int]
    def keep(r: Int, cid: Int): Unit =
      if (!rows.deletes(ids(r))) { src += r; cids += cid }
    def add(a: Int): Unit = { src += -a - 1; cids += rows.cids(a) }
    var a = 0
    if (!ivf) ids.indices.foreach(keep(_, 0))
    else {
      var cid = 0
      while (cid + 1 < offsets.length) {
        var r = offsets(cid)
        while (r < offsets(cid + 1)) {
          while (a < added.length && rows.cids(a) == cid && rows.ids(a) < ids(r)) {
            add(a); a += 1
          }
          keep(r, cid); r += 1
        }
        while (a < added.length && rows.cids(a) == cid) { add(a); a += 1 }
        cid += 1
      }
    }
    while (a < added.length) { add(a); a += 1 }
    val plan = src.result()
    val out = new Array[A](plan.length * w)
    plan.indices.foreach { i =>
      if (plan(i) >= 0) System.arraycopy(flat, plan(i) * w, out, i * w, w)
      else System.arraycopy(added(-plan(i) - 1), 0, out, i * w, w)
    }
    Some(make(plan.map(i => if (i >= 0) ids(i) else rows.ids(-i - 1)), out, w,
      if (ivf) offsetsOf(cids.result()) else null))
  }

  /** memoized (rowCount, payloadWidth) of a relation — the exact probe
    * behind [[codeTable]]/[[vecTable]] and pre-collect guards (e.g. LinearSearcher's
    * flop gate, which must decide BEFORE paying the collect) */
  private val statsMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[AnyRef, (Long, Int)]())

  def payloadStats(data: DataFrame, payloadCol: String,
      bytesPerUnit: Int): Option[(Long, Int)] = {
    if (!data.schema.fieldNames.contains(payloadCol)) return None
    val hit = statsMemo.get(data)
    if (hit != null) return Some(hit)
    // ONE job under a small size estimate, with no Exchange: each
    // partition counts its rows and reads its first row's width, and one
    // collect brings the partials back (an agg(count, first) ran as a
    // shuffle-map job plus a result job under AQE). Payload widths are
    // uniform per relation (vector dim / code length are model constants,
    // appends are dim-checked), so WHICH row supplies the width is
    // immaterial. Above the estimate the count stays a separate job: a
    // metadata-only count never reads the payload column, while reading
    // it over a 100 TB relation would.
    val (n, width) =
      if (Regime.smallEstimate(data).isDefined) {
        val parts = data.select(col(payloadCol)).queryExecution.toRdd
          .mapPartitions { it =>
            var n = 0L
            var w = -1
            while (it.hasNext) {
              val r = it.next()
              if (w < 0)
                w = if (r.isNullAt(0)) 0
                  else if (bytesPerUnit == 1) r.getBinary(0).length
                  else r.getArray(0).numElements()
              n += 1
            }
            Iterator.single((n, w))
          }.collect()
        (parts.map(_._1).sum, parts.map(_._2).find(_ >= 0).getOrElse(0))
      } else {
        val c = data.count()
        val w =
          if (c == 0) 0
          else data.select(col(payloadCol)).limit(1).collect()(0) match {
            case r if r.isNullAt(0) => 0
            case r if bytesPerUnit == 1 => r.getAs[Array[Byte]](0).length
            case r => r.getSeq[Float](0).length
          }
        (c, w)
      }
    statsMemo.put(data, (n, width))
    Some((n, width))
  }

  private def flattenBytes(rows: Array[Array[Byte]], m: Int): Array[Byte] = {
    val out = new Array[Byte](rows.length * m)
    var i = 0
    while (i < rows.length) {
      System.arraycopy(rows(i), 0, out, i * m, m); i += 1
    }
    out
  }

  private def flattenFloats(rows: Array[Array[Float]], dim: Int): Array[Float] = {
    val out = new Array[Float](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      System.arraycopy(rows(i), 0, out, i * dim, dim); i += 1
    }
    out
  }

  /** rows sorted by cid → offsets array of length (maxCid+2):
    * list cid spans [offsets(cid), offsets(cid+1)) */
  private def offsetsOf(cids: Array[Int]): Array[Int] = {
    val maxCid = if (cids.isEmpty) -1 else cids(cids.length - 1)
    val off = new Array[Int](maxCid + 2)
    var i = 0
    while (i < cids.length) { off(cids(i) + 1) += 1; i += 1 }
    i = 1
    while (i < off.length) { off(i) += off(i - 1); i += 1 }
    off
  }

  /** cid → query-idx lists (the [[AdcScan.coarseProbes]] shape) inverted
    * to query-idx → sorted cid list for query-major local iteration */
  def invertProbes(probes: Array[Array[Int]], nQ: Int): Array[Array[Int]] = {
    val out = Array.fill(nQ)(new scala.collection.mutable.ArrayBuffer[Int]())
    var cid = 0
    while (cid < probes.length) {
      probes(cid).foreach(qi => out(qi) += cid)
      cid += 1
    }
    out.map(_.toArray)
  }

  // ---------------------------------------------------------------------
  // kernels — driver-core-parallel over queries, one heap per query; the
  // per-query independence makes the parallel schedule irrelevant to the
  // result (each heap sees every candidate of its query exactly once)
  // ---------------------------------------------------------------------

  /** queries per tile of the full scans: one parallel task owns a block
    * of queries and streams the payload once per BLOCK instead of once
    * per query — a full scan is memory-bandwidth-bound (256 queries ×
    * a 1.3 MB code buffer = 327 MB of re-reads untiled, 41 MB at B=8),
    * while row-chunking inside the block keeps the chunk L2-resident
    * across the block's per-query passes (per-query pass order preserves
    * scorer LUT locality). Top-k heaps are insertion-order-independent
    * ((dist, id) total order), so tiling cannot change results. */
  private val queryBlock = 8

  /** Block size for THIS batch: small batches shrink the block so the
    * task count still covers the cores (70 reference queries at B=8 is
    * 9 tasks on 32 threads — a 3.5× parallelism haircut exactly where
    * QPS is measured); large batches keep B=8 for the bandwidth tiling
    * above. Per query the row scan order is unchanged, so results are
    * bit-identical either way. */
  private def blockFor(nQ: Int): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    math.max(1, math.min(queryBlock, nQ / (4 * cores) + 1))
  }

  /** full scan: every query scores every code row (mirrors
    * [[AdcScan.searchTopK]]'s partition pass + driver merge). Rows score
    * through [[AdcScan.Scorer.scoreChunk]] — the j-block-tiled batch
    * kernel (bit-identical per-row arithmetic, LUT slices L2-resident). */
  def scanCodesFull(spark: SparkSession, ct: CodeTable, qids: Array[Long],
      k: Int, scorer: AdcScan.Scorer): DataFrame = {
    val heaps = new Array[BoundedTopK](qids.length)
    if (ct.n > 0) {
      val chunkRows = math.min(AdcScan.scoreChunkRows,
        math.max(1, (256 << 10) / math.max(1, ct.m)))
      val qb = blockFor(qids.length)
      val nBlocks = (qids.length + qb - 1) / qb
      java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
        val q0 = b * qb
        val q1 = math.min(qids.length, q0 + qb)
        val buf = new Array[Double](chunkRows)
        var qi = q0
        while (qi < q1) { heaps(qi) = new BoundedTopK(k); qi += 1 }
        var c0 = 0
        while (c0 < ct.n) {
          val c1 = math.min(ct.n, c0 + chunkRows)
          qi = q0
          while (qi < q1) {
            val h = heaps(qi)
            val n = c1 - c0
            scorer.scoreChunk(qi, -1, ct.codes, c0 * ct.m, ct.m, n, buf)
            var r = 0
            while (r < n) { h.insert(ct.ids(c0 + r), buf(r)); r += 1 }
            qi += 1
          }
          c0 = c1
        }
      }
    }
    resultDf(spark, qids, heaps)
  }

  /** IVF scan: each query scores only its probed lists (mirrors
    * [[AdcScan.searchTopKIvf]]). QUERY-major — the per-query LUT stays
    * cache-resident across the query's whole probe scan (a list-major
    * variant measured 10-45% SLOWER at both baseline shapes: cycling
    * every probing query's state per list thrashes exactly the table
    * the scan needs hot). Rows score through the j-block-tiled
    * [[AdcScan.Scorer.scoreChunk]]. */
  /** mean inverted-list payload bytes — the list-major routing statistic */
  def avgListBytes(ct: CodeTable): Long =
    if (ct.listOffsets == null || ct.listOffsets.length < 2) 0L
    else ct.codes.length.toLong / (ct.listOffsets.length - 1)

  /** list-major routing thresholds, read per call (sysprop-overridable
    * so specs can force the route and the budget fallback on small
    * fixtures; shared by the searcher-level fused gate and scanCodesIvf
    * so both route consistently) */
  def listMajorMinListBytes: Long =
    sys.props.get("graft.sq8.listMajorMinListBytes")
      .map(_.toLong).getOrElse((64 << 10).toLong)
  def listMajorHeapBytesCap: Long =
    sys.props.get("graft.sq8.listMajorHeapBytesCap")
      .map(_.toLong).getOrElse(256L << 20)

  /** partial top-k heaps the list-major pass would keep live at once:
    * one per (row-chunk, probing query) pair, ALL materialized before
    * the per-query merge — on a big offline batch over big lists this
    * is the path's memory, so the router budgets it (≈ rows/unit ×
    * probing queries summed over lists; the query-major pass needs only
    * one heap per query and is the identical-result fallback) */
  private[operators] def listMajorPartialHeaps(ct: CodeTable,
      probes: Array[Array[Int]]): Long = {
    val unitRows = AdcScan.scoreChunkRows * 4
    var total = 0L
    var cid = 0
    while (cid < probes.length) {
      val nq0 = probes(cid).length
      if (nq0 > 0 && cid + 1 < ct.listOffsets.length) {
        val rows = ct.listOffsets(cid + 1) - ct.listOffsets(cid)
        if (rows > 0) total += ((rows + unitRows - 1) / unitRows).toLong * nq0
      }
      cid += 1
    }
    total
  }

  def scanCodesIvf(spark: SparkSession, ct: CodeTable, qids: Array[Long],
      k: Int, scorer: AdcScan.Scorer, probes: Array[Array[Int]]): DataFrame = {
    // list-major pays only when lists are big enough that codes traffic
    // dominates the per-(unit, query) partial-heap machinery: at the
    // 5 KB-per-list random/glove50 shapes the partials COST ~3× the scan
    // (r10 bench: glove50 ivf_sq8 1.43× → 0.45× of reference before this
    // gate), while the 150 KB-per-list msmarco shape gains ~15%
    if (scorer.prefersListMajor && avgListBytes(ct) >= listMajorMinListBytes &&
        listMajorPartialHeaps(ct, probes) * (16L * k + 64L) <= listMajorHeapBytesCap)
      return scanCodesIvfListMajor(spark, ct, qids, k, scorer, probes)
    resultDf(spark, qids, queryMajorHeaps(ct, qids.length, k, scorer, probes))
  }

  /** Spark-free core of the query-major IVF code scan (also the unit
    * [[primeSq8ServeOnce]] warms — C2 compiles per METHOD, so priming
    * here on synthetic tiles warms the real serve path too). */
  private[graft] def queryMajorHeaps(ct: CodeTable, nq: Int, k: Int,
      scorer: AdcScan.Scorer, probes: Array[Array[Int]]): Array[BoundedTopK] = {
    val byQuery = invertProbes(probes, nq)
    val heaps = new Array[BoundedTopK](nq)
    java.util.stream.IntStream.range(0, nq).parallel().forEach { qi =>
      var h: BoundedTopK = null
      val buf = new Array[Double](AdcScan.scoreChunkRows)
      byQuery(qi).foreach { cid =>
        if (cid + 1 < ct.listOffsets.length) {
          var r = ct.listOffsets(cid)
          val end = ct.listOffsets(cid + 1)
          if (r < end && h == null) h = new BoundedTopK(k)
          while (r < end) {
            val n = math.min(end - r, AdcScan.scoreChunkRows)
            scorer.scoreChunk(qi, cid, ct.codes, r * ct.m, ct.m, n, buf)
            var i = 0
            while (i < n) { h.insert(ct.ids(r + i), buf(i)); i += 1 }
            r += n
          }
        }
      }
      heaps(qi) = h
    }
    heaps
  }

  /** Coarse probe FUSED into the code scan (the [[scanVecsIvfFused]]
    * shape for byte-code scorers): one parallel sweep per query computes
    * the top-`nprobe` centroids with the exact [[AdcScan.coarseProbes]]
    * arithmetic and immediately scores the probed lists through
    * scoreChunk. Probed set and emitted rows identical to
    * probesAuto + [[scanCodesIvf]] — removes the separate probe pass,
    * its per-centroid staging, and invertProbes (~0.5-1 ms of the
    * tiny-batch sq8 serve floor). Query-major by construction: callers
    * wanting the list-major pass keep the two-phase path. */
  def scanCodesIvfFused(spark: SparkSession, ct: CodeTable, qids: Array[Long],
      qVecs: Array[Array[Float]], k: Int, scorer: AdcScan.Scorer,
      centroids: Array[(Int, Array[Float])], nprobe: Int): DataFrame =
    resultDf(spark, qids,
      fusedHeaps(ct, qVecs, k, scorer, centroids, nprobe))

  /** Spark-free core of the fused probe+scan (see [[scanCodesIvfFused]];
    * separated so [[primeSq8ServeOnce]] can warm it without a session) */
  private[graft] def fusedHeaps(ct: CodeTable,
      qVecs: Array[Array[Float]], k: Int, scorer: AdcScan.Scorer,
      centroids: Array[(Int, Array[Float])], nprobe: Int): Array[BoundedTopK] = {
    val nc = centroids.length
    val dim = if (nc == 0) 0 else centroids(0)._2.length
    val ccids = new Array[Int](nc)
    val cflat = new Array[Float](nc * dim)
    var c = 0
    while (c < nc) {
      ccids(c) = centroids(c)._1
      System.arraycopy(centroids(c)._2, 0, cflat, c * dim, dim)
      c += 1
    }
    val nq = qVecs.length
    val heaps = new Array[BoundedTopK](nq)
    java.util.stream.IntStream.range(0, nq).parallel().forEach { qi =>
      val q = qVecs(qi)
      val ph = new BoundedTopK(nprobe)
      var c = 0
      while (c < nc) {
        var acc = 0.0; var i = 0; val off = c * dim
        while (i < dim) {
          val d = q(i).toDouble - cflat(off + i).toDouble
          acc += d * d; i += 1
        }
        ph.insert(ccids(c).toLong, math.sqrt(acc))
        c += 1
      }
      val cids = new Array[Int](ph.size)
      var j = 0
      while (j < cids.length) { cids(j) = ph.ids(j).toInt; j += 1 }
      java.util.Arrays.sort(cids) // ascending, like invertProbes
      var h: BoundedTopK = null
      val buf = new Array[Double](AdcScan.scoreChunkRows)
      var ci = 0
      while (ci < cids.length) {
        val cid = cids(ci)
        if (cid + 1 < ct.listOffsets.length) {
          var r = ct.listOffsets(cid)
          val end = ct.listOffsets(cid + 1)
          if (r < end && h == null) h = new BoundedTopK(k)
          while (r < end) {
            val n = math.min(end - r, AdcScan.scoreChunkRows)
            scorer.scoreChunk(qi, cid, ct.codes, r * ct.m, ct.m, n, buf)
            var i = 0
            while (i < n) { h.insert(ct.ids(r + i), buf(i)); i += 1 }
            r += n
          }
        }
        ci += 1
      }
      heaps(qi) = h
    }
    heaps
  }

  /** LIST-major IVF code scan for scorers with tiny per-query state
    * ([[AdcScan.Scorer.prefersListMajor]]): parallel over inverted
    * lists, each ≤[[AdcScan.scoreChunkRows]]-row codes chunk scored by
    * EVERY query probing that list while it is cache-hot — codes DRAM
    * traffic drops from Σ_q (probed rows of q) to the union of probed
    * lists (~(avg probing queries/list)× less; the msmarco ivf_sq8 scan
    * was bandwidth-bound at 42 ms vs an ~8 ms arithmetic bound,
    * the removed dev/Sq8StageProfile). Each (list, query) keeps a bounded partial
    * top-k; the per-query merge of its lists' partials is EXACT (top-k
    * of a union = top-k over per-subset top-ks, and the (dist, id)
    * total order makes the result insertion-order independent) — rows
    * are bit-identical to the query-major pass. */
  private def scanCodesIvfListMajor(spark: SparkSession, ct: CodeTable,
      qids: Array[Long], k: Int, scorer: AdcScan.Scorer,
      probes: Array[Array[Int]]): DataFrame =
    resultDf(spark, qids, listMajorHeaps(ct, qids.length, k, scorer, probes))

  /** Spark-free core of the list-major pass (see [[scanCodesIvfListMajor]];
    * separated so [[primeSq8ServeOnce]] can warm it without a session) */
  private[graft] def listMajorHeaps(ct: CodeTable, nq: Int, k: Int,
      scorer: AdcScan.Scorer,
      probes: Array[Array[Int]]): Array[BoundedTopK] = {
    val nlist = probes.length
    // work units = (cid, row range of ≤4 chunks): clustered data skews
    // both list sizes and probe counts, so whole-list tasks leave one
    // (hot big list × all its queries) pole while the pool idles —
    // chunk-range units keep every task ~1 ms regardless of skew
    val unitRows = AdcScan.scoreChunkRows * 4
    // query-range split alongside the row split: a hot list probed by
    // every query makes (rows × allQueries) units into multi-ms poles —
    // cap per-unit work at ~2M code bytes so the pool stays busy under
    // arbitrary probe/list skew
    val qPerUnitFor = (rows: Int) =>
      math.max(1, 2_000_000 / math.max(1, rows * ct.m))
    var nUnits = 0
    var cid = 0
    while (cid < nlist) {
      val nq0 = probes(cid).length
      if (nq0 > 0 && cid + 1 < ct.listOffsets.length) {
        val rows = ct.listOffsets(cid + 1) - ct.listOffsets(cid)
        if (rows > 0) {
          val nr = (rows + unitRows - 1) / unitRows
          val qpu = qPerUnitFor(math.min(rows, unitRows))
          nUnits += nr * ((nq0 + qpu - 1) / qpu)
        }
      }
      cid += 1
    }
    val unitCid = new Array[Int](nUnits)
    val unitStart = new Array[Int](nUnits)
    val unitEnd = new Array[Int](nUnits)
    val unitQ0 = new Array[Int](nUnits)
    val unitQ1 = new Array[Int](nUnits)
    val unitOffsets = new Array[Int](nlist + 1) // units of cid: [off(cid), off(cid+1))
    var u = 0
    cid = 0
    while (cid < nlist) {
      unitOffsets(cid) = u
      val nq0 = probes(cid).length
      if (nq0 > 0 && cid + 1 < ct.listOffsets.length) {
        var r = ct.listOffsets(cid)
        val end = ct.listOffsets(cid + 1)
        val qpu = qPerUnitFor(math.min(end - r, unitRows))
        while (r < end) {
          val rEnd = math.min(end, r + unitRows)
          var q0 = 0
          while (q0 < nq0) {
            unitCid(u) = cid; unitStart(u) = r; unitEnd(u) = rEnd
            unitQ0(u) = q0; unitQ1(u) = math.min(nq0, q0 + qpu)
            q0 += qpu; u += 1
          }
          r = rEnd
        }
      }
      cid += 1
    }
    unitOffsets(nlist) = u
    // partials(u)(j) = unit's top-k for probing query probes(cid)(j)
    val partials = new Array[Array[BoundedTopK]](nUnits)
    java.util.stream.IntStream.range(0, nUnits).parallel().forEach { u =>
      val cidU = unitCid(u)
      val qs = probes(cidU)
      val q0 = unitQ0(u); val q1 = unitQ1(u)
      val local = new Array[BoundedTopK](q1 - q0)
      var j = 0
      while (j < local.length) { local(j) = new BoundedTopK(k); j += 1 }
      val buf = new Array[Double](AdcScan.scoreChunkRows)
      var r = unitStart(u)
      val end = unitEnd(u)
      while (r < end) {
        val n = math.min(end - r, AdcScan.scoreChunkRows)
        var qj = q0
        while (qj < q1) {
          scorer.scoreChunk(qs(qj), cidU, ct.codes, r * ct.m, ct.m, n, buf)
          val h = local(qj - q0)
          var i = 0
          while (i < n) { h.insert(ct.ids(r + i), buf(i)); i += 1 }
          qj += 1
        }
        r += n
      }
      partials(u) = local
    }
    // per-query merge of its partial heaps (disjoint writes; parallel)
    val byQuery = invertProbes(probes, nq)
    // position of query qi inside probes(cid) for O(1) partial lookup:
    // fill order mirrors invertProbes, so posByQuery(qi)(x) pairs with
    // byQuery(qi)(x)
    val posByQuery = {
      val counts = new Array[Int](nq)
      var cid2 = 0
      while (cid2 < nlist) {
        val qs = probes(cid2); var j = 0
        while (j < qs.length) { counts(qs(j)) += 1; j += 1 }
        cid2 += 1
      }
      val out = Array.tabulate(nq)(qi => new Array[Int](counts(qi)))
      val fill = new Array[Int](nq)
      cid2 = 0
      while (cid2 < nlist) {
        val qs = probes(cid2); var j = 0
        while (j < qs.length) {
          val qi = qs(j)
          out(qi)(fill(qi)) = j; fill(qi) += 1
          j += 1
        }
        cid2 += 1
      }
      out
    }
    val heaps = new Array[BoundedTopK](nq)
    java.util.stream.IntStream.range(0, nq).parallel().forEach { qi =>
      var h: BoundedTopK = null
      val cids = byQuery(qi)
      val poss = posByQuery(qi)
      var x = 0
      while (x < cids.length) {
        val c = cids(x)
        val pos = poss(x)
        var uu = unitOffsets(c)
        val u1 = unitOffsets(c + 1)
        while (uu < u1) {
          if (pos >= unitQ0(uu) && pos < unitQ1(uu)) {
            val ph = partials(uu)(pos - unitQ0(uu))
            if (h == null && ph.size > 0) h = new BoundedTopK(k)
            var i = 0
            while (i < ph.size) { h.insert(ph.ids(i), ph.dists(i)); i += 1 }
          }
          uu += 1
        }
        x += 1
      }
      heaps(qi) = h
    }
    heaps
  }

  /** Once-per-JVM warm-up of the three driver-local SQ8 scan loops
    * (query-major, fused probe+scan, list-major) plus the coarse-probe
    * pass, on synthetic tiles — triggered by the first
    * [[AdcScan.Sq8FastScorer]] construction, exactly the
    * [[VectorSq8Kernel.primeOnce]] discipline. Why: the r12 kernel prime
    * warmed the iwsum chunk MAC but not the loops AROUND it —
    * the removed dev/Sq8StageProfile on this box measures the same serve batch at
    * 7.3 ms inside the bench's 1-warm+best-of-6 window vs 2.5 ms at
    * true steady state (~20+ calls), i.e. ~2.9× of the weak
    * `random ivf_sq8` row was the C2 warm-up of scan dispatch, heap
    * inserts, and probe staging, not arithmetic. C2 compiles per
    * METHOD, so warming these cores on a tiny synthetic table warms the
    * real serve path at every shape. Budgeted (≤1.5 s loop leg + ≤0.5 s
    * resultDf leg, so ~2 s worst-case on a cold JVM; in practice the
    * pass caps land well under the deadlines) and latched.
    *
    * DRIVER-ONLY, including the latch: the loops it warms
    * (queryMajorHeaps / fusedHeaps / listMajorHeaps) are driver-local
    * serve loops, and the warm-up runs a parallel IntStream on the
    * shared FJ common pool — inside an executor task that would steal
    * the pool and add latched-once-but-real seconds to a production
    * task (r13 verdict "What's wrong #3"). When the first scorer is
    * constructed inside a task we return WITHOUT setting the latch, so
    * a later driver-side construction in the same JVM still primes. */
  private val servePrimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** test hook: whether the once-per-JVM serve prime has run */
  private[graft] def sq8ServePrimed: Boolean = servePrimed.get()
  /** test hook: un-latch so a spec can observe who sets the latch.
    * Test-only — production never resets a once-per-JVM warm-up. */
  private[graft] def resetSq8ServePrimeForTest(): Unit =
    servePrimed.set(false)
  def primeSq8ServeOnce(): Unit =
    if (org.apache.spark.TaskContext.get() == null
        && servePrimed.compareAndSet(false, true)) {
      val rnd = new java.util.Random(7)
      // INVOCATION-count-sized, not wall-time-sized: the late cliff in
      // the serve curve (the removed dev/PrimeCheck: the fusedHeaps stage sits at
      // 4.3 ms/call through call ~29, then 1.4 ms) is the per-QUERY
      // loop body crossing C2's Tier4InvocationThreshold (~15k). A
      // big-tile prime burns its budget on few invocations and never
      // crosses; tiny tiles × many passes do: up to 600 passes × 32
      // queries ≈ 19k invocations per loop shape, past the threshold
      // with ~25% headroom, with per-pass work small enough (32 q × 2
      // probes × 16 rows) that the whole prime fits inside the deadline.
      var sink = 0
      // one prime SHAPE: tiny tiles at the given dim, fresh scorer per
      // pass (the per-scorer lazy query quantization
      // Sq8FastScorer::qIntState$lzycompute is the dominant warm-up
      // method — a shared scorer would run it once and never accumulate
      // its profile; the ctor cannot recurse, the latch is already set)
      def primeShape(dims: Int, nQueries: Int, budgetNs: Long,
          maxPasses: Int, rowsPerList: Int = 16)
          : (CodeTable, Array[Array[Float]],
          Array[Float], Array[Float], Array[(Int, Array[Float])]) = {
        val nlist = 16
        val n = nlist * rowsPerList
        val codes = new Array[Byte](n * dims)
        rnd.nextBytes(codes)
        val ids = Array.tabulate(n)(_.toLong)
        val listOffsets = Array.tabulate(nlist + 1)(_ * rowsPerList)
        val ct = new CodeTable(ids, codes, dims, listOffsets)
        val lo = Array.fill(dims)(0f)
        val hi = Array.fill(dims)(1f)
        val qv = Array.fill(nQueries)(Array.fill(dims)(rnd.nextFloat()))
        val cents = Array.tabulate(nlist)(c =>
          (c, Array.fill(dims)(rnd.nextFloat())))
        val deadline = System.nanoTime() + budgetNs
        var pass = 0
        while (System.nanoTime() < deadline && pass < maxPasses) {
          val scorer =
            new AdcScan.Sq8FastScorer(AdcScan.LocalLut(qv), lo, hi, 0)
          scorer.precomputeNorms(ct.codes)
          val probes = AdcScan.coarseProbes(qv, cents, nlist, 2)
          sink += queryMajorHeaps(ct, qv.length, 8, scorer, probes).length
          sink += fusedHeaps(ct, qv, 8, scorer, cents, 2).length
          sink += listMajorHeaps(ct, qv.length, 8, scorer, probes).length
          pass += 1
        }
        (ct, qv, lo, hi, cents)
      }
      // TWO shapes, short-vector first then long-vector (r14): the r13
      // single-shape (64-d) prime left the msmarco-class 384-d serve
      // curve with its cliff intact — the removed dev/Sq8WarmCurve at 100k ×
      // 384-d / 70 q measured ~19 ms/call through call ~26, then 10.7 ms. C2
      // profiles loop trip counts per method; a 64-d-only profile
      // compiles the chunk/heap loops for 4-iteration bodies and the
      // 384-d serve path pays re-profiling in production. ~19k
      // invocations per shape keeps both past the ~15k tier-4
      // threshold. Budgets keep the worst-case total at the documented
      // ~2 s ceiling.
      val (ct, qv, lo, hi, cents) =
        primeShape(64, 32, 700_000_000L, 600)
      // 384-d pass with 256-row lists (~98 KB of codes per list): above
      // the 64 KB avg-list gate, so the scan routes LIST-MAJOR — the
      // production path at the msmarco-class shape. The staged curve
      // (the removed dev/Sq8WarmCurve … staged) localized the residual descent to
      // scanCodesIvf at exactly this routing; priming the query-major
      // pass alone left it cold.
      primeShape(384, 32, 800_000_000L, 600, rowsPerList = 256)
      val nlist = 16
      // result-packing + local-collect leg (resultDf drains heaps into a
      // LocalRelation; collect on it is driver-only — no Spark job), the
      // other ~1 ms of early-window tax (the removed dev/PrimeCheck: resultDf 1.6 →
      // 0.7 ms, collect 1.8 → 0.25 ms as the analyzer/pack paths
      // compile). Runs on the 64-d tile (the FIRST primeShape's
      // returns), not the heavy 384-d one: this leg's target is
      // resultDf/analyzer/collect invocation COUNT, and the big tile's
      // ~25× scan flops per pass would eat the 0.5 s budget in scans.
      // Driver-only guaranteed by the method-level TaskContext guard.
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .foreach { spark =>
          val scorer =
            new AdcScan.Sq8FastScorer(AdcScan.LocalLut(qv), lo, hi, 0)
          scorer.precomputeNorms(ct.codes)
          val probes = AdcScan.coarseProbes(qv, cents, nlist, 2)
          val qids = Array.tabulate(qv.length)(_.toLong)
          val deadline2 = System.nanoTime() + 500_000_000L
          var i = 0
          while (System.nanoTime() < deadline2 && i < 400) {
            // fresh heaps each pass: resultDf's drain is destructive
            val heaps = queryMajorHeaps(ct, qv.length, 8, scorer, probes)
            sink += resultDf(spark, qids, heaps).collect().length
            i += 1
          }
        }
      if (sink == Int.MinValue) println("") // keep the loops observable
    }

  /** metric kernels replicating the codegen expressions' arithmetic
    * exactly (float → double per element, index-order accumulation —
    * VectorExpressions.scala): local and distributed scores are
    * bit-identical. mode: 0 = l2 (VecL2Dist), 1 = ip (VecIpDist),
    * 2 = cosine (VecCosineDist). */
  def metricMode(metric: String): Option[Int] = metric match {
    case "l2" => Some(0)
    case "ip" | "dot" => Some(1)
    case "cosine" | "angular" => Some(2)
    // J2 gram-trick L2 (FAISS IndexFlatL2's own regime: ‖q‖²+‖x‖²−2q·x
    // with per-row norms hoisted) — inner loop is ONE dot product
    case "l2_gram" => Some(3)
    case _ => None
  }

  /** per-row squared norms of a VecTable, computed once and memoized
    * alongside it (keyed by the table instance): the gram-trick scan's
    * hoisted ‖x‖² term. Accumulation is double in index order, exactly
    * the `vec_dot(v, v)` the distributed gram plan computes. */
  private def rowNorms(vt: VecTable): Array[Double] = {
    val cached = vt.normsCache
    if (cached != null) cached
    else {
      val out = new Array[Double](vt.n)
      java.util.stream.IntStream.range(0, vt.n).parallel().forEach { r =>
        var acc = 0.0; var i = 0; val off = r * vt.dim
        while (i < vt.dim) {
          val x = vt.flat(off + i).toDouble; acc += x * x; i += 1
        }
        out(r) = acc
      }
      vt.normsCache = out // idempotent; benign publish race
      out
    }
  }

  /** one exact distance, [[vecDist]]: LSH's rerank of its capped
    * candidates */
  def vecDistAt(q: Array[Float], flat: Array[Float], off: Int,
      dim: Int, mode: Int): Double = vecDist(q, flat, off, dim, mode)

  private def vecDist(q: Array[Float], flat: Array[Float], off: Int,
      dim: Int, mode: Int): Double = {
    if (mode == 2) {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        val x = q(i).toDouble; val y = flat(off + i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 1.0 else 1.0 - dot / denom
    } else if (mode == 1) {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += q(i).toDouble * flat(off + i).toDouble; i += 1 }
      -acc
    } else {
      var acc = 0.0; var i = 0
      while (i < dim) {
        val d = q(i).toDouble - flat(off + i).toDouble
        acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
  }

  /** stride-8 FLOAT dot product — FAISS's own accumulation regime
    * (fvec_inner_product accumulates in float lanes): eight independent
    * float chains with no per-element cvtss2sd. vs the index-order
    * double kernel this is both reassociated AND single-precision;
    * the removed dev/FloatAccumMicro: 0.42–0.90 ns/elem vs 1.24–1.72 (double
    * index-order) and 2.2–2.5 (the r8 stride-4 double chains, which
    * turned out cvt-throughput-bound). Only the `strided_accum`
    * baseline-serving rows use it — gates keep the oracle-exact double
    * kernels. */
  @inline private def dot4(q: Array[Float], flat: Array[Float], off: Int,
      dim: Int): Double = {
    var a0 = 0.0f; var a1 = 0.0f; var a2 = 0.0f; var a3 = 0.0f
    var a4 = 0.0f; var a5 = 0.0f; var a6 = 0.0f; var a7 = 0.0f
    var i = 0
    val m8 = dim - 7
    while (i < m8) {
      a0 += q(i) * flat(off + i)
      a1 += q(i + 1) * flat(off + i + 1)
      a2 += q(i + 2) * flat(off + i + 2)
      a3 += q(i + 3) * flat(off + i + 3)
      a4 += q(i + 4) * flat(off + i + 4)
      a5 += q(i + 5) * flat(off + i + 5)
      a6 += q(i + 6) * flat(off + i + 6)
      a7 += q(i + 7) * flat(off + i + 7)
      i += 8
    }
    while (i < dim) { a0 += q(i) * flat(off + i); i += 1 }
    (((a0 + a1) + (a2 + a3)) + ((a4 + a5) + (a6 + a7))).toDouble
  }

  /** strided-kernel distance from a hoisted query norm, row norm and
    * stride-4 dot: l2/l2_gram via the gram identity (clamped at 0 —
    * cancellation), ip = −dot, cosine from the same norms. Emitted
    * conventions match [[vecDist]] exactly; values differ by
    * reassociation + gram cancellation only. */
  @inline private def stridedDist(mode: Int, qn: Double, rn: Double,
      dot: Double): Double =
    if (mode == 1) -dot
    else if (mode == 2) {
      val den = math.sqrt(qn) * math.sqrt(rn)
      if (den == 0.0) 1.0 else 1.0 - dot / den
    } else math.sqrt(math.max(0.0, qn + rn - 2.0 * dot))

  private def queryNorm(q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { val x = q(i).toDouble; acc += x * x; i += 1 }
    acc
  }

  /** exact flat scan (mirrors KnnJoin.knnJoin: broadcast queries × base
    * scan + bounded heap, no padding); tiled like [[scanCodesFull]], and
    * scored by [[exactHeaps]]. `strided` swaps in the stride-4 gram
    * kernels (opt-in via the searcher's `strided_accum` — the FAISS
    * comparison regime; not bit-identical to the oracle-exact kernels, so
    * gates never set it). */
  def scanVecsFull(spark: SparkSession, vt: VecTable, qids: Array[Long],
      qVecs: Array[Array[Float]], k: Int, mode: Int,
      strided: Boolean = false, qidNullable: Boolean = false): DataFrame = {
    val schema = resultSchemaWith(qidNullable)
    if (strided) return scanVecsFullStrided(spark, vt, qids, qVecs, k, mode, schema)
    resultDf(spark, qids, exactHeaps(vt, qVecs, k, mode), schema)
  }

  /** queries scored together per row by the exact kernel ([[groupHeaps]]) */
  private val queryGroup = 4

  /** The exact flat scan's top-k heaps, aligned with `qVecs`, in the
    * index-order double kernels (so LSH's zero-collision fallback equals
    * the distributed kNN join bit for bit). One block of queries
    * ([[blockFor]]) per parallel task: a block of at least [[queryGroup]]
    * queries goes through [[groupHeaps]]; a smaller one (a point batch's
    * one-query blocks) and the gram mode score query by query over
    * L2-sized row chunks. */
  private[operators] def exactHeaps(vt: VecTable, qVecs: Array[Array[Float]],
      k: Int, mode: Int): Array[BoundedTopK] = {
    val heaps = new Array[BoundedTopK](qVecs.length)
    val gram = mode == 3
    val norms = if (gram) rowNorms(vt) else null
    val chunkRows = math.max(1, (64 << 10) / math.max(1, vt.dim))
    val qb = blockFor(qVecs.length)
    val nBlocks = (qVecs.length + qb - 1) / qb
    java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
      val q0 = b * qb
      val q1 = math.min(qVecs.length, q0 + qb)
      var qi = q0
      while (qi < q1) { heaps(qi) = new BoundedTopK(k); qi += 1 }
      if (!gram && q1 - q0 >= queryGroup) groupHeaps(vt, qVecs, q0, q1, heaps, mode)
      else {
        // hoisted ‖q‖² per query of this block (gram mode only)
        val qq = if (!gram) null else {
          val a = new Array[Double](q1 - q0)
          var j = q0
          while (j < q1) { a(j - q0) = queryNorm(qVecs(j)); j += 1 }
          a
        }
        var c0 = 0
        while (c0 < vt.n) {
          val c1 = math.min(vt.n, c0 + chunkRows)
          qi = q0
          while (qi < q1) {
            val h = heaps(qi)
            val q = qVecs(qi)
            var r = c0
            if (gram) {
              val qn = qq(qi - q0)
              val dim = vt.dim
              while (r < c1) {
                var dot = 0.0; var i = 0; val off = r * dim
                while (i < dim) {
                  dot += q(i).toDouble * vt.flat(off + i).toDouble; i += 1
                }
                // sqrt(max(0, qq + bb − 2·dot)) — vector_utils.py:20-51 /
                // the distributed J2 plan, same double arithmetic
                h.insert(vt.ids(r),
                  math.sqrt(math.max(0.0, qn + norms(r) - 2.0 * dot)))
                r += 1
              }
            } else while (r < c1) {
              h.insert(vt.ids(r), vecDist(q, vt.flat, r * vt.dim, vt.dim, mode))
              r += 1
            }
            qi += 1
          }
          c0 = c1
        }
      }
    }
    heaps
  }

  /** The exact kernel for queries [q0, q1) of a block: each row is
    * widened to double once and scored against the block's queries,
    * [[queryGroup]] at a time with one accumulator chain per query (a
    * single query's chain is latency-bound; independent chains overlap),
    * then the rest one by one. Every chain adds in index order the same
    * double terms as [[vecDist]], and cosine's Σx² per query and Σy² per
    * row are separate index-order chains there too, so every distance is
    * bit-identical to it; each query still takes the rows in ascending
    * order, so its heap sees the same insertion sequence. */
  private def groupHeaps(vt: VecTable, qVecs: Array[Array[Float]], q0: Int, q1: Int,
      heaps: Array[BoundedTopK], mode: Int): Unit = {
    val dim = vt.dim
    val nq = q1 - q0
    val x = Array.tabulate(nq)(j => qVecs(q0 + j).map(_.toDouble))
    val xx = if (mode == 2) Array.tabulate(nq)(j => queryNorm(qVecs(q0 + j))) else null
    val y = new Array[Double](dim)
    @inline def finish(acc: Double, j: Int, yy: Double): Double =
      if (mode == 0) math.sqrt(acc)
      else if (mode == 1) -acc
      else {
        val denom = math.sqrt(xx(j)) * math.sqrt(yy)
        if (denom == 0.0) 1.0 else 1.0 - acc / denom
      }
    var r = 0
    while (r < vt.n) {
      val off = r * dim
      var yy = 0.0
      var i = 0
      if (mode == 2) while (i < dim) {
        val v = vt.flat(off + i).toDouble; y(i) = v; yy += v * v; i += 1
      } else while (i < dim) { y(i) = vt.flat(off + i).toDouble; i += 1 }
      val id = vt.ids(r)
      var j = 0
      while (j + queryGroup <= nq) {
        val x0 = x(j); val x1 = x(j + 1); val x2 = x(j + 2); val x3 = x(j + 3)
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        i = 0
        if (mode == 0) while (i < dim) {
          val v = y(i)
          val d0 = x0(i) - v; val d1 = x1(i) - v; val d2 = x2(i) - v; val d3 = x3(i) - v
          a0 += d0 * d0; a1 += d1 * d1; a2 += d2 * d2; a3 += d3 * d3
          i += 1
        } else while (i < dim) {
          val v = y(i)
          a0 += x0(i) * v; a1 += x1(i) * v; a2 += x2(i) * v; a3 += x3(i) * v
          i += 1
        }
        heaps(q0 + j).insert(id, finish(a0, j, yy))
        heaps(q0 + j + 1).insert(id, finish(a1, j + 1, yy))
        heaps(q0 + j + 2).insert(id, finish(a2, j + 2, yy))
        heaps(q0 + j + 3).insert(id, finish(a3, j + 3, yy))
        j += queryGroup
      }
      while (j < nq) {
        val xj = x(j)
        var acc = 0.0
        i = 0
        if (mode == 0) while (i < dim) { val d = xj(i) - y(i); acc += d * d; i += 1 }
        else while (i < dim) { acc += xj(i) * y(i); i += 1 }
        heaps(q0 + j).insert(id, finish(acc, j, yy))
        j += 1
      }
      r += 1
    }
  }

  /** full flat scan with the stride-4 gram kernels: one dot4 per
    * element-row, ‖q‖² hoisted per query, per-row norms computed once
    * per table (memoized) and shared by every query and every search */
  private def scanVecsFullStrided(spark: SparkSession, vt: VecTable,
      qids: Array[Long], qVecs: Array[Array[Float]], k: Int,
      mode: Int, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val heaps = new Array[BoundedTopK](qids.length)
    val m = if (mode == 3) 0 else mode // l2_gram ≡ l2 here: gram IS the kernel
    val norms = if (m == 1) null else rowNorms(vt)
    val vk = if (vt.dim >= scanSimdMinDim) stridedSimdKernel else null
    if (vt.n > 0) {
      val chunkRows = math.max(1, (64 << 10) / math.max(1, vt.dim))
      val qb = blockFor(qids.length)
      val nBlocks = (qids.length + qb - 1) / qb
      java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
        val q0 = b * qb
        val q1 = math.min(qids.length, q0 + qb)
        var qi = q0
        while (qi < q1) { heaps(qi) = new BoundedTopK(k); qi += 1 }
        val qq = new Array[Double](q1 - q0)
        var j = q0
        while (j < q1) { qq(j - q0) = queryNorm(qVecs(j)); j += 1 }
        var c0 = 0
        while (c0 < vt.n) {
          val c1 = math.min(vt.n, c0 + chunkRows)
          qi = q0
          while (qi < q1) {
            val h = heaps(qi)
            val q = qVecs(qi)
            val qn = qq(qi - q0)
            val dim = vt.dim
            var r = c0
            while (r < c1) {
              val dot =
                if (vk != null) vk.dotFlat(q, vt.flat, r * dim)
                else dot4(q, vt.flat, r * dim, dim)
              h.insert(vt.ids(r),
                stridedDist(m, qn, if (norms == null) 0.0 else norms(r), dot))
              r += 1
            }
            qi += 1
          }
          c0 = c1
        }
      }
    }
    resultDf(spark, qids, heaps, schema)
  }

  /** IVF flat scan: probed lists only (mirrors IvfSearcher's equi-join +
    * carried-vector rerank). `strided` as in [[scanVecsFull]]. */
  /** one query's probed-list scan (shared by [[scanVecsIvf]] and
    * [[scanVecsIvfFused]] — identical arithmetic and visit order) */
  private def scanQueryLists(vt: VecTable, q: Array[Float], cids: Array[Int],
      k: Int, mode: Int, m: Int, strided: Boolean,
      norms: Array[Double]): BoundedTopK = {
    var h: BoundedTopK = null
    val qn = if (strided) queryNorm(q) else 0.0
    val vk = if (strided && vt.dim >= scanSimdMinDim)
      stridedSimdKernel else null
    var ci = 0
    while (ci < cids.length) {
      val cid = cids(ci)
      if (cid + 1 < vt.listOffsets.length) {
        var r = vt.listOffsets(cid)
        val end = vt.listOffsets(cid + 1)
        if (r < end && h == null) h = new BoundedTopK(k)
        if (strided) {
          val dim = vt.dim
          while (r < end) {
            val dot =
              if (vk != null) vk.dotFlat(q, vt.flat, r * dim)
              else dot4(q, vt.flat, r * dim, dim)
            h.insert(vt.ids(r),
              stridedDist(m, qn, if (norms == null) 0.0 else norms(r), dot))
            r += 1
          }
        } else while (r < end) {
          h.insert(vt.ids(r), vecDist(q, vt.flat, r * vt.dim, vt.dim, mode))
          r += 1
        }
      }
      ci += 1
    }
    h
  }

  def scanVecsIvf(spark: SparkSession, vt: VecTable, qids: Array[Long],
      qVecs: Array[Array[Float]], k: Int, mode: Int,
      probes: Array[Array[Int]], strided: Boolean = false): DataFrame = {
    val byQuery = invertProbes(probes, qids.length)
    val heaps = new Array[BoundedTopK](qids.length)
    val m = if (strided && mode == 3) 0 else mode
    val norms = if (strided && m != 1) rowNorms(vt) else null
    java.util.stream.IntStream.range(0, qids.length).parallel().forEach { qi =>
      heaps(qi) =
        scanQueryLists(vt, qVecs(qi), byQuery(qi), k, mode, m, strided, norms)
    }
    resultDf(spark, qids, heaps)
  }

  /** Coarse probe FUSED into the scan pass: one parallel sweep computes
    * each query's top-`nprobe` centroids (the exact
    * [[AdcScan.coarseProbes]] arithmetic — index-order float→double
    * accumulation, (dist, cid) ties) and scans the probed lists in the
    * same task. The probed SET and every emitted row are identical to
    * probesAuto + [[scanVecsIvf]] (scan visits the same cids ascending;
    * top-k heaps are visit-order-independent) — this removes a fork-join
    * dispatch, the per-centroid ArrayBuffer staging, and the
    * invertProbes pass, together ~0.5 ms of the ~2.5 ms tiny-batch
    * serving floor (retrbench serve's `search.ivf.point_ms`). */
  def scanVecsIvfFused(spark: SparkSession, vt: VecTable, qids: Array[Long],
      qVecs: Array[Array[Float]], k: Int, mode: Int,
      centroids: Array[(Int, Array[Float])], nprobe: Int,
      strided: Boolean = false): DataFrame = {
    val nc = centroids.length
    val dim = if (nc == 0) 0 else centroids(0)._2.length
    val ccids = new Array[Int](nc)
    val cflat = new Array[Float](nc * dim)
    var c = 0
    while (c < nc) {
      ccids(c) = centroids(c)._1
      System.arraycopy(centroids(c)._2, 0, cflat, c * dim, dim)
      c += 1
    }
    val heaps = new Array[BoundedTopK](qids.length)
    val m = if (strided && mode == 3) 0 else mode
    val norms = if (strided && m != 1) rowNorms(vt) else null
    val nq = qids.length
    // per-query tasks: the probed-list scan (~50-100 us/query) dwarfs the
    // fork-join dispatch, and 16-query blocks left half the pool idle at
    // the 256-query baseline batch shape
    java.util.stream.IntStream.range(0, nq).parallel().forEach { qi =>
      locally {
        val q = qVecs(qi)
        val ph = new BoundedTopK(nprobe)
        var c = 0
        while (c < nc) {
          var acc = 0.0; var i = 0; val off = c * dim
          while (i < dim) {
            val d = q(i).toDouble - cflat(off + i).toDouble
            acc += d * d; i += 1
          }
          ph.insert(ccids(c).toLong, math.sqrt(acc))
          c += 1
        }
        val cids = new Array[Int](ph.size)
        var j = 0
        while (j < cids.length) { cids(j) = ph.ids(j).toInt; j += 1 }
        java.util.Arrays.sort(cids) // ascending, like invertProbes
        heaps(qi) = scanQueryLists(vt, q, cids, k, mode, m, strided, norms)
      }
    }
    resultDf(spark, qids, heaps)
  }

  /** canonical (qid, rank int, id, dist) relation from per-query heaps —
    * the same emit as AdcScan.finish's driver-merge branch (ascending
    * (dist, id), rank 1-based, queries with no candidates absent) */
  // (qid long, rank int, id long, dist double): UnsafeRow fixed-width
  // layout = 8-byte null bitset + 4 × 8-byte slots
  private val resultRowBytes = 8 + 4 * 8

  /** field-wise InternalRow→Row for [[resultSchema]] — same values the
    * generic Catalyst converter produces, without its per-field dispatch
    * (Shim.localRelationDf's fastRow hook) */
  private val fastResultRow
      : org.apache.spark.sql.catalyst.InternalRow => org.apache.spark.sql.Row =
    r => new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)),
      resultSchema)

  /** one UnsafeRow pointing into the shared packed buffer, fields zeroed
    * (null bits clear) and ready for setters */
  @inline private def packedRow(bytes: Array[Byte], slot: Int)
      : org.apache.spark.sql.catalyst.expressions.UnsafeRow = {
    val r = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(4)
    r.pointTo(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET +
        slot.toLong * resultRowBytes,
      resultRowBytes)
    r
  }

  /** per-query heaps → the canonical result relation. Rows are packed
    * UnsafeRows over ONE shared byte buffer (~40 B/row, zero boxing) —
    * the boxed-tuple + GenericInternalRow + generic-converter path cost
    * ~2.3 ms per 5,120-row batch, the dominant fixed tax of every
    * driver-local serving row once the kernels were fast. DESTRUCTIVE
    * on the heaps (popRoot drain,
    * back-to-front = ascending (dist, id) — identical order and values
    * to the old BoundedTopK.sorted path). `schema` is [[resultSchema]]
    * up to the qid column's nullability ([[resultSchemaWith]]). */
  def resultDf(spark: SparkSession, qids: Array[Long],
      heaps: Array[BoundedTopK],
      schema: org.apache.spark.sql.types.StructType = resultSchema): DataFrame = {
    // per-query slot bases via prefix sum, then a PARALLEL drain: each
    // query writes a disjoint slot range, so the packed layout (and every
    // row value) is identical to the sequential drain — the ~0.4 ms
    // single-threaded pack was a fixed tax on every tiny serving batch
    // (retrbench serve's point calls). Below the threshold the sequential loop
    // avoids the fork-join dispatch.
    val nq = heaps.length
    val bases = new Array[Int](nq)
    var n = 0
    var qi = 0
    while (qi < nq) {
      bases(qi) = n
      val h = heaps(qi); if (h != null) n += h.size; qi += 1
    }
    val bytes = new Array[Byte](n * resultRowBytes)
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    def drain(qi: Int): Unit = {
      val h = heaps(qi)
      if (h != null && h.size > 0) {
        val base = bases(qi)
        val cnt = h.size
        var pos = cnt - 1
        while (pos >= 0) {
          val r = packedRow(bytes, base + pos)
          r.setLong(0, qids(qi))
          r.setInt(1, pos + 1)
          r.setLong(2, h.ids(0))
          r.setDouble(3, h.dists(0))
          rows(base + pos) = r
          h.popRoot()
          pos -= 1
        }
      }
    }
    if (n >= parallelEmitThreshold) {
      // block-granular: per-query tasks are ~20 rows (~1.5 us) — pure
      // dispatch; 32-query blocks keep task size ~50 us
      val qb = 32
      val nBlocks = (nq + qb - 1) / qb
      java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
        var i = b * qb
        val end = math.min(nq, i + qb)
        while (i < end) { drain(i); i += 1 }
      }
    } else { qi = 0; while (qi < nq) { drain(qi); qi += 1 } }
    org.apache.spark.sql.graftshim.Shim.localRelationDf(spark, schema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows),
      fastResultRow)
  }

  /** rows below this emit/convert sequentially (fork-join dispatch costs
    * more than it saves on tiny batches) */
  private val parallelEmitThreshold = 2048

  /** canonical result rows as a LocalRelation over InternalRows — skips
    * the per-row external-Row conversion (see Shim.localRelationDf) */
  /** per-query (id, dist) arrays (already ascending) → the canonical
    * result relation, packed like [[resultDf]] without the intermediate
    * per-query tuple Seqs + flatten (the last boxed leg of the driver
    * walk paths — hnsw_global / covertree) */
  def pairsResultDf(spark: SparkSession, qids: Array[Long],
      perQuery: Array[Array[(Long, Double)]]): DataFrame = {
    // same prefix-sum + parallel-emit shape as [[resultDf]]
    val nq = perQuery.length
    val bases = new Array[Int](nq)
    var n = 0
    var qi = 0
    while (qi < nq) {
      bases(qi) = n
      val p = perQuery(qi); if (p != null) n += p.length; qi += 1
    }
    val bytes = new Array[Byte](n * resultRowBytes)
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    def emit(qi: Int): Unit = {
      val p = perQuery(qi)
      if (p != null) {
        var slot = bases(qi)
        var pos = 0
        while (pos < p.length) {
          val r = packedRow(bytes, slot)
          r.setLong(0, qids(qi))
          r.setInt(1, pos + 1)
          r.setLong(2, p(pos)._1)
          r.setDouble(3, p(pos)._2)
          rows(slot) = r
          slot += 1; pos += 1
        }
      }
    }
    if (n >= parallelEmitThreshold) {
      val qb = 32
      val nBlocks = (nq + qb - 1) / qb
      java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
        var i = b * qb
        val end = math.min(nq, i + qb)
        while (i < end) { emit(i); i += 1 }
      }
    } else { qi = 0; while (qi < nq) { emit(qi); qi += 1 } }
    org.apache.spark.sql.graftshim.Shim.localRelationDf(spark, resultSchema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows),
      fastResultRow)
  }

  def tuplesDf(spark: SparkSession,
      rows: Seq[(Long, Int, Long, Double)]): DataFrame = {
    val n = rows.length
    val bytes = new Array[Byte](n * resultRowBytes)
    val out = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    var i = 0
    val it = rows.iterator
    while (it.hasNext) {
      val t = it.next()
      val r = packedRow(bytes, i)
      r.setLong(0, t._1); r.setInt(1, t._2)
      r.setLong(2, t._3); r.setDouble(3, t._4)
      out(i) = r
      i += 1
    }
    org.apache.spark.sql.graftshim.Shim.localRelationDf(spark, resultSchema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
      fastResultRow)
  }

  /** driver-sized result rows → a LocalRelation. Deliberate: a
    * LocalRelation's `collect()` goes through
    * `LocalTableScanExec.executeCollect`, which returns the rows WITHOUT
    * launching a Spark job — the search result is already client-side
    * (exactly the reference's `batch_search` return contract), so
    * downstream consumers that collect it pay zero scheduling. Consumers
    * that keep it relational get a normal plan node. */
  def rowsDf(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, resultSchema)
  }

  val resultSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
  }

  /** [[resultSchema]] with the qid column's nullability of the input it
    * came from: the distributed plans carry the query relation's qid
    * nullability through to their (qid, rank, id, dist) output. */
  def resultSchemaWith(qidNullable: Boolean): org.apache.spark.sql.types.StructType =
    if (!qidNullable) resultSchema
    else org.apache.spark.sql.types.StructType(
      resultSchema.fields.updated(0, resultSchema.fields(0).copy(nullable = true)))
}
