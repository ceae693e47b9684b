package graft.operators

/** Block-max WAND (Broder et al. CIKM'03; Ding & Suel SIGIR'11) — the
  * EXACT top-k scoring kernel behind [[Bm25.searchTopKWand]].
  *
  * Why it exists: exact term-at-a-time BM25 as a relational join
  * materializes Σ_t qf(t)·df(t) candidate rows before the (query, doc)
  * aggregate — at the 100× scaled pass (9.4k queries × 500k docs) that
  * join overflowed 80 GB of local spill twice (COVERAGE.md §"The 100×
  * pass"). Champion lists ([[Bm25]] `championListSize`) bound the
  * candidates but are approximate by construction. WAND keeps the
  * result EXACT and bounds the work dynamically: document-at-a-time
  * cursors over doc-ordered postings, a running threshold θ (the k-th
  * best score so far), and two pruning tiers —
  *
  *   - **list-max (WAND)**: a pivot scan over cursors sorted by current
  *     doc id; documents whose candidate term set's Σ listMax < θ are
  *     skipped without scoring.
  *   - **block-max (BMW)**: per-block max contributions refine the
  *     bound at the pivot; when the block-level bound also fails, the
  *     cursors jump past the minimal block boundary (capped at the next
  *     cursor's doc id, which keeps the skip exact).
  *
  * Exactness contract (what the `text_bm25_wand` gate hashes against
  * the exact relational oracle): every skip condition is STRICT
  * (`< θ`); a document with true score == θ is always evaluated, so
  * the (score desc, doc_id asc) tie-break of the exact path is
  * preserved bit-for-bit. Contributions are the same fixed-point longs
  * the relational path sums (`round(s·1e6)` — associative, engine- and
  * order-independent), computed with the identical double-arithmetic
  * expression tree (see [[Bm25.contribFixed]]).
  *
  * Everything here is single-threaded per (slice, query). Both BM25
  * WAND searches, over a corpus ([[Bm25.searchTopKWand]]) and over a
  * persisted index ([[Bm25.searchFromIndexWand]]), run it through one
  * core that picks the route per batch:
  *   - a batch whose vocabulary touches at most
  *     [[Bm25.driverWandMaxPostings]] postings (Σ df) runs on the driver,
  *     one query per driver thread over the full postings lists;
  *   - a larger batch, or any batch under `graft.local.enabled=false`,
  *     runs distributed: documents are hash-partitioned so each doc's
  *     postings are co-located, every partition answers every query over
  *     its local docs with a local θ, and only ≤ k rows per (partition,
  *     query) survive to the global top-k. Candidate materialization
  *     never exceeds P·nq·k rows regardless of df.
  */
private[operators] final class WandPostings(
    val ids: Array[Long],      // doc ids, strictly ascending
    val contribs: Array[Long], // fixed-point BM25 contribution per posting
    val blockMax: Array[Long], // max contrib per block of `blockSize`
    val blockSize: Int) {
  /** max contribution anywhere in the list (the WAND list upper bound) */
  val listMax: Long = {
    var m = Long.MinValue; var i = 0
    while (i < blockMax.length) { if (blockMax(i) > m) m = blockMax(i); i += 1 }
    m
  }
}

private[operators] object WandPostings {
  def apply(ids: Array[Long], contribs: Array[Long],
      blockSize: Int): WandPostings = {
    val nb = (ids.length + blockSize - 1) / blockSize
    val bm = Array.fill(nb)(Long.MinValue)
    var i = 0
    while (i < ids.length) {
      val b = i / blockSize
      if (contribs(i) > bm(b)) bm(b) = contribs(i)
      i += 1
    }
    new WandPostings(ids, contribs, bm, blockSize)
  }
}

/** One query's moving position in a postings list. */
private final class WandCursor(val pl: WandPostings) {
  var pos: Int = 0
  @inline def ok: Boolean = pos < pl.ids.length
  @inline def docId: Long = pl.ids(pos)
  @inline def contrib: Long = pl.contribs(pos)
  @inline def blockMaxHere: Long = pl.blockMax(pos / pl.blockSize)
  /** last doc id of the block `pos` sits in — the horizon the current
    * blockMaxHere bound is valid up to (inclusive) */
  @inline def blockEndDoc: Long = {
    val e = math.min(pl.ids.length, (pos / pl.blockSize + 1) * pl.blockSize) - 1
    pl.ids(e)
  }
  /** advance to the first posting with doc id >= target */
  def seek(target: Long): Unit = {
    var lo = pos; var hi = pl.ids.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pl.ids(mid) < target) lo = mid + 1 else hi = mid
    }
    pos = lo
  }
}

/** Bounded top-k under the exact path's total order (score desc, doc_id
  * asc): a k-ary min-heap whose root is the WORST kept entry, so the
  * pruning threshold is O(1). */
private[operators] final class WandTopK(k: Int) {
  private val hs = new Array[Long](k) // scores
  private val hi = new Array[Long](k) // doc ids
  private var n = 0
  @inline def size: Int = n
  /** θ: the k-th best score once full (prune strictly below it;
    * score == θ can still win its tie by doc id, so it must be
    * evaluated), else -inf */
  @inline def threshold: Long = if (n == k) hs(0) else Long.MinValue
  // "a ranks worse than b" under (score desc, doc_id asc)
  @inline private def worse(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)
  def offer(id: Long, score: Long): Unit = {
    if (n < k) {
      hs(n) = score; hi(n) = id; n += 1
      var c = n - 1
      while (c > 0) {
        val p = (c - 1) >> 1
        if (worse(hs(c), hi(c), hs(p), hi(p))) {
          val ts = hs(c); hs(c) = hs(p); hs(p) = ts
          val ti = hi(c); hi(c) = hi(p); hi(p) = ti
          c = p
        } else c = 0
      }
    } else if (worse(hs(0), hi(0), score, id)) { // new beats the worst
      hs(0) = score; hi(0) = id
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1; val r = l + 1
        var w = p
        if (l < n && worse(hs(l), hi(l), hs(w), hi(w))) w = l
        if (r < n && worse(hs(r), hi(r), hs(w), hi(w))) w = r
        if (w == p) done = true
        else {
          val ts = hs(p); hs(p) = hs(w); hs(w) = ts
          val ti = hi(p); hi(p) = hi(w); hi(w) = ti
          p = w
        }
      }
    }
  }
  /** (docId, score) pairs, arbitrary order — the caller re-ranks */
  def drain(out: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { out(hi(i), hs(i)); i += 1 }
  }
}

private[operators] object WandKernel {
  /** Exact top-k of one query over the given postings lists: block-max
    * WAND DAAT with strict-θ pruning. `emit(docId, scoreFixed)` is
    * called once per surviving doc (≤ k calls, unordered). */
  def run(lists: Array[WandPostings], k: Int,
      emit: (Long, Long) => Unit): Unit = {
    var n = 0
    val arr = new Array[WandCursor](lists.length)
    var li = 0
    while (li < lists.length) {
      if (lists(li).ids.length > 0) { arr(n) = new WandCursor(lists(li)); n += 1 }
      li += 1
    }
    val heap = new WandTopK(k)
    while (n > 0) {
      // insertion sort by current doc id (cursor counts are query-term
      // sized — tens at most — and nearly sorted between iterations)
      var i = 1
      while (i < n) {
        val c = arr(i); val d = c.docId; var j = i - 1
        while (j >= 0 && arr(j).docId > d) { arr(j + 1) = arr(j); j -= 1 }
        arr(j + 1) = c
        i += 1
      }
      // pivot: first prefix whose Σ listMax could reach θ (>= keeps ties)
      val theta = heap.threshold
      var acc = 0L; var p = -1; var idx = 0
      while (idx < n && p < 0) {
        acc += arr(idx).pl.listMax
        if (acc >= theta) p = idx
        idx += 1
      }
      if (p < 0) n = 0 // no remaining doc can reach θ — exact early exit
      else {
        val pivotDoc = arr(p).docId
        if (arr(0).docId == pivotDoc) {
          // prefix aligned; extend over ALL cursors sitting at pivotDoc
          // (lists beyond the pivot contribute to its score too)
          var e = p
          while (e + 1 < n && arr(e + 1).docId == pivotDoc) e += 1
          // block-max refinement
          var ub = 0L; var j = 0
          while (j <= e) { ub += arr(j).blockMaxHere; j += 1 }
          if (ub >= theta) {
            var sc = 0L; j = 0
            while (j <= e) { sc += arr(j).contrib; j += 1 }
            heap.offer(pivotDoc, sc)
            j = 0
            while (j <= e) { arr(j).pos += 1; j += 1 }
          } else {
            // BMW deep skip: every doc in (pivotDoc, d2) appears only in
            // cursors 0..e (d2 is capped at cursor e+1's doc id) and is
            // bounded by the same Σ blockMaxHere < θ, valid up to the
            // minimal block end — the whole range is provably below θ
            var d2 = Long.MaxValue; j = 0
            while (j <= e) {
              val be = arr(j).blockEndDoc
              if (be < d2) d2 = be
              j += 1
            }
            d2 += 1
            if (e + 1 < n && arr(e + 1).docId < d2) d2 = arr(e + 1).docId
            if (d2 <= pivotDoc) d2 = pivotDoc + 1
            j = 0
            while (j <= e) { arr(j).seek(d2); j += 1 }
          }
        } else {
          // classic WAND advance: lists before the pivot cannot produce
          // a θ-reaching doc below pivotDoc — jump them to it
          var j = 0
          while (j < p) {
            if (arr(j).docId < pivotDoc) arr(j).seek(pivotDoc)
            j += 1
          }
        }
        // compact exhausted cursors
        var w = 0; var r = 0
        while (r < n) {
          if (arr(r).ok) { arr(w) = arr(r); w += 1 }
          r += 1
        }
        n = w
      }
    }
    heap.drain(emit)
  }
}
