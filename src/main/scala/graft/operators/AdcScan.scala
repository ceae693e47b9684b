package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-buffered asymmetric-distance scan — the FAISS inverted-list
  * scan loop (`scan_codes`, via modular.py:277-286's delegation) re-shaped
  * for Spark's execution model.
  *
  * Why not score pair-rows in the join pipeline? Two measured costs at
  * n_base × n_queries volume (the removed dev/AdcProfile):
  *   1. **LUT locality**: a BroadcastNestedLoopJoin streams base rows and
  *      loops queries per row, so consecutive scores touch a DIFFERENT
  *      query's LUT (128 KB each at m=64,nC=256 — a 32 MB working set at
  *      256 queries): every lookup is a DRAM miss. Scanning query-major
  *      keeps ONE LUT L2-resident for a full pass over the partition's
  *      codes (~2× on the scoring stage alone).
  *   2. **Row-pipeline volume**: the join materializes every scored pair
  *      (5.1M rows at the baseline workload) through the non-codegen
  *      ObjectHashAggregate boundary; per-partition bounded heaps emit
  *      only partitions × queries × k survivor rows (~160× fewer).
  *
  * Scale shape: the code relation STREAMS (never collected, never
  * broadcast — at 100 TB it arrives partition by partition, pruned by
  * `centroid_id` for the IVF variants); per-query LUTs ride in one
  * broadcast (queries × m × nC doubles — MBs). Each task buffers only its
  * own partition's codes (bounded by `maxPartitionBytes`), exactly the
  * memory FAISS's per-list scan touches. Tie-breaks use the same
  * [[BoundedTopK]] (dist, id) order as the declarative plan, and scorers
  * reproduce the former in-plan arithmetic operation-for-operation, so
  * results are bit-identical to the crossJoin + aggregate formulation the
  * gate oracles were validated against.
  */
object AdcScan {

  /** Driver-or-broadcast table handle. The [[LocalScan]] fast path must
    * not pay a per-search broadcast WRITE (a 256-query PQ LUT is ~32 MB —
    * dominating a sub-ms local scan), while the distributed scan needs a
    * real Broadcast riding its task closures. Searchers pick the wrapper
    * once per search via `QueryBroadcastLifecycle.trackLut`, keyed on the
    * same local-table decision that picks the scan path. */
  sealed trait Lut[T] extends Serializable { def value: T }
  final case class LocalLut[T](value: T) extends Lut[T]
  final case class BcLut[T](bc: Broadcast[T]) extends Lut[T] {
    def value: T = bc.value
  }

  /** scoring kernel over one (query, code-row) pair; the row's `len`
    * code bytes sit at `codes[off ..< off+len]` of the partition's flat
    * buffer (flat layout: no per-row array object in the 256-pass hot
    * loop). Returns the FINAL emitted distance (sqrt etc. applied),
    * matching the former in-plan expression exactly. `cid` is -1 for
    * non-IVF scans. */
  trait Scorer extends Serializable {
    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double

    /** Score `nRows` consecutive rows (row r's codes at
      * `off0 + r·stride`) into `out[0 ..< nRows]`. Default = per-row
      * [[score]] loop. LUT scorers override with a j-block-tiled loop:
      * at 384-d a per-query LUT is ~786 KB and scoring row-by-row walks
      * ALL of it per row (every lookup an L2 miss); tiling reads each
      * ~64 KB LUT slice once per CHUNK of rows. Each row's accumulation
      * order stays exactly j = 0..m−1 (blocks processed in j order, one
      * partial accumulator per row), so every score is bit-identical to
      * the per-row form — only the interleaving across rows changes. */
    /** true when the scorer's per-query state is small enough (a few KB)
      * that a LIST-major IVF scan — codes chunk kept hot while every
      * probing query scores it — beats the query-major pass. LUT scorers
      * keep the default false: cycling their ~100-786 KB per-query
      * tables per chunk thrashes exactly what the scan needs resident
      * (the measured list-major regression that pinned query-major). */
    def prefersListMajor: Boolean = false

    def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte], off0: Int,
        stride: Int, nRows: Int, out: Array[Double]): Unit = {
      var r = 0
      while (r < nRows) {
        out(r) = score(qidx, cid, codes, off0 + r * stride, stride)
        r += 1
      }
    }
  }

  /** rows per [[Scorer.scoreChunk]] tile (accumulator array = 2 KB,
    * codes slab ≤ chunk × stride bytes — L2-friendly at every shape) */
  val scoreChunkRows = 256

  /** the int16×int8 weighted-sum contract [[VectorSq8Kernel]] fills —
    * MUST return exactly Σᵢ w(i)·codes(off+i) as the scalar loop does
    * (integer addition is associative, so any lane order qualifies) */
  trait Sq8IwsumKernel {
    def iwsum(w: Array[Short], codes: Array[Byte], off: Int, len: Int): Int

    /** warm the kernel's lane ops to C2 steady state, once per JVM —
      * called by the first [[Sq8FastScorer]] whose int16 regime will
      * route here (NOT at class load; see [[VectorSq8Kernel.primeOnce]]).
      * Scalar/default kernels have nothing to warm. */
    def primeOnce(): Unit = ()

    /** whole-chunk form, `out(r) = Σᵢ w(i)·codes(off0+r·stride+i)` for
      * r < nRows — same bit-exact contract per row. The SIMD kernels
      * override it to hoist the per-row overheads that made the one-row
      * kernel LOSE at 50-64-d (the removed dev/Sq8ChunkAb): the int weights widen
      * once per chunk (plain loads replace per-row S2I converts) and two
      * rows run in flight so the B2I converts and lane reductions
      * pipeline instead of serializing per call. */
    def iwsumChunk(w: Array[Short], codes: Array[Byte], off0: Int,
        stride: Int, nRows: Int, out: Array[Int]): Unit = {
      var r = 0
      while (r < nRows) {
        out(r) = iwsum(w, codes, off0 + r * stride, stride)
        r += 1
      }
    }
  }

  /** Runtime-optional SIMD iwsum (same reflective-load discipline as
    * [[SimdDist.vectorKernel]]): present whenever `jdk.incubator.vector`
    * resolves. There is no numeric divergence to opt into: the integer
    * sum is bit-identical to the scalar loop (spec-asserted), so even
    * the hash-model gates could run it; it simply lives behind the same
    * int16 regime switch as the scalar iwsum. */
  val sq8SimdKernel: Option[Sq8IwsumKernel] =
    try {
      Class.forName("jdk.incubator.vector.IntVector")
      Some(Class.forName("graft.operators.VectorSq8Kernel")
        .getMethod("make").invoke(null).asInstanceOf[Sq8IwsumKernel])
    } catch { case _: Throwable => None }

  /** the hardware-gather ADC contract [[VectorSq8Kernel.Gather512]]
    * fills for the FLOAT LUT scorers (lane-reassociated sums — the
    * strided_accum regime's contract; double gate scorers never route
    * here). `accs(r) +=` semantics so j-tiled callers compose. */
  trait AdcGatherKernel {
    def adcChunk(lut: Array[Float], nC: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, accs: Array[Float]): Unit
    def adcChunk2(t: Array[Float], ql: Array[Float], nC: Int,
        codes: Array[Byte], off0: Int, stride: Int, nRows: Int,
        accs: Array[Float]): Unit
  }

  /** runtime-optional gather ADC: present on 512-bit-vector CPUs with
    * the incubator module (vgatherdps is the whole point — narrower
    * CPUs keep the scalar 4-row block). */
  val adcGatherKernel: Option[AdcGatherKernel] =
    try {
      val sp = Class.forName("jdk.incubator.vector.IntVector")
        .getField("SPECIES_PREFERRED").get(null)
      // length() must be looked up on the PUBLIC VectorSpecies
      // interface — the implementation class is not exported, so a
      // getClass-based lookup throws on invoke
      val wide = Class.forName("jdk.incubator.vector.VectorSpecies")
        .getMethod("length").invoke(sp).asInstanceOf[Integer] >= 16
      if (!wide) None
      else Some(Class.forName("graft.operators.VectorSq8Kernel")
        .getMethod("makeGather").invoke(null).asInstanceOf[AdcGatherKernel])
    } catch { case _: Throwable => None }

  /** JVM-wide [[Sq8FastScorer]] row-norms memo: weak identity keys on
    * the flat codes array, so an unpersisted artifact's entry collects
    * with the array (same lifecycle contract as LocalScan's memo) */
  private val sq8NormsCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Byte], Array[Double]]())

  /** PQ ADC: sqrt(Σ_j lut[j·nC + code_j]) (l2) or Σ_j lut[…] (ip). */
  final class PqLutScorer(luts: Lut[Array[Array[Double]]],
      sqrtOut: Boolean) extends Scorer {
    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val lut = luts.value(qidx)
      val nC = lut.length / len
      var acc = 0.0; var j = 0
      while (j < len) { acc += lut(j * nC + (codes(off + j) + 128)); j += 1 }
      if (sqrtOut) math.sqrt(acc) else acc
    }

    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      val lut = luts.value(qidx)
      val nC = lut.length / stride
      val jb = math.max(1, (64 << 10) / 8 / nC) // LUT slice ≈ 64 KB
      java.util.Arrays.fill(out, 0, nRows, 0.0)
      var j0 = 0
      while (j0 < stride) {
        val j1 = math.min(stride, j0 + jb)
        var r = 0
        // 4-row register blocking: each row's accumulation chain stays
        // exactly j-ascending (bit-identical to the per-row loop — the
        // gate contract), but four independent add chains + four
        // independent LUT loads pipeline where one chain serializes on
        // FP-add latency and lookup misses
        while (r + 3 < nRows) {
          val offA = off0 + r * stride
          val offB = offA + stride
          val offC = offB + stride
          val offD = offC + stride
          var a0 = out(r); var a1 = out(r + 1)
          var a2 = out(r + 2); var a3 = out(r + 3)
          var j = j0
          while (j < j1) {
            val base = j * nC + 128
            a0 += lut(base + codes(offA + j))
            a1 += lut(base + codes(offB + j))
            a2 += lut(base + codes(offC + j))
            a3 += lut(base + codes(offD + j))
            j += 1
          }
          out(r) = a0; out(r + 1) = a1; out(r + 2) = a2; out(r + 3) = a3
          r += 4
        }
        while (r < nRows) {
          val off = off0 + r * stride
          var acc = out(r)
          var j = j0
          while (j < j1) { acc += lut(j * nC + (codes(off + j) + 128)); j += 1 }
          out(r) = acc
          r += 1
        }
        j0 = j1
      }
      if (sqrtOut) {
        var r = 0
        while (r < nRows) { out(r) = math.sqrt(out(r)); r += 1 }
      }
    }
  }

  /** FAISS-regime PQ ADC (opt-in via `strided_accum`; gates keep
    * [[PqLutScorer]]'s oracle-exact double path): FLOAT LUTs — half the
    * table bytes, so the 128 KB/query 64×256 table becomes 64 KB and the
    * data-dependent gathers hit closer caches — with float accumulation
    * (FAISS's own ADC arithmetic). Same j-tiling + 4-row blocking as the
    * exact scorer; values differ by single-precision rounding only, so
    * recall is equivalent and both the local and distributed paths share
    * the one scorer when the flag is on. */
  final class FloatPqLutScorer(luts: Lut[Array[Array[Float]]],
      sqrtOut: Boolean) extends Scorer {
    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val lut = luts.value(qidx)
      val nC = lut.length / len
      var acc = 0.0f; var j = 0
      while (j < len) { acc += lut(j * nC + (codes(off + j) + 128)); j += 1 }
      if (sqrtOut) math.sqrt(acc.toDouble) else acc.toDouble
    }

    /** the hardware-gather chunk kernel when loadable (see
      * [[adcGatherKernel]]); null → the scalar 4-row block below */
    @transient private lazy val gather: AdcGatherKernel =
      adcGatherKernel.orNull

    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      val lut = luts.value(qidx)
      val nC = lut.length / stride
      val g = gather
      if (g != null) {
        val accs = new Array[Float](nRows)
        g.adcChunk(lut, nC, codes, off0, stride, nRows, accs)
        var r = 0
        if (sqrtOut)
          while (r < nRows) { out(r) = math.sqrt(accs(r).toDouble); r += 1 }
        else
          while (r < nRows) { out(r) = accs(r).toDouble; r += 1 }
        return
      }
      val jb = math.max(1, (64 << 10) / 4 / nC) // float LUT slice ≈ 64 KB
      val accs = new Array[Float](nRows)
      var j0 = 0
      while (j0 < stride) {
        val j1 = math.min(stride, j0 + jb)
        var r = 0
        while (r + 3 < nRows) {
          val offA = off0 + r * stride
          val offB = offA + stride
          val offC = offB + stride
          val offD = offC + stride
          var a0 = accs(r); var a1 = accs(r + 1)
          var a2 = accs(r + 2); var a3 = accs(r + 3)
          var j = j0
          while (j < j1) {
            val base = j * nC + 128
            a0 += lut(base + codes(offA + j))
            a1 += lut(base + codes(offB + j))
            a2 += lut(base + codes(offC + j))
            a3 += lut(base + codes(offD + j))
            j += 1
          }
          accs(r) = a0; accs(r + 1) = a1; accs(r + 2) = a2; accs(r + 3) = a3
          r += 4
        }
        while (r < nRows) {
          val off = off0 + r * stride
          var acc = accs(r)
          var j = j0
          while (j < j1) { acc += lut(j * nC + (codes(off + j) + 128)); j += 1 }
          accs(r) = acc
          r += 1
        }
        j0 = j1
      }
      var r = 0
      if (sqrtOut)
        while (r < nRows) { out(r) = math.sqrt(accs(r).toDouble); r += 1 }
      else
        while (r < nRows) { out(r) = accs(r).toDouble; r += 1 }
    }
  }

  /** FAISS-regime residual IVF-PQ ADC (opt-in via `strided_accum`): both
    * per-entry tables float (t2 already is; qLut converted once per
    * batch), float accumulation, ‖q−c‖² base added back in double before
    * the clamp+sqrt. See [[FloatPqLutScorer]] for the regime contract. */
  final class FloatResidualScorer(tables: Lut[(Array[Array[Float]],
      Array[Array[Float]], Array[Array[Double]])]) extends Scorer {
    /** hardware-gather chunk kernel when loadable; null → scalar block */
    @transient private lazy val residGather: AdcGatherKernel =
      adcGatherKernel.orNull

    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val (qLut, t2, qcNorm) = tables.value
      val ql = qLut(qidx)
      val t = t2(cid)
      val nC = ql.length / len
      var acc = 0.0f
      var j = 0
      while (j < len) {
        val idx = j * nC + (codes(off + j) + 128)
        acc += t(idx) + ql(idx)
        j += 1
      }
      math.sqrt(math.max(0.0, qcNorm(qidx)(cid) + acc.toDouble))
    }

    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      val (qLut, t2, qcNorm) = tables.value
      val ql = qLut(qidx)
      val t = t2(cid)
      val nC = ql.length / stride
      val base = qcNorm(qidx)(cid)
      val accs = new Array[Float](nRows)
      val g = residGather
      if (g != null) {
        g.adcChunk2(t, ql, nC, codes, off0, stride, nRows, accs)
        var r = 0
        while (r < nRows) {
          out(r) = math.sqrt(math.max(0.0, base + accs(r).toDouble)); r += 1
        }
        return
      }
      val jb = math.max(1, (64 << 10) / 4 / nC)
      var j0 = 0
      while (j0 < stride) {
        val j1 = math.min(stride, j0 + jb)
        var r = 0
        while (r + 3 < nRows) {
          val offA = off0 + r * stride
          val offB = offA + stride
          val offC = offB + stride
          val offD = offC + stride
          var a0 = accs(r); var a1 = accs(r + 1)
          var a2 = accs(r + 2); var a3 = accs(r + 3)
          var j = j0
          while (j < j1) {
            val jn = j * nC + 128
            val iA = jn + codes(offA + j); val iB = jn + codes(offB + j)
            val iC = jn + codes(offC + j); val iD = jn + codes(offD + j)
            a0 += t(iA) + ql(iA)
            a1 += t(iB) + ql(iB)
            a2 += t(iC) + ql(iC)
            a3 += t(iD) + ql(iD)
            j += 1
          }
          accs(r) = a0; accs(r + 1) = a1; accs(r + 2) = a2; accs(r + 3) = a3
          r += 4
        }
        while (r < nRows) {
          val off = off0 + r * stride
          var acc = accs(r)
          var j = j0
          while (j < j1) {
            val idx = j * nC + (codes(off + j) + 128)
            acc += t(idx) + ql(idx)
            j += 1
          }
          accs(r) = acc
          r += 1
        }
        j0 = j1
      }
      var r = 0
      while (r < nRows) {
        out(r) = math.sqrt(math.max(0.0, base + accs(r).toDouble)); r += 1
      }
    }
  }

  /** primitive parallel double→float LUT conversion (a boxed
    * `Array.map(_.toFloat)` over 256 × 16K entries cost ~20 ms per
    * search — more than the scan it was feeding) */
  def toFloatLuts(luts: Array[Array[Double]]): Array[Array[Float]] = {
    val out = new Array[Array[Float]](luts.length)
    java.util.stream.IntStream.range(0, luts.length).parallel().forEach { i =>
      val l = luts(i)
      val f = new Array[Float](l.length)
      var j = 0
      while (j < l.length) { f(j) = l(j).toFloat; j += 1 }
      out(i) = f
    }
    out
  }

  /** SQ8 asymmetric: query float vs dequantized byte codes.
    * mode: 0 = L2 (sqrt), 1 = IP (−dot), 2 = cosine.
    *
    * Dequantization goes through a query-INDEPENDENT dim×256 table
    * (`deq[i·256 + c] = lo(i) + ((c+128)/255.0)·(hi(i)−lo(i))` — each
    * entry computed by exactly the inline formula, so every score is
    * bit-identical to the formula the DuckDB oracle replays): one
    * 131 KB (64-d) to 786 KB (384-d) table shared by ALL queries for the
    * whole scan, replacing a double division + two FP ops per element
    * with one lookup. @transient lazy: the distributed path broadcasts
    * only lo/hi and each executor rebuilds the table once.
    *
    * For the FAISS-regime fast path see [[Sq8FastScorer]]; this class is
    * the oracle-exact kernel the gates pin. */
  final class Sq8Scorer(queries: Lut[Array[Array[Float]]],
      lo: Array[Float], hi: Array[Float], mode: Int) extends Scorer {
    @transient private lazy val deq: Array[Double] = {
      val dim = lo.length
      val out = new Array[Double](dim * 256)
      var i = 0
      while (i < dim) {
        var b = 0
        while (b < 256) {
          val c = b / 255.0
          out(i * 256 + b) = lo(i) + c * (hi(i) - lo(i))
          b += 1
        }
        i += 1
      }
      out
    }
    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val q = queries.value(qidx)
      val dq = deq
      var acc = 0.0; var dot = 0.0; var nq = 0.0; var nb = 0.0
      var i = 0
      while (i < len) {
        val x = dq(i * 256 + (codes(off + i) + 128))
        val qq = q(i).toDouble
        if (mode == 2) { dot += qq * x; nq += qq * qq; nb += x * x }
        else if (mode == 1) { dot += qq * x }
        else { val d = qq - x; acc += d * d }
        i += 1
      }
      if (mode == 2) {
        val den = math.sqrt(nq) * math.sqrt(nb)
        if (den == 0.0) 1.0 else 1.0 - dot / den
      } else if (mode == 1) -dot
      else math.sqrt(acc)
    }

    /** tiled for L2/IP (the 786 KB deq table at 384-d walks fully per
      * row otherwise); cosine's three accumulators keep the default */
    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      if (mode == 2) {
        super.scoreChunk(qidx, cid, codes, off0, stride, nRows, out)
        return
      }
      val q = queries.value(qidx)
      val dq = deq
      val jb = math.max(1, (64 << 10) / 8 / 256) // deq slice ≈ 64 KB
      java.util.Arrays.fill(out, 0, nRows, 0.0)
      var j0 = 0
      while (j0 < stride) {
        val j1 = math.min(stride, j0 + jb)
        var r = 0
        // 4-row register blocking (see PqLutScorer.scoreChunk): per-row
        // chains stay i-ascending → bit-identical, but pipeline
        while (r + 3 < nRows) {
          val offA = off0 + r * stride
          val offB = offA + stride
          val offC = offB + stride
          val offD = offC + stride
          var a0 = out(r); var a1 = out(r + 1)
          var a2 = out(r + 2); var a3 = out(r + 3)
          var i = j0
          if (mode == 1) {
            while (i < j1) {
              val base = i * 256 + 128
              val qq = q(i).toDouble
              a0 += qq * dq(base + codes(offA + i))
              a1 += qq * dq(base + codes(offB + i))
              a2 += qq * dq(base + codes(offC + i))
              a3 += qq * dq(base + codes(offD + i))
              i += 1
            }
          } else {
            while (i < j1) {
              val base = i * 256 + 128
              val qq = q(i).toDouble
              val dA = qq - dq(base + codes(offA + i))
              val dB = qq - dq(base + codes(offB + i))
              val dC = qq - dq(base + codes(offC + i))
              val dD = qq - dq(base + codes(offD + i))
              a0 += dA * dA; a1 += dB * dB; a2 += dC * dC; a3 += dD * dD
              i += 1
            }
          }
          out(r) = a0; out(r + 1) = a1; out(r + 2) = a2; out(r + 3) = a3
          r += 4
        }
        while (r < nRows) {
          val off = off0 + r * stride
          var acc = out(r)
          var i = j0
          if (mode == 1) {
            while (i < j1) {
              acc += q(i).toDouble * dq(i * 256 + (codes(off + i) + 128))
              i += 1
            }
          } else {
            while (i < j1) {
              val d = q(i).toDouble - dq(i * 256 + (codes(off + i) + 128))
              acc += d * d
              i += 1
            }
          }
          out(r) = acc
          r += 1
        }
        j0 = j1
      }
      var r = 0
      if (mode == 1)
        while (r < nRows) { out(r) = -out(r); r += 1 }
      else
        while (r < nRows) { out(r) = math.sqrt(out(r)); r += 1 }
    }
  }

  /** FAISS-regime SQ8 kernel (opt-in via `strided_accum`; gates keep
    * [[Sq8Scorer]]'s oracle-exact index-order sum). Two structural
    * changes, both recall-equivalent reassociations of the same math:
    *
    * 1. **Factored dequantization.** `deq[i,c] = lo(i) + scale(i)·u(c)`
    *    with `u(c) = c/255` a 256-entry (2 KB, L1-resident) table —
    *    [[Sq8Scorer]]'s dim×256 table is 786 KB at 384-d, so every
    *    data-dependent lookup was an L2 hit; the measured scan floor was
    *    ~9 ns/element with the lookup latency chain dominating
    *    (the removed dev/Sq8ScanShootout; a stride-4 unroll alone recovered only
    *    ~24%).
    * 2. **Gram decomposition + hoisting.** L2: ‖q−x‖² = ‖q−lo−s·u‖²
    *    = qn − 2·Σᵢ ys(i)·u(cᵢ) + rn(row), with ys(i) = (qᵢ−lo(i))·
    *    scale(i) per QUERY (3 KB, once per batch), qn = Σ(qᵢ−lo(i))²
    *    per query, and rn(row) = Σ scale(i)²·u(cᵢ)² per ROW — computed
    *    in ONE parallel pass per scan and reused by every probing query.
    *    IP: q·x = q·lo (hoisted) + Σ qs(i)·u(cᵢ). The inner loop is one
    *    sequential load + one L1 lookup + one FMA per element, stride-4
    *    unrolled.
    *
    * FAISS's own AVX kernels reassociate sums the same way, so this is
    * the faithful comparison regime (the l2_gram precedent). Values
    * differ from the exact kernel by reassociation + cancellation noise
    * (clamped at 0 before sqrt like [[ResidualScorer]]); local ≡
    * distributed still holds — both paths share this scorer when the
    * flag is on. `normsFor` memoizes per-row norms on the codes-array
    * instance: the local path passes one flat array per artifact; the
    * distributed path re-derives per partition pass. mode: 0 = L2,
    * 1 = IP (cosine callers route through the exact scorer). */
  final class Sq8FastScorer(queries: Lut[Array[Array[Float]]],
      lo: Array[Float], hi: Array[Float], mode: Int) extends Scorer {
    private val dim = lo.length

    /** per-query state is ys/qs (dim doubles ≈ 3 KB at 384-d) + a scalar
      * — the u table and row norms are query-shared, so the list-major
      * scan's state cycling is L1-cheap while the codes-traffic saving
      * is ~(avg probing queries per list)× (the removed dev/Sq8StageProfile msmarco:
      * the query-major scan re-read 252 MB/batch at 42 ms where the
      * arithmetic bound is ~8 ms) */
    override def prefersListMajor: Boolean = true

    @transient private lazy val u: Array[Double] = {
      val out = new Array[Double](256)
      var b = 0
      while (b < 256) { out(b) = b / 255.0; b += 1 }
      out
    }
    @transient private lazy val u2: Array[Double] = {
      val out = new Array[Double](256)
      var b = 0
      while (b < 256) { val v = b / 255.0; out(b) = v * v; b += 1 }
      out
    }
    @transient private lazy val scaleD: Array[Double] =
      Array.tabulate(dim)(i => hi(i).toDouble - lo(i).toDouble)
    @transient private lazy val scale2D: Array[Double] =
      Array.tabulate(dim)(i => scaleD(i) * scaleD(i))

    /** per-query hoisted state: ys(i) (L2) or qs(i) (IP), plus the
      * scalar constant (qn for L2, q·lo for IP) */
    @transient private lazy val qState: (Array[Array[Double]], Array[Double]) = {
      val qv = queries.value
      val w = new Array[Array[Double]](qv.length)
      val c = new Array[Double](qv.length)
      var qi = 0
      while (qi < qv.length) {
        val q = qv(qi)
        val arr = new Array[Double](dim)
        var acc = 0.0
        var i = 0
        if (mode == 1) {
          while (i < dim) {
            arr(i) = q(i).toDouble * scaleD(i)
            acc += q(i).toDouble * lo(i).toDouble
            i += 1
          }
        } else {
          while (i < dim) {
            val y = q(i).toDouble - lo(i).toDouble
            arr(i) = y * scaleD(i)
            acc += y * y
            i += 1
          }
        }
        w(qi) = arr; c(qi) = acc
        qi += 1
      }
      (w, c)
    }

    /** row norms rn(row) = Σᵢ scale(i)²·u(cᵢ)², one parallel pass per
      * codes-array instance (JVM-wide WeakHashMap identity memo in
      * [[sq8NormsCache]]: a NEW scorer is built per search call, but the
      * local scan passes the SAME flat array per artifact — the pass must
      * amortize across searches, not re-run per call). Norms are
      * metric-independent (codes + lo/hi only) and codes arrays are
      * per-artifact instances, so identity keying cannot collide. */
    private def normsCache = sq8NormsCache

    /** per-scorer memo of the LAST resolved (codes → norms) pair: the
      * scan calls scoreChunk once per ≤256-row chunk, and a synchronized
      * map get per chunk contends across the parallel query threads.
      * Tuple2 fields are final → safe publication; racing writes are
      * idempotent. */
    @transient private var rnLast: (Array[Byte], Array[Double]) = null
    private def normsResolved(codes: Array[Byte]): Array[Double] = {
      val p = rnLast
      if (p != null && (p._1 eq codes)) p._2
      else {
        val a = normsFor(codes)
        rnLast = (codes, a)
        a
      }
    }

    private def normsFor(codes: Array[Byte]): Array[Double] = {
      val got = normsCache.get(codes)
      if (got != null) return got
      // compute OUTSIDE the map monitor: computeIfAbsent would hold the
      // single JVM-wide lock for the whole parallel pass, serializing
      // every other codes array's lookup behind it (distributed scans
      // hit one array per partition). A same-array race duplicates the
      // pass instead — benign and idempotent (same values; partitions
      // are single-threaded so it needs two concurrent SEARCHES). Local
      // callers avoid even that via [[precomputeNorms]] before the
      // query fan-out.
      val computed = locally { val cs = codes
        val n = cs.length / math.max(1, dim)
        val out = new Array[Double](n)
        val s2 = scale2D; val uu = u2; val d = dim
        java.util.stream.IntStream.range(0, n).parallel().forEach { r =>
          val off = r * d
          var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
          var i = 0
          val m4 = d - 3
          while (i < m4) {
            a0 += s2(i) * uu(cs(off + i) + 128)
            a1 += s2(i + 1) * uu(cs(off + i + 1) + 128)
            a2 += s2(i + 2) * uu(cs(off + i + 2) + 128)
            a3 += s2(i + 3) * uu(cs(off + i + 3) + 128)
            i += 4
          }
          while (i < d) { a0 += s2(i) * uu(cs(off + i) + 128); i += 1 }
          out(r) = (a0 + a1) + (a2 + a3)
        }
        out
      }
      val prior = normsCache.putIfAbsent(codes, computed)
      if (prior != null) prior else computed
    }

    /** eager per-row-norms pass with the full driver pool (call before a
      * parallel query fan-out so scoring threads never contend on the
      * norms monitor); no-op for IP mode */
    def precomputeNorms(codes: Array[Byte]): Unit =
      if (mode == 0) { normsFor(codes); () }

    /** the shared weighted-lookup sum S = Σᵢ w(i)·u(cᵢ), stride-4 */
    @inline private def wsum(w: Array[Double], codes: Array[Byte],
        off: Int, len: Int): Double = {
      val uu = u
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      val m4 = len - 3
      while (i < m4) {
        a0 += w(i) * uu(codes(off + i) + 128)
        a1 += w(i + 1) * uu(codes(off + i + 1) + 128)
        a2 += w(i + 2) * uu(codes(off + i + 2) + 128)
        a3 += w(i + 3) * uu(codes(off + i + 3) + 128)
        i += 4
      }
      while (i < len) { a0 += w(i) * uu(codes(off + i) + 128); i += 1 }
      (a0 + a1) + (a2 + a3)
    }

    /** INT16-quantized weights (the symmetric-scoring escape, r9 advice
      * #6): wsq(i) = round(w(i)/step) with step = max|w|/16383, so
      *   Σ w(i)·u(cᵢ) = Σ w(i)·(cᵢ+128)/255
      *                ≈ (step·Σ wsq(i)·cᵢ + 128·Σ w(i)) / 255
      * and the inner loop is ONE int16×int8 multiply-accumulate per
      * element — no table lookup, no double FMA chain
      * (the removed dev/Sq8SymMicro: 0.55 vs 0.90 ns/elem). |Σ| ≤ dim·16383·128
      * stays in int32 through 1024 dims. Weight quantization error is
      * ≤ 2⁻¹⁴ relative — recall-equivalent, same contract as this
      * scorer's reassociated sums (opt-in strided regime only; gates pin
      * the exact Sq8Scorer). Shared by score and scoreChunk so local ≡
      * distributed still holds. */
    @transient private lazy val qIntState
        : (Array[Array[Short]], Array[Double], Array[Double]) = {
      val (w, _) = qState
      val wsq = new Array[Array[Short]](w.length)
      val step = new Array[Double](w.length)
      val wsumConst = new Array[Double](w.length)
      var qi = 0
      while (qi < w.length) {
        val arr = w(qi)
        var mx = 0.0
        var i = 0
        while (i < arr.length) {
          val a = math.abs(arr(i)); if (a > mx) mx = a; i += 1
        }
        val st = if (mx == 0.0) 1.0 else mx / 16383.0
        val qarr = new Array[Short](arr.length)
        var sw = 0.0
        i = 0
        while (i < arr.length) {
          qarr(i) = math.round(arr(i) / st).toShort
          sw += arr(i)
          i += 1
        }
        wsq(qi) = qarr; step(qi) = st; wsumConst(qi) = 128.0 * sw
        qi += 1
      }
      (wsq, step, wsumConst)
    }

    /** the SIMD iwsum when the incubator module resolves (bit-identical
      * integer sum — see [[Sq8IwsumKernel]]); null → scalar loop. Held
      * in a local field so the hot-loop call is monomorphic. */
    @transient private lazy val simdIwsum: Sq8IwsumKernel =
      sq8SimdKernel.orNull

    /** S_int = Σᵢ wsq(i)·cᵢ over raw signed code bytes, stride-4 int */
    @inline private def iwsum(w: Array[Short], codes: Array[Byte],
        off: Int, len: Int): Int = {
      val k = simdIwsum
      if (k != null) return k.iwsum(w, codes, off, len)
      var a0 = 0; var a1 = 0; var a2 = 0; var a3 = 0
      var i = 0
      val m4 = len - 3
      while (i < m4) {
        a0 += w(i) * codes(off + i)
        a1 += w(i + 1) * codes(off + i + 1)
        a2 += w(i + 2) * codes(off + i + 2)
        a3 += w(i + 3) * codes(off + i + 3)
        i += 4
      }
      while (i < len) { a0 += w(i) * codes(off + i); i += 1 }
      (a0 + a1) + (a2 + a3)
    }

    // int16 weight quantization: auto ON only at wide rows (dim >= 128,
    // i.e. the msmarco 384-d regime where it measured 43 -> 31 ms/batch).
    // At 50-64-d the double-lookup wsum is already load-port-fed from L1
    // and the int16 variant measured NO steady-state win (the removed
    // dev/Sq8StageProfile glove50 A/B: 1.5 vs 1.6 ms) while its extra
    // branch+lazy state roughly TRIPLED C2 warm-up (the removed
    // dev/Sq8WarmCurve: still ~6 ms/call at call 30 vs ~2.4 ms by call 7 with
    // it off) — and the frozen bench
    // window is 1-warm + best-of-3, so slow warm-up IS a QPS regression
    // (glove50/random ivf_sq8 fell 1.43x -> 0.49x / 0.20x -> 0.11x of
    // reference in the r10 mid-round artifact before this gate).
    // Upper bound 1024: iwsum's |Σ| ≤ dim·16383·128 only stays inside
    // int32 through 1024 dims (qIntState's own bound) — beyond that the
    // accumulator could wrap and corrupt distances, so wider rows keep
    // the double-lookup wsum.
    // r12 note: the per-ROW SIMD iwsum (4-6× the scalar loop in
    // isolation, the removed dev/Sq8SimdMicro) did NOT move the dim gate —
    // in-context row A/Bs measured it ~2× WORSE than the double-lookup wsum at
    // 50-64-d (glove50 99.6k → 51.1k QPS, random 43.0k → 26.8k): at
    // narrow dims the scan was bound by per-row overheads the vector
    // kernel added (convert+reduce per 3-4 steps). The CHUNK kernel
    // (iwsumChunk: weights widened once per tile, 2 rows in flight)
    // removes exactly those, and flips the verdict at every baseline
    // shape (the removed dev/Sq8ChunkAb, min-of-12 interleaved): glove50 93.4k
    // → 133.6k QPS, random 63.8k → 98.5k, msmarco 2.07k → 3.02k. So with
    // the SIMD kernel present the int16 regime is ON at every dim
    // (≤ 1024, the int32 bound); without it (module absent) the scalar
    // int16 path keeps its measured dim>=128 gate.
    private val useInt16 = dim <= 1024 && (dim >= 128 || sq8SimdKernel.isDefined)

    // lazy JIT priming (once per JVM): only a scorer that will actually
    // route the int16 SIMD path pays the ≤250 ms warm-up — previously
    // this ran at VectorSq8Kernel class load in EVERY JVM touching any
    // AdcScan member (ADVICE r12). Constructor-time keeps it out of the
    // bench's timed window (the untimed warm call builds the scorer).
    if (useInt16) sq8SimdKernel.foreach(_.primeOnce())
    // and the serve LOOPS around the kernel (r13): scan dispatch, heap
    // inserts, probe staging — see LocalScan.primeSq8ServeOnce for the
    // measured 2.9× warm-up share this removes from the bench window
    LocalScan.primeSq8ServeOnce()

    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val c = qState._2(qidx)
      val s =
        if (useInt16) {
          val (wsq, step, wc) = qIntState
          (step(qidx) * iwsum(wsq(qidx), codes, off, len) + wc(qidx)) / 255.0
        } else wsum(qState._1(qidx), codes, off, len)
      if (mode == 1) -(c + s)
      else {
        val rn = normsResolved(codes)(off / math.max(1, len))
        math.sqrt(math.max(0.0, c - 2.0 * s + rn))
      }
    }

    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      val c = qState._2(qidx)
      if (!useInt16) {
        val w = qState._1(qidx)
        if (mode == 1) {
          var r = 0
          while (r < nRows) {
            out(r) = -(c + wsum(w, codes, off0 + r * stride, stride))
            r += 1
          }
        } else {
          val rn = normsResolved(codes)
          val row0 = off0 / math.max(1, stride)
          var r = 0
          while (r < nRows) {
            val s = wsum(w, codes, off0 + r * stride, stride)
            out(r) = math.sqrt(math.max(0.0, c - 2.0 * s + rn(row0 + r)))
            r += 1
          }
        }
        return
      }
      val (wsqAll, stepAll, wcAll) = qIntState
      val w = wsqAll(qidx); val step = stepAll(qidx); val wc = wcAll(qidx)
      val k = simdIwsum
      if (k != null) {
        // whole-chunk SIMD: one call per ≤256-row tile, int sums into a
        // scratch buffer (1 KB — escape-analysis fodder), then the same
        // double expression per row as the per-row path (bit-identical)
        val ibuf = new Array[Int](nRows)
        k.iwsumChunk(w, codes, off0, stride, nRows, ibuf)
        if (mode == 1) {
          var r = 0
          while (r < nRows) {
            out(r) = -(c + (step * ibuf(r) + wc) / 255.0)
            r += 1
          }
        } else {
          val rn = normsResolved(codes)
          val row0 = off0 / math.max(1, stride)
          var r = 0
          while (r < nRows) {
            val s = (step * ibuf(r) + wc) / 255.0
            out(r) = math.sqrt(math.max(0.0, c - 2.0 * s + rn(row0 + r)))
            r += 1
          }
        }
        return
      }
      if (mode == 1) {
        var r = 0
        while (r < nRows) {
          val s = (step * iwsum(w, codes, off0 + r * stride, stride) + wc) / 255.0
          out(r) = -(c + s)
          r += 1
        }
      } else {
        val rn = normsResolved(codes)
        val row0 = off0 / math.max(1, stride)
        var r = 0
        while (r < nRows) {
          val s = (step * iwsum(w, codes, off0 + r * stride, stride) + wc) / 255.0
          out(r) = math.sqrt(math.max(0.0, c - 2.0 * s + rn(row0 + r)))
          r += 1
        }
      }
    }
  }

  /** Residual IVF-PQ ADC (FAISS precomputed-table decomposition — see
    * IvfPq.scala): ‖q−c‖² + Σ_j (t2[cid][idx] + qLut[qidx][idx]), clamped
    * at 0 before sqrt (the cancellation can round to ~−1e-16 when the
    * true distance is ~0; sqrt would yield NaN, ordered LAST by Spark,
    * dropping the best candidate). */
  final class ResidualScorer(tables: Lut[(Array[Array[Double]],
      Array[Array[Float]], Array[Array[Double]])]) extends Scorer {
    def score(qidx: Int, cid: Int, codes: Array[Byte], off: Int, len: Int): Double = {
      val (qLut, t2, qcNorm) = tables.value
      val ql = qLut(qidx)
      val t = t2(cid)
      val nC = ql.length / len
      var acc = qcNorm(qidx)(cid)
      var j = 0
      while (j < len) {
        val idx = j * nC + (codes(off + j) + 128)
        acc += t(idx) + ql(idx)
        j += 1
      }
      math.sqrt(math.max(0.0, acc))
    }

    /** tiled like [[PqLutScorer.scoreChunk]] (two tables walk per row
      * here, so the residual path thrashes at even smaller dims);
      * accumulators start at ‖q−c‖² and add (t2 + qLut) in j order —
      * bit-identical to the per-row loop. */
    override def scoreChunk(qidx: Int, cid: Int, codes: Array[Byte],
        off0: Int, stride: Int, nRows: Int, out: Array[Double]): Unit = {
      val (qLut, t2, qcNorm) = tables.value
      val ql = qLut(qidx)
      val t = t2(cid)
      val nC = ql.length / stride
      val base = qcNorm(qidx)(cid)
      java.util.Arrays.fill(out, 0, nRows, base)
      val jb = math.max(1, (64 << 10) / 8 / nC)
      var j0 = 0
      while (j0 < stride) {
        val j1 = math.min(stride, j0 + jb)
        var r = 0
        // 4-row register blocking (see PqLutScorer.scoreChunk): per-row
        // chains stay j-ascending → bit-identical, but pipeline
        while (r + 3 < nRows) {
          val offA = off0 + r * stride
          val offB = offA + stride
          val offC = offB + stride
          val offD = offC + stride
          var a0 = out(r); var a1 = out(r + 1)
          var a2 = out(r + 2); var a3 = out(r + 3)
          var j = j0
          while (j < j1) {
            val jn = j * nC + 128
            val iA = jn + codes(offA + j); val iB = jn + codes(offB + j)
            val iC = jn + codes(offC + j); val iD = jn + codes(offD + j)
            a0 += t(iA) + ql(iA)
            a1 += t(iB) + ql(iB)
            a2 += t(iC) + ql(iC)
            a3 += t(iD) + ql(iD)
            j += 1
          }
          out(r) = a0; out(r + 1) = a1; out(r + 2) = a2; out(r + 3) = a3
          r += 4
        }
        while (r < nRows) {
          val off = off0 + r * stride
          var acc = out(r)
          var j = j0
          while (j < j1) {
            val idx = j * nC + (codes(off + j) + 128)
            acc += t(idx) + ql(idx)
            j += 1
          }
          out(r) = acc
          r += 1
        }
        j0 = j1
      }
      var r = 0
      while (r < nRows) { out(r) = math.sqrt(math.max(0.0, out(r))); r += 1 }
    }
  }

  /** flat (ids, codes) buffer of one partition (or one inverted list's
    * slice of it): row r's code bytes live at [r·m, (r+1)·m) */
  private final class FlatCodes(val ids: Array[Long], val codes: Array[Byte],
      val m: Int) {
    def n: Int = ids.length
  }

  private def flatten(rows: scala.collection.Seq[(Long, Array[Byte])]): FlatCodes = {
    val n = rows.length
    val m = if (n == 0) 0 else rows.head._2.length
    val ids = new Array[Long](n)
    val flat = new Array[Byte](n * m)
    var i = 0
    rows.foreach { row =>
      ids(i) = row._1
      System.arraycopy(row._2, 0, flat, i * m, m)
      i += 1
    }
    new FlatCodes(ids, flat, m)
  }

  /** Survivor-row cap for the driver-merge finish: below it the
    * per-partition top-k survivors (≤ queries × k × partitions slim
    * tuples) collect and merge on the driver — search results are
    * driver-sized BY DEFINITION (FAISS returns them in client memory) and
    * skipping the exchange + final-aggregate stages saves two job
    * boundaries per search. Above it (huge query batches on wide data)
    * the distributed [[KnnJoin.topKExploded]] tail runs instead — the
    * same exact-count switch as Dedup's union-find path, and off with
    * [[Regime.enabled]]. */
  val driverMergeCap: Long = 2_000_000L

  /** Full scan + top-k finish: every query scores every code row. `data`
    * must project (id: long, codes: binary). Output: the canonical
    * (qid, rank, id, dist) relation, identical to
    * `topKExploded(pair-scored rows)`. */
  def searchTopK(data: DataFrame, qids: Array[Long], k: Int, scorer: Scorer)
      : DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val nQ = qids.length
    val src = data.select(col("id").cast("long"), col("codes"))
      .as[(Long, Array[Byte])]
    val scanned = src.mapPartitions { it =>
      val fc = flatten(it.toArray[(Long, Array[Byte])])
      if (fc.n == 0) Iterator.empty
      else {
        val buf = new Array[Double](scoreChunkRows)
        val out = Iterator.tabulate(nQ) { qi =>
          val h = new BoundedTopK(k)
          var r = 0
          while (r < fc.n) {
            val n = math.min(fc.n - r, scoreChunkRows)
            scorer.scoreChunk(qi, -1, fc.codes, r * fc.m, fc.m, n, buf)
            var i = 0
            while (i < n) { h.insert(fc.ids(r + i), buf(i)); i += 1 }
            r += n
          }
          emit(h, qids(qi))
        }
        out.flatten
      }
    }
    finish(scanned, qids, k, src.rdd.getNumPartitions)
  }

  /** IVF scan + top-k finish: only (query, probed-list) pairs score,
    * query-major within each list. `data` must project (id: long,
    * centroid_id: int, codes: binary); `probes(cid)` lists the query
    * indexes probing that list (empty array = unprobed). */
  def searchTopKIvf(data: DataFrame, qids: Array[Long], k: Int,
      scorer: Scorer, probes: Lut[Array[Array[Int]]]): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val nQ = qids.length
    val src = data.select(col("id").cast("long"), col("centroid_id").cast("int"),
        col("codes"))
      .as[(Long, Int, Array[Byte])]
    val scanned = src.mapPartitions { it =>
      val pr = probes.value
      // bucket the partition's rows by list id so each (query, list)
      // pass scans contiguous flat codes with one hot LUT
      val byCid = new scala.collection.mutable.LongMap[
        scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]]()
      it.foreach { row =>
        if (row._2 >= 0 && row._2 < pr.length && pr(row._2).length > 0)
          byCid.getOrElseUpdate(row._2.toLong,
            new scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]())
            .+=((row._1, row._3))
      }
      val heaps = new Array[BoundedTopK](nQ)
      val buf = new Array[Double](scoreChunkRows)
      byCid.foreach { case (cidL, rows) =>
        val cid = cidL.toInt
        val fc = flatten(rows)
        val qs = pr(cid)
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          var h = heaps(q)
          if (h == null) { h = new BoundedTopK(k); heaps(q) = h }
          var r = 0
          while (r < fc.n) {
            val n = math.min(fc.n - r, scoreChunkRows)
            scorer.scoreChunk(q, cid, fc.codes, r * fc.m, fc.m, n, buf)
            var i = 0
            while (i < n) { h.insert(fc.ids(r + i), buf(i)); i += 1 }
            r += n
          }
          qi += 1
        }
      }
      Iterator.range(0, nQ).filter(heaps(_) != null)
        .flatMap(qi => emit(heaps(qi), qids(qi)))
    }
    finish(scanned, qids, k, src.rdd.getNumPartitions)
  }

  private def emit(h: BoundedTopK, qid: Long): Iterator[(Long, Long, Double)] =
    Iterator.range(0, h.size).map(i => (qid, h.ids(i), h.dists(i)))

  /** Merge the per-partition survivors into the canonical
    * (qid, rank, id, dist) result — on the driver below
    * [[driverMergeCap]] potential survivor rows (identical
    * (dist, id) order and k-bound as the distributed tail), distributed
    * otherwise. */
  private def finish(scanned: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      qids: Array[Long], k: Int, nPartitions: Int): DataFrame = {
    val spark = scanned.sparkSession
    import spark.implicits._
    val potential = qids.length.toLong * k * math.max(1, nPartitions)
    if (!Regime.enabled || potential > driverMergeCap)
      KnnJoin.topKExploded(scanned.toDF("qid", "id", "__dist"),
        col("id"), col("__dist"), k)
    else {
      // one job, one collect: survivor volume is bounded by the cap check
      val heaps = new scala.collection.mutable.LongMap[BoundedTopK]()
      scanned.collect().foreach { row =>
        heaps.getOrElseUpdate(row._1, new BoundedTopK(k))
          .insert(row._2, row._3)
      }
      // packed result relation, qid-ascending like the old toDF emission
      // (queries with no survivors stay absent: null heap slots skip).
      // DISTINCT qids: a duplicated qid in the batch would alias one
      // heap into two slots and leave null rows after the first drain —
      // the old heaps-map emission was per-distinct-qid too
      val sortedQids = qids.distinct
      java.util.Arrays.sort(sortedQids)
      val aligned = sortedQids.map(q => heaps.getOrElse(q, null))
      LocalScan.resultDf(spark, sortedQids, aligned)
    }
  }

  /** Flop guard for [[coarseProbes]]: above ~10¹⁰ driver flops
    * (queries × nlist × dim) the caller should route probe selection
    * through the distributed kNN join instead of wedging the driver.
    * Any FAISS-shaped configuration (nlist ≤ ~10⁵, batches ≤ ~10⁵
    * queries, dims ≤ ~10³) sits orders of magnitude below it. */
  def coarseProbeFlopCap: Long =
    sys.props.get("graft.adc.probeFlopCap").map(_.toLong).getOrElse(10_000_000_000L)

  def coarseProbesFit(nQueries: Long, nlist: Long, dims: Long): Boolean =
    nQueries * nlist * dims <= coarseProbeFlopCap

  /** A/B escape hatch for the fused probe+scan dispatch
    * (-Dgraft.adc.fused=false restores the two-phase path) — exists for
    * in-context serve-path A/Bs (the removed dev/Sq8WarmCurve); default on. Read per
    * call so one JVM can interleave both paths. */
  def fusedEnabled: Boolean =
    sys.props.get("graft.adc.fused").forall(v => v != "false" && v != "0")

  /** Driver-side coarse probe: top-`nprobe` lists per query by
    * (l2 dist, cid) — the same (dist, id) order and float→double
    * accumulation as the former KnnJoin probe plan, so the probed SET is
    * identical. nlist × dim flops per query is driver-trivial for any
    * FAISS-shaped nlist (≤~10⁵); it replaces a full Spark job per search.
    * Queries parallelize across driver cores. */
  def coarseProbes(queryVecs: Array[Array[Float]],
      centroids: Array[(Int, Array[Float])], nlist: Int, nprobe: Int)
      : Array[Array[Int]] = {
    // flat centroid layout + blocked parallelism: the boxed-tuple
    // per-query version cost ~1.4 ms of the 6.7 ms random-ivf_flat batch
    // (nlist=100) and ~4 ms at nlist=256 — per-query fork-join tasks of
    // ~6k flops are all dispatch (the removed dev/IvfStageProfile). Arithmetic is
    // UNCHANGED (index-order float→double accumulation, (dist, cid)
    // ties): the probed set feeds hash-tier gate oracles.
    val nc = centroids.length
    val dim = if (nc == 0) 0 else centroids(0)._2.length
    val cids = new Array[Int](nc)
    val flat = new Array[Float](nc * dim)
    var c = 0
    while (c < nc) {
      cids(c) = centroids(c)._1
      System.arraycopy(centroids(c)._2, 0, flat, c * dim, dim)
      c += 1
    }
    val nq = queryVecs.length
    val probed = new Array[Array[Long]](nq)
    // queries per task, sized by per-query WORK rather than a constant:
    // target ~100k flops per task (fork-join dispatch is ~µs — noise at
    // that grain). The old fixed qb=16 made ceil(70/16)=5 tasks of the
    // msmarco batch (70 q × 256 lists × 384-d ≈ 98k flops/query) and
    // left 27 of 32 cores idle — 2.6 ms of the 10 ms steady serve
    // (the removed dev/Sq8WarmCurve staged curve, r14). Small shapes keep blocks of
    // several queries, so the dispatch amortization that motivated
    // qb=16 is preserved where it matters. Arithmetic unchanged.
    val qb = math.max(1, 100_000 / math.max(1, nc * dim))
    val nBlocks = (nq + qb - 1) / qb
    java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
      var qi = b * qb
      val q1 = math.min(nq, qi + qb)
      while (qi < q1) {
        val qv = queryVecs(qi)
        val h = new BoundedTopK(nprobe)
        var c = 0
        while (c < nc) {
          var acc = 0.0; var i = 0; val off = c * dim
          while (i < dim) {
            val d = qv(i).toDouble - flat(off + i).toDouble
            acc += d * d; i += 1
          }
          h.insert(cids(c).toLong, math.sqrt(acc))
          c += 1
        }
        probed(qi) = h.ids.take(h.size)
        qi += 1
      }
    }
    // dense (cid → ascending qidx) assembly without ArrayBuffer/boxing;
    // qi ascends in the fill loop so each list is already sorted
    val counts = new Array[Int](nlist)
    var qi = 0
    while (qi < nq) {
      val p = probed(qi); var j = 0
      while (j < p.length) { counts(p(j).toInt) += 1; j += 1 }
      qi += 1
    }
    val out = Array.tabulate(nlist)(c => new Array[Int](counts(c)))
    val fill = new Array[Int](nlist)
    qi = 0
    while (qi < nq) {
      val p = probed(qi); var j = 0
      while (j < p.length) {
        val cid = p(j).toInt
        out(cid)(fill(cid)) = qi; fill(cid) += 1
        j += 1
      }
      qi += 1
    }
    out
  }

  /** Probe selection from ALREADY-COMPUTED squared query→centroid
    * distances (dense [qidx][cid] — the residual scorer's term1 table):
    * same (sqrt dist, cid) top-`nprobe` rule and dense cid → ascending
    * qidx output as [[coarseProbes]], minus the duplicate distance pass.
    * BoundedTopK's (dist, id) total order makes the selection
    * insertion-order independent, so iterating cid ascending yields the
    * identical probed set. */
  def probesFromDists(d2: Array[Array[Double]], nlist: Int, nprobe: Int)
      : Array[Array[Int]] = {
    val nq = d2.length
    val probed = new Array[Array[Long]](nq)
    val qb = 16
    val nBlocks = (nq + qb - 1) / qb
    java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
      var qi = b * qb
      val q1 = math.min(nq, qi + qb)
      while (qi < q1) {
        val row = d2(qi)
        val h = new BoundedTopK(nprobe)
        var c = 0
        while (c < row.length) {
          h.insert(c.toLong, math.sqrt(row(c)))
          c += 1
        }
        probed(qi) = h.ids.take(h.size)
        qi += 1
      }
    }
    val counts = new Array[Int](nlist)
    var qi = 0
    while (qi < nq) {
      val p = probed(qi); var j = 0
      while (j < p.length) { counts(p(j).toInt) += 1; j += 1 }
      qi += 1
    }
    val out = Array.tabulate(nlist)(c => new Array[Int](counts(c)))
    val fill = new Array[Int](nlist)
    qi = 0
    while (qi < nq) {
      val p = probed(qi); var j = 0
      while (j < p.length) {
        val cid = p(j).toInt
        out(cid)(fill(cid)) = qi; fill(cid) += 1
        j += 1
      }
      qi += 1
    }
    out
  }

  /** Probe selection with the flop guard: driver-side below
    * [[coarseProbeFlopCap]], else the distributed kNN probe join with the
    * (slim) probe pairs collected into the same dense cid → qidx form.
    * Both paths produce the identical probed set. */
  def probesAuto(q: => DataFrame, qids: Array[Long],
      qVecArr: Array[Array[Float]], centroids: Array[(Int, Array[Float])],
      nlist: Int, nprobe: Int, centroidsDf: => DataFrame)
      : Array[Array[Int]] = {
    val dims = if (qVecArr.isEmpty) 0 else qVecArr(0).length
    if (coarseProbesFit(qids.length.toLong, nlist.toLong, dims.toLong))
      coarseProbes(qVecArr, centroids, nlist, nprobe)
    else {
      val qidx = qids.zipWithIndex.toMap
      val cents = centroidsDf
        .select(col("centroid_id").cast("long").as("id"), col("vector"))
      val out = Array.fill(nlist)(new scala.collection.mutable.ArrayBuffer[Int]())
      KnnJoin.knnJoin(q, cents, nprobe, "l2")
        .select(col("qid"), col("id").cast("int"))
        .collect()
        .foreach(r => out(r.getInt(1)) += qidx(r.getLong(0)))
      out.map(_.sorted.toArray)
    }
  }
}
