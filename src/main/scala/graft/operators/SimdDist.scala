package graft.operators

/** Runtime-optional SIMD distance kernels over the JDK incubator Vector
  * API (`jdk.incubator.vector`, public JDK since 16; 512-bit lanes where
  * the CPU has them). The module is resolved reflectively so the library
  * keeps working on JVMs launched without `--add-modules
  * jdk.incubator.vector` — they just get the scalar kernel.
  *
  * Scope discipline — WHERE these kernels are allowed: only operators
  * whose gate contract is tolerant of floating-point reassociation.
  * SIMD reduces in lanes (a different addition order than the sequential
  * scalar loop), so results differ in the last ulps from the codegen
  * expressions the DuckDB oracles replay element-order. The hash-tier
  * operators (exact kNN, IVF/PQ/SQ8 scoring, encode/assign) therefore
  * MUST keep the scalar kernels — their oracle SQL reproduces the exact
  * double sequence. The graph walks (HNSW family, floor-tier gate: a
  * fixed row emitted above a calibrated recall floor) are the intended
  * consumers: beam search tolerates last-ulp distance noise by
  * construction, and both their local and distributed paths share one
  * kernel instance so local-vs-distributed equality specs still hold.
  */
object SimdDist {

  trait Kernel {
    /** √Σ(aᵢ−bᵢ)² */
    def l2(a: Array[Float], b: Array[Float]): Double
    /** 1 − a·b / (‖a‖‖b‖); 1.0 on zero norms */
    def cosineDist(a: Array[Float], b: Array[Float]): Double
    /** a·b */
    def dot(a: Array[Float], b: Array[Float]): Double
    /** flat-row variants: `b`'s row starts at `bOff`, length = a.length
      * (LocalScan's collected tables are single flat float arrays) */
    def l2Flat(a: Array[Float], b: Array[Float], bOff: Int): Double
    def dotFlat(a: Array[Float], b: Array[Float], bOff: Int): Double
    def cosineFlat(a: Array[Float], b: Array[Float], bOff: Int): Double
  }

  /** the exact arithmetic of the pre-SIMD HNSW kernels (float → double
    * per element, index-order accumulation) */
  object ScalarKernel extends Kernel {
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    def cosineDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 1.0 else 1.0 - dot / den
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def l2Flat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(bOff + i).toDouble; acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
    def dotFlat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(bOff + i).toDouble; i += 1 }
      acc
    }
    def cosineFlat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(bOff + i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 1.0 else 1.0 - dot / den
    }
  }

  /** FAISS-regime scalar kernel: eight independent FLOAT accumulation
    * chains (FAISS's fvec_* functions accumulate in float; the
    * index-order double chain additionally pays a cvtss2sd per element
    * and serializes on FP-add latency — the removed dev/FloatAccumMicro measures
    * 0.42–0.90 ns/elem vs 1.24–1.72). Values differ from [[ScalarKernel]]
    * by reassociation + single-precision rounding — fine for the
    * floor-tier graph walks this object serves (see scope note above),
    * and both the local and distributed paths share one kernel instance
    * so the local ≡ distributed equality specs still hold. */
  object FloatScalarKernel extends Kernel {
    @inline private def dotF(a: Array[Float], b: Array[Float], bOff: Int): Float = {
      var a0 = 0.0f; var a1 = 0.0f; var a2 = 0.0f; var a3 = 0.0f
      var a4 = 0.0f; var a5 = 0.0f; var a6 = 0.0f; var a7 = 0.0f
      var i = 0
      val m8 = a.length - 7
      while (i < m8) {
        a0 += a(i) * b(bOff + i)
        a1 += a(i + 1) * b(bOff + i + 1)
        a2 += a(i + 2) * b(bOff + i + 2)
        a3 += a(i + 3) * b(bOff + i + 3)
        a4 += a(i + 4) * b(bOff + i + 4)
        a5 += a(i + 5) * b(bOff + i + 5)
        a6 += a(i + 6) * b(bOff + i + 6)
        a7 += a(i + 7) * b(bOff + i + 7)
        i += 8
      }
      while (i < a.length) { a0 += a(i) * b(bOff + i); i += 1 }
      ((a0 + a1) + (a2 + a3)) + ((a4 + a5) + (a6 + a7))
    }
    @inline private def l2sqF(a: Array[Float], b: Array[Float], bOff: Int): Float = {
      var a0 = 0.0f; var a1 = 0.0f; var a2 = 0.0f; var a3 = 0.0f
      var a4 = 0.0f; var a5 = 0.0f; var a6 = 0.0f; var a7 = 0.0f
      var i = 0
      val m8 = a.length - 7
      while (i < m8) {
        val d0 = a(i) - b(bOff + i); val d1 = a(i + 1) - b(bOff + i + 1)
        val d2 = a(i + 2) - b(bOff + i + 2); val d3 = a(i + 3) - b(bOff + i + 3)
        val d4 = a(i + 4) - b(bOff + i + 4); val d5 = a(i + 5) - b(bOff + i + 5)
        val d6 = a(i + 6) - b(bOff + i + 6); val d7 = a(i + 7) - b(bOff + i + 7)
        a0 += d0 * d0; a1 += d1 * d1; a2 += d2 * d2; a3 += d3 * d3
        a4 += d4 * d4; a5 += d5 * d5; a6 += d6 * d6; a7 += d7 * d7
        i += 8
      }
      while (i < a.length) { val d = a(i) - b(bOff + i); a0 += d * d; i += 1 }
      ((a0 + a1) + (a2 + a3)) + ((a4 + a5) + (a6 + a7))
    }
    @inline private def normF(a: Array[Float]): Float = {
      var acc = 0.0f; var i = 0
      while (i < a.length) { acc += a(i) * a(i); i += 1 }
      acc
    }
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(l2sqF(a, b, 0).toDouble)
    def cosineDist(a: Array[Float], b: Array[Float]): Double = {
      val den = math.sqrt(normF(a).toDouble) * math.sqrt(normF(b).toDouble)
      if (den == 0.0) 1.0 else 1.0 - dotF(a, b, 0).toDouble / den
    }
    def dot(a: Array[Float], b: Array[Float]): Double = dotF(a, b, 0).toDouble
    def l2Flat(a: Array[Float], b: Array[Float], bOff: Int): Double =
      math.sqrt(l2sqF(a, b, bOff).toDouble)
    def dotFlat(a: Array[Float], b: Array[Float], bOff: Int): Double =
      dotF(a, b, bOff).toDouble
    def cosineFlat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
      var na = 0.0f; var i = 0
      while (i < a.length) { val y = b(bOff + i); na += y * y; i += 1 }
      val den = math.sqrt(normF(a).toDouble) * math.sqrt(na.toDouble)
      if (den == 0.0) 1.0 else 1.0 - dotF(a, b, bOff).toDouble / den
    }
  }

  /** The Vector-API kernel when `jdk.incubator.vector` resolves in this
    * JVM, independent of the enable flag — specs and the dev shootouts
    * compare it against [[ScalarKernel]] directly. Loaded reflectively so
    * this class never links against the incubator module. */
  val vectorKernel: Option[Kernel] =
    try {
      Class.forName("jdk.incubator.vector.FloatVector")
      Some(Class.forName("graft.operators.VectorDistKernel")
        .getDeclaredConstructor().newInstance().asInstanceOf[Kernel])
    } catch { case _: Throwable => None }

  /** SIMD above `minDim`, scalar below: the vector kernel's fixed
    * per-call cost (lane converts + one reduce over only ⌊d/16⌋ steps,
    * plus the scalar tail) measured NET-NEGATIVE at 50-d (glove50 hnsw
    * 102.6k → 91.6k QPS same-session) and net-positive from 64-d up
    * (random +23%, msmarco +47%, msmarco builds 9.5 → 5.6 s). One
    * shared instance keeps the local ≡ distributed equality specs. */
  final class DimGatedKernel(vec: Kernel, scalar: Kernel, minDim: Int)
      extends Kernel {
    def l2(a: Array[Float], b: Array[Float]): Double =
      if (a.length >= minDim) vec.l2(a, b) else scalar.l2(a, b)
    def cosineDist(a: Array[Float], b: Array[Float]): Double =
      if (a.length >= minDim) vec.cosineDist(a, b) else scalar.cosineDist(a, b)
    def dot(a: Array[Float], b: Array[Float]): Double =
      if (a.length >= minDim) vec.dot(a, b) else scalar.dot(a, b)
    def l2Flat(a: Array[Float], b: Array[Float], bOff: Int): Double =
      if (a.length >= minDim) vec.l2Flat(a, b, bOff) else scalar.l2Flat(a, b, bOff)
    def dotFlat(a: Array[Float], b: Array[Float], bOff: Int): Double =
      if (a.length >= minDim) vec.dotFlat(a, b, bOff) else scalar.dotFlat(a, b, bOff)
    def cosineFlat(a: Array[Float], b: Array[Float], bOff: Int): Double =
      if (a.length >= minDim) vec.cosineFlat(a, b, bOff) else scalar.cosineFlat(a, b, bOff)
  }

  /** measured crossover (between 50-d and 64-d on this box) */
  val simdMinDim: Int = 64

  /** The process-wide kernel consumed by the HNSW family. Default since
    * r12 = [[vectorKernel]] when the incubator module resolves. Through
    * r11 the Vector API was believed non-intrinsifying on this box
    * (the removed dev/KernelMicro read "≤1.4× scalar at 384-d, 0.5× at
    * 64-d", and the r7 default attempt made HNSW builds 45-60% slower) —
    * that was the instance-field species anti-pattern in VectorDistKernel
    * (see its scaladoc), not the hardware: with the species read from the
    * static final, the same micro measured the SIMD kernel 3.6× (64-d) to 8.9×
    * (384-d) FASTER than the scalar chain. Reassociation contract is
    * unchanged from the FloatScalarKernel era (floor-tier graph walks;
    * one shared kernel instance keeps local ≡ distributed equality).
    * Without the module it is [[FloatScalarKernel]]. */
  val kernel: Kernel =
    vectorKernel
      .map(v => new DimGatedKernel(v, FloatScalarKernel, simdMinDim): Kernel)
      .getOrElse(FloatScalarKernel)

  def simdActive: Boolean = kernel.isInstanceOf[DimGatedKernel]
}
