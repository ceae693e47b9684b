package graft.operators

import jdk.incubator.vector.{FloatVector, VectorOperators}

/** The SIMD side of [[SimdDist]] — only ever class-loaded after
  * [[SimdDist]] confirms `jdk.incubator.vector` is resolvable in this
  * JVM (build.sbt adds `--add-modules jdk.incubator.vector` to the
  * forked run/test JVMs). Accumulates squared terms in float lanes with
  * FMA and reduces once at the end; at the HNSW dims (≤ 1024) the float
  * accumulation error is ~1e-5 relative — far under anything a beam
  * search can observe (spec-asserted against [[SimdDist.ScalarKernel]]).
  */
final class VectorDistKernel extends SimdDist.Kernel {
  // The species MUST be re-read from FloatVector's static final inside
  // every method (a method-local from a static-final read is
  // constant-folded by C2, so the lane ops intrinsify). Caching it in an
  // instance field — the r7 version of this class — silently disables
  // intrinsification: HotSpot does not trust non-static final fields, so
  // every lane op took the generic object path and the kernel measured
  // 60x SLOWER than scalar (the r7 "never intrinsifies on this box"
  // verdict — it was this access pattern, not the box; see
  // the removed dev/KernelMicro before/after).

  def l2(a: Array[Float], b: Array[Float]): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var acc = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      val d = FloatVector.fromArray(sp, a, i).sub(FloatVector.fromArray(sp, b, i))
      acc = d.fma(d, acc)
      i += sp.length()
    }
    var tail = 0.0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; tail += d * d; i += 1 }
    math.sqrt(acc.reduceLanes(VectorOperators.ADD).toDouble + tail)
  }

  def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var dot = FloatVector.zero(sp)
    var na = FloatVector.zero(sp)
    var nb = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      val va = FloatVector.fromArray(sp, a, i)
      val vb = FloatVector.fromArray(sp, b, i)
      dot = va.fma(vb, dot)
      na = va.fma(va, na)
      nb = vb.fma(vb, nb)
      i += sp.length()
    }
    var dT = 0.0; var naT = 0.0; var nbT = 0.0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dT += x * y; naT += x * x; nbT += y * y; i += 1
    }
    val dotS = dot.reduceLanes(VectorOperators.ADD).toDouble + dT
    val naS = na.reduceLanes(VectorOperators.ADD).toDouble + naT
    val nbS = nb.reduceLanes(VectorOperators.ADD).toDouble + nbT
    val den = math.sqrt(naS) * math.sqrt(nbS)
    if (den == 0.0) 1.0 else 1.0 - dotS / den
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var acc = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      acc = FloatVector.fromArray(sp, a, i).fma(FloatVector.fromArray(sp, b, i), acc)
      i += sp.length()
    }
    var tail = 0.0
    while (i < n) { tail += a(i).toDouble * b(i).toDouble; i += 1 }
    acc.reduceLanes(VectorOperators.ADD).toDouble + tail
  }

  def l2Flat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var acc = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      val d = FloatVector.fromArray(sp, a, i)
        .sub(FloatVector.fromArray(sp, b, bOff + i))
      acc = d.fma(d, acc)
      i += sp.length()
    }
    var tail = 0.0
    while (i < n) {
      val d = a(i).toDouble - b(bOff + i).toDouble; tail += d * d; i += 1
    }
    math.sqrt(acc.reduceLanes(VectorOperators.ADD).toDouble + tail)
  }

  def dotFlat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var acc = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      acc = FloatVector.fromArray(sp, a, i)
        .fma(FloatVector.fromArray(sp, b, bOff + i), acc)
      i += sp.length()
    }
    var tail = 0.0
    while (i < n) { tail += a(i).toDouble * b(bOff + i).toDouble; i += 1 }
    acc.reduceLanes(VectorOperators.ADD).toDouble + tail
  }

  def cosineFlat(a: Array[Float], b: Array[Float], bOff: Int): Double = {
    val sp = FloatVector.SPECIES_PREFERRED
    val n = a.length
    val bound = sp.loopBound(n)
    var dot = FloatVector.zero(sp)
    var na = FloatVector.zero(sp)
    var nb = FloatVector.zero(sp)
    var i = 0
    while (i < bound) {
      val va = FloatVector.fromArray(sp, a, i)
      val vb = FloatVector.fromArray(sp, b, bOff + i)
      dot = va.fma(vb, dot)
      na = va.fma(va, na)
      nb = vb.fma(vb, nb)
      i += sp.length()
    }
    var dT = 0.0; var naT = 0.0; var nbT = 0.0
    while (i < n) {
      val x = a(i).toDouble; val y = b(bOff + i).toDouble
      dT += x * y; naT += x * x; nbT += y * y; i += 1
    }
    val dotS = dot.reduceLanes(VectorOperators.ADD).toDouble + dT
    val naS = na.reduceLanes(VectorOperators.ADD).toDouble + naT
    val nbS = nb.reduceLanes(VectorOperators.ADD).toDouble + nbT
    val den = math.sqrt(naS) * math.sqrt(nbS)
    if (den == 0.0) 1.0 else 1.0 - dotS / den
  }
}
