package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimdDist

/** SIMD kernel vs the scalar reference: same values within float-lane
  * accumulation tolerance, on aligned and tail-bearing lengths. */
class SimdDistSpec extends AnyFunSuite {

  private def vecs(n: Int, seed: Int): (Array[Float], Array[Float]) = {
    val r = new scala.util.Random(seed)
    (Array.fill(n)(r.nextFloat() * 2 - 1), Array.fill(n)(r.nextFloat() * 2 - 1))
  }

  test("Vector-API kernel is loadable in the forked test JVM") {
    // build.sbt adds --add-modules jdk.incubator.vector; if this fails
    // every SIMD path silently falls back to its scalar kernel
    assert(SimdDist.vectorKernel.isDefined)
  }

  test("process default kernel is the Vector-API kernel when loadable (r12)") {
    // r12 default flip: the r7-r11 "never intrinsifies on this box"
    // measurements were the instance-field species anti-pattern in
    // VectorDistKernel (see its scaladoc) — with the species read from
    // the static final, the removed dev/KernelMicro measured the SIMD
    // kernel 3.6-8.9x FASTER than the float-scalar chain. The module is
    // on in this forked JVM (previous test), so the default must be SIMD;
    // only a JVM without the module falls back to the float-scalar kernel.
    assert(SimdDist.simdActive)
    // the default is the dim-gated hybrid: SIMD at >= simdMinDim,
    // float-scalar below (the 50-d net-negative measurement)
    assert(SimdDist.kernel.isInstanceOf[SimdDist.DimGatedKernel])
  }

  test("float-scalar kernel matches the exact kernel within tolerance") {
    val k = SimdDist.FloatScalarKernel
    for (n <- Seq(1, 6, 15, 16, 17, 50, 64, 384, 1000); s <- 1 to 3) {
      val (a, b) = vecs(n, n * 13 + s)
      assert(math.abs(SimdDist.ScalarKernel.l2(a, b) - k.l2(a, b)) <=
        1e-4 * math.max(1.0, SimdDist.ScalarKernel.l2(a, b)), s"l2 n=$n s=$s")
      assert(math.abs(SimdDist.ScalarKernel.cosineDist(a, b) -
        k.cosineDist(a, b)) <= 1e-4, s"cos n=$n s=$s")
      assert(math.abs(SimdDist.ScalarKernel.dotFlat(a, b, 0) -
        k.dotFlat(a, b, 0)) <= 1e-3 * math.max(1.0, n), s"dot n=$n s=$s")
    }
    val z = new Array[Float](16)
    assert(k.cosineDist(z, Array.fill(16)(1f)) == 1.0)
  }

  test("l2 matches scalar within accumulation tolerance") {
    val k = SimdDist.vectorKernel.get
    for (n <- Seq(1, 6, 15, 16, 17, 50, 64, 384, 1000); s <- 1 to 3) {
      val (a, b) = vecs(n, n * 31 + s)
      val d0 = SimdDist.ScalarKernel.l2(a, b)
      val d1 = k.l2(a, b)
      assert(math.abs(d0 - d1) <= 1e-4 * math.max(1.0, d0), s"n=$n seed=$s")
    }
  }

  test("cosine matches scalar within accumulation tolerance") {
    val k = SimdDist.vectorKernel.get
    for (n <- Seq(1, 6, 15, 16, 17, 50, 64, 384, 1000); s <- 1 to 3) {
      val (a, b) = vecs(n, n * 17 + s)
      val d0 = SimdDist.ScalarKernel.cosineDist(a, b)
      val d1 = k.cosineDist(a, b)
      assert(math.abs(d0 - d1) <= 1e-4, s"n=$n seed=$s")
    }
    // zero-norm convention preserved
    val z = new Array[Float](16)
    assert(k.cosineDist(z, Array.fill(16)(1f)) == 1.0)
  }

  test("flat SIMD kernels agree with scalar to 1e-5 relative") {
    assume(SimdDist.vectorKernel.isDefined, "no jdk.incubator.vector in this JVM")
    val rnd = new java.util.Random(7)
    val dim = 131 // odd size exercises the lane tail
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val flat = Array.fill(dim * 5)(rnd.nextFloat() * 2 - 1)
    for (row <- 0 until 5) {
      val off = row * dim
      val b = java.util.Arrays.copyOfRange(flat, off, off + dim)
      val k = SimdDist.vectorKernel.get
      val s = SimdDist.ScalarKernel
      assert(math.abs(k.l2Flat(q, flat, off) - s.l2(q, b)) <=
        1e-5 * math.max(1.0, s.l2(q, b)))
      assert(math.abs(k.dotFlat(q, flat, off) - s.dot(q, b)) <=
        1e-5 * math.max(1.0, math.abs(s.dot(q, b))))
      assert(math.abs(k.cosineFlat(q, flat, off) - s.cosineDist(q, b)) <= 1e-5)
    }
  }
}
