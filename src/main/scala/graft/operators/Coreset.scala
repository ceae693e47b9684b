package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Coreset / diversity selection: greedy k-center (Gonzalez 1985,
  * farthest-point traversal) — the standard selection rule for
  * active-learning coresets (Sener & Savarese 2018) and
  * diversity-driven training-data pruning over an embedded corpus.
  *
  * Picks the point farthest (max-min distance) from the already-selected
  * set, k times, starting from the smallest id (deterministic, so the
  * whole trajectory is replayable — the gate oracle replays it as a
  * recursive CTE). 2-approximation of the optimal k-center cover.
  *
  * Scale shape: the classic distributed formulation — the corpus is
  * scanned once per round with NO shuffle (the per-row state is a single
  * running `min` distance, updated incrementally against the one new
  * broadcast center, never recomputed against the whole set), and the
  * argmax is a TakeOrdered reduce that moves one row per partition to the
  * driver. Total: k shuffle-free passes over a cached columnar relation +
  * k tiny reduces; driver memory O(k · dim). At 100 TB with k ≤ a few
  * hundred this is k scan-stages — there is no lower-communication exact
  * formulation.
  *
  * Determinism: `min` accumulation is order-exact (double compares), the
  * argmax tie-breaks by id, and each round's radius is the max-min
  * distance BEFORE adding that round's center (radius of step 1 is 0.0 by
  * convention). Radii are non-increasing from step 2 on. Selection stops
  * early (fewer than k rows) once the max-min distance reaches 0 — the
  * corpus is fully covered and continuing would re-select picked ids;
  * the gate oracle's recursion carries the same `mind > 0` condition.
  */
object Coreset {

  /** Greedy k-center over `(id, vector)` → `(step, id, radius)` with
    * `step` 1-based selection order. Exactly [[kCenterBatch]] with
    * batch = 1 (the gate oracle's recursive-CTE replay is pinned to this
    * trajectory). */
  def kCenterGreedy(items: DataFrame, k: Int, metric: String = "l2"): DataFrame =
    kCenterBatch(items, k, batch = 1, metric)

  /** Over-sampled batch k-center for large k: each pass collects the
    * `oversample · batch` rows with the largest CURRENT min distance (a
    * TakeOrdered pool), runs EXACT greedy refinement inside the pool on
    * the driver (picks `batch` centers, updating pool min-distances
    * after each pick — O(oversample·batch²·dim) driver flops, trivial),
    * then folds all of the pass's centers into the running min-distance
    * column in ONE shuffle-free scan. ⌈k/batch⌉ passes instead of k.
    *
    * The refinement is what makes batching sound: naive top-b selection
    * would pick b duplicates of the same far point in one pass; greedy
    * inside the pool sees each intra-pass pick before making the next,
    * so `radius` remains each pick's TRUE min distance to every
    * previously selected center (same definition as greedy — the pool
    * updates cover the intra-pass centers, the scan column covers the
    * rest). At batch = 1 the pass's pick is the global argmax, so the
    * trajectory IS [[kCenterGreedy]]'s exactly (CoresetSpec pins this).
    * At batch > 1 the approximation is standard pool-restriction: a
    * later intra-pass pick is argmax over the pool, not the corpus.
    *
    * Scale shape: per-PASS cost equals greedy's per-ROUND cost — one
    * shuffle-free min-update scan (batch distance exprs folded with
    * `least`, still one codegen stage) + one TakeOrdered reduce — so
    * per-CENTER cost drops ~batch×. k ≈ 10⁴ selection over 100 TB
    * becomes ~k/batch ≈ 10² scan-stages (the removed
    * `dev/KcenterScaleProbe` measured the flat per-pass cost).
    *
    * Early stop: a pass whose pre-refinement pool head has min distance
    * 0 means the corpus is fully covered (the head is the global
    * argmax) — selection stops with fewer than k rows, like greedy. A
    * pass whose POOL drains to 0 mid-refinement just ends the pass
    * early (pool restriction is not a coverage proof) and the next
    * pass re-pools against fresh global min-distances. */
  def kCenterBatch(items: DataFrame, k: Int, batch: Int,
      metric: String = "l2", oversample: Int = 4): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    require(batch >= 1, "k-center batch must be >= 1")
    require(oversample >= 1, "k-center oversample must be >= 1")
    val spark = items.sparkSession
    val base = items.select(col("id").cast("long").as("id"), col("vector"))

    // driver-side distance replicating the scan column's EXACT double
    // accumulation (VectorExpressions compute bodies), so intra-pass
    // refined radii share the trajectory's arithmetic
    val dfun: (Array[Float], Array[Float]) => Double = metric match {
      case "l2" => (a, b) => {
        var acc = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
        }
        math.sqrt(acc)
      }
      case "l2sq" => (a, b) => {
        var acc = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
        }
        acc
      }
      case "cosine" | "angular" => (a, b) => {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den == 0.0) 1.0 else 1.0 - dot / den
      }
      case "ip" | "dot" => (a, b) => {
        var dot = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
        -dot
      }
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

    // r14 driver-local fast path (batch = 1 only — the gate/greedy
    // trajectory): below the collect cap, one collect replaces 2 Spark
    // jobs per selected center (min-update checkpoint + TakeOrdered),
    // which at small-corpus scale is pure scheduling overhead (k = 12
    // ⇒ ~24 jobs for ~1.5 MFLOP of actual distance work). Same doubles:
    // `dfun` replicates the expression path's accumulation order (see
    // note above), the argmax tie-breaks (mind desc, id asc), and the
    // head-is-zero early stop matches the distributed pass — identical
    // trajectory, oracle-checked by the recursive-CTE replay. The budget
    // is a sixth of LocalScan.bytesCap, counted as the boxed Rows
    // collect() lands: per float a boxed element behind the WrappedArray
    // plus its reference (~24 B) and the unboxed copy (4 B), per row
    // ~112 B of Row, boxed id and array headers. Only the estimate admits
    // the collect (no probe job at scale): est × 8 ≤ bytesCap / 6 is the
    // est × 6 ≤ 64 MiB bound this route has always had; the exact boxed
    // bytes are then re-checked on the rows.
    val localRows =
      if (!Regime.enabled || batch != 1) None
      else Regime.collectUnder(base, LocalScan.bytesCap / 6)(None)(Some(base.collect())) {
        _.iterator.map(r => r.getSeq[Float](1).length * 28L + 112).sum
      }
    if (localRows.isDefined) {
      val rows = localRows.get
      require(rows.nonEmpty, "k-center selection needs a non-empty input")
      val n = rows.length
      val ids = rows.map(_.getLong(0))
      val vecs = rows.map(_.getSeq[Float](1).toArray)
      var seedIx = 0
      var t = 1
      while (t < n) { if (ids(t) < ids(seedIx)) seedIx = t; t += 1 }
      val mind = new Array[Double](n)
      t = 0
      while (t < n) { mind(t) = dfun(vecs(t), vecs(seedIx)); t += 1 }
      var pickedL = Vector((1, ids(seedIx), 0.0))
      var coveredL = false
      while (pickedL.size < k && !coveredL) {
        var best = 0
        t = 1
        while (t < n) {
          // java.lang.Double.compare mirrors Spark's ordering (NaN sorts
          // GREATEST): the distributed orderBy(mind desc) would pick a
          // NaN distance first, so the local argmax must too (ADVICE r14
          // — a plain `>` never selects NaN and the trajectories diverge)
          val c = java.lang.Double.compare(mind(t), mind(best))
          if (c > 0 || (c == 0 && ids(t) < ids(best))) best = t
          t += 1
        }
        if (mind(best) == 0.0) coveredL = true
        else {
          pickedL :+= ((pickedL.size + 1, ids(best), mind(best)))
          val bv = vecs(best)
          t = 0
          while (t < n) {
            val d = dfun(vecs(t), bv)
            if (d < mind(t)) mind(t) = d
            t += 1
          }
        }
      }
      import spark.implicits._
      return pickedL.toDF("step", "id", "radius")
    }

    val seedRows = base.orderBy(col("id")).limit(1).collect()
    require(seedRows.nonEmpty, "k-center selection needs a non-empty input")
    val seed = seedRows(0)
    var picked = Vector((1, seed.getLong(0), 0.0))
    var newCenters: Array[Array[Float]] = Array(seed.getSeq[Float](1).toArray)

    // Each pass's min-update frame is eagerly localCheckpoint'ed, NOT
    // persist'ed: a persist chain nests one projection per pass and the
    // closure/plan serialization recurses once per level — at k ≈ 10²⁺
    // passes that StackOverflows (found by the removed dev/KcenterScaleProbe at
    // k=256) and Catalyst analysis cost grows with depth. The checkpoint
    // truncates lineage to a constant-size LogicalRDD (the
    // connectedComponents discipline, Dedup.scala:255-260); exactly one
    // pass's blocks stay live because the previous frame is freed right
    // after the next one materializes.
    def freeLocal(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
    def withMin(df: DataFrame, first: Boolean): DataFrame = {
      val out =
        if (newCenters.length <= 16) {
          // fold the pass's centers with `least`: batch distance
          // expressions in one projection — a single shuffle-free
          // codegen'd scan. ONLY below a small fold width: at ~64
          // folded distance exprs the generated method blows the JIT
          // limit and whole-stage codegen degrades to interpreted eval
          // (measured 160 s/pass vs 0.3 s at b=64 in the removed
          // dev/KcenterScaleProbe)
          val dmin = newCenters.iterator
            .map(c => VectorFunctions.distance(metric)(col("vector"),
              typedLit(c.toSeq)))
            .reduce(least(_, _))
          val mind = if (first) dmin else least(col("mind"), dmin)
          df.select(col("id"), col("vector"), mind.as("mind"))
        } else {
          // wide pass: ONE mapPartitions kernel loops the center matrix
          // per row — same shuffle-free shape, same per-distance double
          // accumulation as the expression path (`dfun` replicates the
          // VectorExpressions compute bodies), codegen-size-independent
          // of the batch width
          val centers = newCenters
          val spark2 = df.sparkSession
          import spark2.implicits._
          df.select(col("id"), col("vector"), col("mind"))
            .as[(Long, Array[Float], Double)]
            .mapPartitions(_.map { case (id, v, m) =>
              var best = m
              var c = 0
              while (c < centers.length) {
                val d = dfun(v, centers(c))
                if (d < best) best = d
                c += 1
              }
              (id, v, best)
            })
            .toDF("id", "vector", "mind")
        }
      out.localCheckpoint()
    }

    var cur = withMin(base, first = true)
    var covered = false
    while (picked.size < k && !covered) {
      val want = math.min(batch, k - picked.size)
      val poolN = math.min(want.toLong * oversample, Int.MaxValue).toInt
      // pool = arg-top-(oversample·b) (mind desc, id asc):
      // TakeOrderedAndProject — poolN rows per partition to the driver,
      // scanning the pass's checkpointed frame
      val top = cur.orderBy(col("mind").desc, col("id").asc).limit(poolN).collect()
      if (top.isEmpty || top(0).getDouble(2) == 0.0) {
        // global argmax is 0 ⇒ every point coincides with a selected
        // center — fully covered, stop (greedy's early-stop semantics)
        covered = true
      } else {
        val ids = top.map(_.getLong(0))
        val vecs = top.map(_.getSeq[Float](1).toArray)
        val mind = top.map(_.getDouble(2))
        val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < want) {
          // argmax (mind desc, id asc) within the pool
          var best = -1
          var j = 0
          while (j < ids.length) {
            if (mind(j) > 0.0 && (best < 0 || mind(j) > mind(best) ||
                (mind(j) == mind(best) && ids(j) < ids(best)))) best = j
            j += 1
          }
          if (best < 0) i = want // pool drained — end the pass early
          else {
            picked :+= ((picked.size + 1, ids(best), mind(best)))
            sel += best
            val bv = vecs(best)
            var t = 0
            while (t < ids.length) {
              val d = dfun(vecs(t), bv)
              if (d < mind(t)) mind(t) = d
              t += 1
            }
            i += 1
          }
        }
        if (picked.size < k) {
          newCenters = sel.map(vecs(_)).toArray
          val next = withMin(cur, first = false) // eager: reads cur's blocks
          freeLocal(cur)
          cur = next
        }
      }
    }
    freeLocal(cur)

    import spark.implicits._
    picked.toDF("step", "id", "radius")
  }
}
