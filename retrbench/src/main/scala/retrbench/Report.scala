package retrbench

/** One printed metric. */
final case class Metric(name: String, value: Double, unit: String)

/** Turns a run's samples and spans into the end-to-end and per-layer
  * metrics. Every workload prints every metric of its kind; a layer a
  * workload never calls reads 0, which is the prediction for it there. */
object Report {

  def endToEnd(r: Recorder): Seq[Metric] = {
    val batchTail = Stats.tail(r.batchMs.all)
    val pointTail = Stats.tail(r.pointMs.all)
    Seq(
      Metric("setup_s", r.sessionS + Stats.median(r.setupS), "s"),
      Metric("search_qps", r.batchQueries / (r.batchTotalMs / 1e3), "1/s"),
      Metric("batch_p50_ms", r.batchMs.p50, "ms"),
      Metric("batch_tail_ms", batchTail.value, "ms"),
      Metric("point_p50_ms", r.pointMs.p50, "ms"),
      Metric("point_tail_ms", pointTail.value, "ms"),
      Metric("build_s", Stats.median(r.buildS), "s"),
      Metric("write_s", Stats.median(r.writeS), "s"),
      Metric("cycle_p50_ms", r.cycleMs.p50, "ms"),
      Metric("recall_at_20", r.recallSum / r.recallN, "fraction"),
      Metric("hit_at_10", r.hitSum / r.hitN, "fraction"),
      Metric("heap_live_mib", r.heapLiveMib, "MiB"))
  }

  /** sample counts and percentiles behind the tail metrics */
  def tailNotes(r: Recorder): Seq[String] = Seq("batch" -> r.batchMs, "point" -> r.pointMs)
    .map { case (n, xs) =>
      val t = Stats.tail(xs.all)
      f"${n}_tail_ms is p${t.percentile}%.1f of ${t.samples} samples"
    }

  val VectorFamilies = Seq("ivf", "ivf_sq8", "ivf_pq", "lsh", "hnsw_global")
  val ServeFamilies = Seq("ivf", "ivf_sq8", "hnsw_global")

  def perLayer(t: Tracer, r: Recorder, ctx: Ctx): Seq[Metric] = {
    val measured = t.spans.filter(s => s.phase != "warm")
    val timed = t.spans.filter(_.phase == "timed")
    def named(from: Iterable[Span], n: String) = from.filter(_.name == n)
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ms(ss: Iterable[Span]) = med(ss.map(_.ms))
    def sec(ss: Iterable[Span]) = med(ss.map(_.ms / 1e3))
    def jobs(ss: Iterable[Span]) = mean(ss.map(_.jobs.toDouble))
    val lookups = timed.filter(_.name == "hybrid.lookup").map(_.id).toSet
    def hybridArm(n: String) = timed.filter(s => s.name == n && lookups.contains(s.parent))
    val cycles = named(timed, "cycle")

    ServeFamilies.flatMap { f =>
      val b = named(timed, s"search.$f.batch")
      val p = named(timed, s"search.$f.point")
      Seq(Metric(s"search.$f.batch_ms", ms(b), "ms"),
        Metric(s"search.$f.point_ms", ms(p), "ms"),
        Metric(s"search.$f.jobs", jobs(b ++ p), "count"))
    } ++ VectorFamilies.flatMap { f =>
      val b = named(measured, s"build.$f")
      Seq(Metric(s"build.${f}_s", sec(b), "s"), Metric(s"build.$f.jobs", jobs(b), "count"))
    } ++ {
      val b = named(measured, "bm25.build_index")
      Seq(Metric("bm25.build_index_s", sec(b), "s"),
        Metric("bm25.build_index.jobs", jobs(b), "count"))
    } ++ {
      val saves = measured.filter(_.name.startsWith("store.save."))
      Seq(Metric("store.save_s", sec(saves), "s"),
        Metric("store.save.jobs", jobs(saves), "count"),
        Metric("store.load_s", sec(measured.filter(_.name.startsWith("store.load."))), "s"),
        Metric("store.bytes", med(r.storeBytes), "bytes"))
    } ++ Seq("append", "delete", "fresh_search").flatMap { op =>
      val ss = named(timed, s"ingest.$op")
      Seq(Metric(s"ingest.${op}_ms", ms(ss), "ms"), Metric(s"ingest.$op.jobs", jobs(ss), "count"))
    } ++ {
      val wand = hybridArm("bm25.wand")
      val dense = hybridArm("knnjoin.dense")
      val fuse = hybridArm("rrf.fuse")
      Seq(Metric("bm25.wand_ms", ms(wand), "ms"), Metric("bm25.wand.jobs", jobs(wand), "count"),
        Metric("knnjoin.dense_ms", ms(dense), "ms"),
        Metric("knnjoin.dense.jobs", jobs(dense), "count"),
        Metric("knnjoin.dense.shuffle_bytes", mean(dense.map(_.shuffleWriteBytes.toDouble)), "bytes"),
        Metric("rrf.fuse_ms", ms(fuse), "ms"), Metric("rrf.fuse.jobs", jobs(fuse), "count"),
        Metric("rrf.hit_at_10",
          if (r.fusedQueries == 0) 0.0 else r.fusedHits.toDouble / r.fusedQueries, "fraction"))
    } ++ Seq(
      Metric("sources.gen_s", med(r.genS), "s"),
      Metric("sources.gt_s", med(r.gtS), "s"),
      Metric("spark.jobs", mean(cycles.map(_.jobs.toDouble)), "count"),
      Metric("spark.tasks", mean(cycles.map(_.tasks.toDouble)), "count"),
      Metric("spark.task_busy_ms", mean(cycles.map(_.taskBusyMs.toDouble)), "ms"),
      Metric("spark.driver_gap_ms", mean(cycles.map(_.driverGapMs)), "ms"),
      Metric("spark.shuffle_write_bytes", mean(cycles.map(_.shuffleWriteBytes.toDouble)), "bytes"),
      Metric("spark.spill_bytes", mean(cycles.map(_.spillBytes.toDouble)), "bytes"),
      Metric("spark.result_bytes", mean(cycles.map(_.resultBytes.toDouble)), "bytes"),
      Metric("jvm.gc_ms", ctx.timedGcMs.toDouble, "ms"),
      Metric("jvm.jit_ms", ctx.timedJitMs.toDouble, "ms"),
      Metric("os.steal_pct", ctx.timedStealPct, "%"))
  }

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
}
