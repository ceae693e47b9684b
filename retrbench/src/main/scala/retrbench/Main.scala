package retrbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py):
  *
  *   Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *        --work-dir DIR --floors FILE --result FILE
  *
  * Prints each metric by name and unit, the input digest and the check
  * counts, and writes the result object to the --result file. */
object Main {
  val Workloads: Map[String, Ctx => Unit] =
    Map("serve" -> Serve.run, "ingest" -> Ingest.run)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    CheckerSelfTest.run()
    val workload = opt("workload")
    val runWorkload = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val workDir = Path.of(opt("work-dir")).toAbsolutePath
    val args = Args(workload, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      workDir, Floors.parse(Files.readString(Path.of(opt("floors")))))
    // half the cores as Spark task slots: the inputs are small, so jobs are
    // dominated by per-task overhead, and the other half stays free for the
    // driver-side scan kernels, the JIT and the collector
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() / 2).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"retrbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      // keep little job history, so the live heap read at the end does
      // not grow with the number of calls a run fits in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(1).count()
      val ctx = new Ctx(spark, args, new Tracer(spark.sparkContext, args.trace))
      ctx.rec.sessionS = (System.nanoTime() - t0) / 1e9
      runWorkload(ctx)
      ctx.rec.heapLiveMib = Counters.liveHeapMib
      val c = ctx.checker
      val e2e = Report.endToEnd(ctx.rec)
      println(s"inputs_sha256 $workload seed=${args.seed} ${ctx.digest.hex}")
      e2e.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
      Report.tailNotes(ctx.rec).foreach(n => println(s"note $n"))
      ctx.rec.familyRecalls.foreach { case (f, rs) =>
        println(f"note recall@20 per batch, $f: min ${rs.min}%.4f median ${Stats.median(rs)}%.4f over ${rs.size}")
      }
      println(f"note phases: session ${ctx.rec.sessionS}%.1f s, set-up and warm-up " +
        f"${(ctx.timedStartNs - t0) / 1e9 - ctx.rec.sessionS}%.1f s, measured " +
        f"${(ctx.timedEndNs - ctx.timedStartNs) / 1e9}%.1f s")
      println(f"checks attempted=${c.attempted} failed=${c.failed} failed_share=${c.failedShare}%.6f")
      val metrics =
        if (!args.trace) e2e
        else {
          ctx.tracer.resolve()
          val trace = workDir.getParent.resolve("traces")
            .resolve(s"$workload-seed${args.seed}.jsonl")
          ctx.tracer.writeJsonl(trace, Map("workload" -> workload,
            "seed" -> args.seed.toString, "inputs_sha256" -> ctx.digest.hex))
          println(s"trace $trace")
          val layers = Report.perLayer(ctx.tracer, ctx.rec, ctx)
          layers.foreach(m => println(f"layer ${m.name} ${m.value}%.6f ${m.unit}"))
          layers
        }
      val out = Report.json(c.failed == 0, c.attempted, c.failed, metrics)
      Files.write(Path.of(opt("result")), out.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

/** Per-family recall floors: a flat JSON object of name → number. */
object Floors {
  def parse(json: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
}
