package retrbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: Path, floors: Map[String, Double])

/** What one run shares across its phases. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val checker = new Checker
  val rec = new Recorder
  val digest = new Digest
  def workDir: Path = args.workDir

  def floor(key: String): Double =
    args.floors.getOrElse(key, sys.error(s"no recall floor for $key in floors.json"))

  /** a deterministic sub-seed of the run's seed */
  def seedFor(tag: String): Long = Rng.mix(args.seed ^ Rng.mix(tag.hashCode.toLong))

  /** wall time of `body` in ms */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  var timedGcMs, timedJitMs = 0L
  var timedStartNs, timedEndNs = 0L
  var timedStealPct = 0.0

  /** Untimed warm-up: `rounds` repetitions of `round`, so the JIT has
    * compiled the measured calls before the clock starts. A count, not a
    * time: a slow stretch of the host would otherwise cut the warm-up
    * short and leave the measured calls less compiled. */
  def warmUp(rounds: Int)(round: => Unit): Unit = {
    tracer.phase = "warm"
    (0 until rounds).foreach(_ => round)
  }

  /** The measured phase: repeats `round` from one client thread until the
    * run's seconds are spent. Every round completes, so each operation
    * type keeps its share of the samples. */
  def closedLoop(round: => Unit): Unit = {
    tracer.phase = "timed"
    val gc0 = Counters.gcMs
    val jit0 = Counters.jitMs
    val (st0, tot0) = Counters.cpuTicks
    timedStartNs = System.nanoTime()
    val deadline = timedStartNs + args.seconds * 1000000000L
    while (System.nanoTime() < deadline) round
    timedEndNs = System.nanoTime()
    timedGcMs = Counters.gcMs - gc0
    timedJitMs = Counters.jitMs - jit0
    val (st1, tot1) = Counters.cpuTicks
    timedStealPct = if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
    tracer.phase = "done"
  }
}

/** Timings of one operation type, kept per group (an index family).
  * Families take different times, so the median of the pooled samples
  * would sit at the border of two families and jump from run to run with
  * the few calls there; `p50` is the mean of the families' medians. */
final class Samples {
  private val groups = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def add(group: String, x: Double): Unit = groups.getOrElseUpdate(group, ArrayBuffer()) += x
  def all: Seq[Double] = groups.values.flatten.toSeq
  def p50: Double = groups.values.map(Stats.median).sum / groups.size
}

/** Samples behind the end-to-end metrics. */
final class Recorder {
  var sessionS = 0.0
  val setupS, buildS, writeS = ArrayBuffer[Double]()
  val batchMs, pointMs, cycleMs = new Samples
  var batchQueries = 0L
  var batchTotalMs = 0.0
  var recallSum, hitSum = 0.0
  var recallN, hitN = 0L
  var fusedHits, fusedQueries = 0L
  var heapLiveMib = 0.0
  val genS, gtS, storeBytes = ArrayBuffer[Double]()
  val familyRecalls = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def batch(group: String, queries: Int, ms: Double): Unit = {
    batchMs.add(group, ms); batchQueries += queries; batchTotalMs += ms
  }
  def recall(r: Double): Unit = { recallSum += r; recallN += 1 }
  def hit(h: Boolean): Unit = { hitSum += (if (h) 1.0 else 0.0); hitN += 1 }
  /** per-batch recall of one family, kept to set the recall floors */
  def familyRecall(family: String, r: Double): Unit =
    familyRecalls.getOrElseUpdate(family, ArrayBuffer()) += r
}

/** SHA-256 over everything a workload generates, fed in generation order. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = ByteBuffer.allocate(8)
  def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
  def floats(v: Array[Float]): Unit = {
    val b = ByteBuffer.allocate(4 * v.length)
    v.foreach(b.putFloat)
    md.update(b.array())
  }
  def text(s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    long(b.length.toLong); md.update(b)
  }
  def rows(rs: Seq[(Long, Array[Float])]): Unit = rs.foreach { case (i, v) => long(i); floats(v) }
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest().map(b => f"$b%02x").mkString
}

/** splitmix64-based helpers for the benchmark's own deterministic draws */
object Rng {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** DataFrames in and out of the engine's relational shapes. */
object Frames {
  private val vecSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** a fresh (qid, vector) relation built from driver-side rows */
  def queries(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (q, v) => Row(q, v) }: _*),
      vecSchema)

  /** a fresh (id, vector) relation built from driver-side rows */
  def vectors(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    queries(spark, rows).withColumnRenamed("qid", "id")

  /** a fresh (id) relation */
  def ids(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  /** (id, vector) rows of a relation, sorted by id */
  def collectVectors(df: DataFrame, idCol: String = "id", vecCol: String = "vector")
      : Seq[(Long, Array[Float])] =
    df.select(idCol, vecCol).collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)

  /** (qid, rank, id) rows of a search result */
  def collectRanked(df: DataFrame, q: String = "qid", rank: String = "rank",
      id: String = "id"): Seq[(Long, Int, Long)] =
    df.select(q, rank, id).collect().toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).intValue,
        r.getAs[Number](2).longValue))
}
