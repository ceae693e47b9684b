package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IndexArtifact

/** Index-artifact persistence (reference S19: covertree_v2_2.py:101-282,
  * generalized to every index kind as SURVEY §2.1-S19 prescribes):
  * each artifact DataFrame → a parquet subdir, plus `manifest.json` and a
  * `WRITE_COMPLETE` sentinel written last; loads validate schema version,
  * algorithm kind, metric, dimension, dataset fingerprint and config hash
  * before any data is read. Writes go to a temp dir then atomically
  * rename (same crash-safety discipline as the reference).
  */
object ArtifactStore {
  val SchemaVersion = "1"
  val Sentinel = "WRITE_COMPLETE"

  final case class Manifest(
      schemaVersion: String, kind: String, metric: String,
      dimension: Int, vectorCount: Long, createdAt: String,
      datasetFingerprint: String, configHash: String,
      meta: Map[String, String], frames: Seq[String])

  /** canonical JSON: sorted keys, compact separators — must match the
    * reference's hashing convention (experiment_runner.py:155-157) */
  def canonicalJson(fields: Map[String, String]): String =
    fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def sha256(payload: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** fingerprint of the dataset identity (experiment_runner.py:184-240) */
  def datasetFingerprint(fields: Map[String, String]): String =
    sha256(canonicalJson(fields))

  /** storage-level pruning keys per index kind: writing the index
    * relation `partitionBy` its probe key means a search touches only the
    * probed partitions' files (the 100 TB payoff of IVF/LSH as relations) */
  val partitionKeys: Map[String, Seq[String]] = Map(
    "ivf" -> Seq("centroid_id"),
    "ivf_sq8" -> Seq("centroid_id"),
    "hnsw" -> Seq("centroid_id"),
    "lsh" -> Seq("table"))

  def save(artifact: IndexArtifact, dir: String, metric: String,
      dimension: Int, vectorCount: Long,
      datasetFingerprint: String, configHash: String): Unit = {
    val target = Paths.get(dir)
    val tmp = Paths.get(dir + ".tmp-" + System.nanoTime())
    Files.createDirectories(tmp)
    val frames = Map("data" -> artifact.data) ++ artifact.aux
    val dataPartitionKeys = partitionKeys.getOrElse(artifact.kind, Seq.empty)
      .filter(artifact.data.columns.contains)
    frames.foreach { case (name, df) =>
      val w = df.write.mode("overwrite")
      (if (name == "data" && dataPartitionKeys.nonEmpty)
        w.partitionBy(dataPartitionKeys: _*) else w)
        .parquet(tmp.resolve(name).toString)
    }
    val manifest = Map(
      "schema_version" -> SchemaVersion,
      "kind" -> artifact.kind,
      "metric" -> metric,
      "dimension" -> dimension.toString,
      "vector_count" -> vectorCount.toString,
      "created_at" -> java.time.Instant.now().toString,
      "dataset_fingerprint" -> datasetFingerprint,
      "config_hash" -> configHash,
      "frames" -> frames.keys.toSeq.sorted.mkString(","))
    val metaJson = canonicalJson(manifest ++ artifact.meta.map {
      case (k, v) => s"meta.$k" -> v
    })
    Files.writeString(tmp.resolve("manifest.json"), metaJson)
    Files.writeString(tmp.resolve(Sentinel), "") // sentinel written LAST
    // atomic swap
    if (Files.exists(target)) deleteRecursively(target)
    Files.move(tmp, target)
  }

  final case class ArtifactValidationException(msg: String)
    extends RuntimeException(msg)

  def load(spark: SparkSession, dir: String,
      expectKind: Option[String] = None, expectMetric: Option[String] = None,
      expectFingerprint: Option[String] = None): (IndexArtifact, Map[String, String]) = {
    val base = Paths.get(dir)
    if (!Files.exists(base.resolve(Sentinel)))
      throw ArtifactValidationException(
        s"incomplete artifact (missing $Sentinel) at $dir")
    val manifestJson = Files.readString(base.resolve("manifest.json"))
    val manifest = parseFlatJson(manifestJson)
    if (manifest("schema_version") != SchemaVersion)
      throw ArtifactValidationException(
        s"schema version ${manifest("schema_version")} != $SchemaVersion")
    expectKind.foreach { k =>
      if (manifest("kind") != k)
        throw ArtifactValidationException(
          s"kind mismatch: artifact=${manifest("kind")} expected=$k")
    }
    expectMetric.foreach { m =>
      if (manifest("metric") != m)
        throw ArtifactValidationException(
          s"metric mismatch: artifact=${manifest("metric")} expected=$m")
    }
    expectFingerprint.foreach { f =>
      if (manifest("dataset_fingerprint") != f)
        throw ArtifactValidationException(
          s"dataset fingerprint mismatch (index built on different data)")
    }
    val manifestSha = sha256(manifestJson)
    val frames = manifest("frames").split(",").filter(_.nonEmpty).map { name =>
      val df = spark.read.parquet(base.resolve(name).toString)
      identities.put(df, Seq(base.toAbsolutePath.normalize.toString, manifestSha, name,
        sha256(partFiles(base.resolve(name)).mkString("\n"))).mkString("|"))
      name -> df
    }.toMap
    val meta = manifest.collect {
      case (k, v) if k.startsWith("meta.") => k.stripPrefix("meta.") -> v
    }
    val artifact = IndexArtifact(manifest("kind"), frames("data"), meta,
      frames - "data")
    (artifact, manifest)
  }

  /** Store identity of each frame that [[load]] made: the directory, the
    * sha256 of its `manifest.json`, the frame name and the sha256 of the
    * frame's file names. Every write makes part files with fresh names, so
    * an overwrite at the same directory is a new identity. Weakly keyed
    * by the DataFrame; [[graft.operators.LocalScan]] keys its memo by it,
    * so a reload of the same stored files is a memo hit. */
  private val identities =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, String]())

  private[graft] def identityOf(df: DataFrame): Option[String] =
    Option(identities.get(df))

  /** file names under a frame directory, relative and sorted */
  private def partFiles(dir: Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  /** minimal flat JSON object parser (manifests are flat string maps) */
  private[graft] def parseFlatJson(s: String): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def parseStr(): String = {
      require(s(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'
            case 'n' => sb += '\n'; case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    skipWs(); require(s(i) == '{'); i += 1
    skipWs()
    while (i < s.length && s(i) != '}') {
      val k = parseStr(); skipWs(); require(s(i) == ':'); i += 1; skipWs()
      val v = parseStr(); out(k) = v
      skipWs()
      if (i < s.length && s(i) == ',') { i += 1; skipWs() }
    }
    out.toMap
  }

  /** A11 memory metric, JVM re-definition (SURVEY §7.4-7): bytes of the
    * persisted artifact on disk, clamped from below by nothing — the
    * "≥ raw vector bytes" clamp applies at the caller where the raw size
    * is known (experiment_runner.py:541-553). */
  def dirSizeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.delete(p)
  }
}
