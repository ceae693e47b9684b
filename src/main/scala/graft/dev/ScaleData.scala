package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Builds an sf1-equivalent testdata dir by replicating the sf0.1 fact
  * tables `factor`× with key shifts (ADVICE r8 #6: a larger-sf
  * correctness pass to catch partitioning-dependent bugs the small
  * fixtures can't). Dimension tables (region/nation/part/supplier/
  * customer) copy through unchanged; fact keys shift per replica so FK
  * joins stay valid:
  *   lineitem.l_orderkey / orders.o_orderkey — shared base (max+1)
  *   embeddings.vec_id — base rounded up to a multiple of 50, so the
  *     gate's `vec_id % 50 = 0` query subset scales with the data
  *   documents.doc_id, events id columns — per-table base
  * The SAME parquet feeds both the Spark gates and the DuckDB oracle,
  * so the comparison is closed over whatever data this produces.
  *
  * Run: sbt "runMain graft.dev.ScaleData /root/testdata/sf0.1 /tmp/sfbig 10"
  *
  * Optional 4th arg `zipf` (r13, VERDICT r12 item 4): rewrite document
  * text with a ZIPF-ranked synthetic vocabulary (P(rank) ∝ 1/(1+rank)
  * over 4096 tokens, inverse-CDF sampled from the same splitmix hashes,
  * ~90% substitution on EVERY replica including 0). The standard
  * fixtures keep the flat jittered vocabulary — their dedup-skew and
  * BM25 oracles are calibrated to it — but a flat-impact corpus makes
  * champion-list truncation look uniformly terrible (r12, the removed
  * dev/ChampionSweep: top-5 agreement 0.03-0.27 at any affordable N)
  * because every term's posting impacts are interchangeable. Real retrieval
  * corpora are Zipfian (term frequencies concentrate), which is the regime
  * champion lists were designed for — this mode builds that stand-in so the
  * operating point can be swept where the operator is actually used.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sfbig")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val zipfText = args.lift(3).contains("zipf")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0)
    def roundUp(v: Long, m: Long): Long = ((v + m - 1) / m) * m

    val reps = spark.range(factor).toDF("__r")
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      shifts.foldLeft(df.crossJoin(broadcast(reps))) { case (d, (c, base)) =>
        d.withColumn(c, (col(c).cast("long") + col("__r") * base).cast(
          df.schema(c).dataType))
      }.drop("__r")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // dims: copy through
    Seq("region", "nation", "part", "supplier", "customer").foreach { t =>
      write(t, Tables.load(spark, src, t))
    }
    // facts
    val orders = Tables.load(spark, src, "orders")
    val lineitem = Tables.load(spark, src, "lineitem")
    val okBase = math.max(maxOf(orders, "o_orderkey"),
      maxOf(lineitem, "l_orderkey")) + 1
    write("orders", replicate(orders, Map("o_orderkey" -> okBase)))
    write("lineitem", replicate(lineitem, Map("l_orderkey" -> okBase)))

    val emb = Tables.load(spark, src, "embeddings")
    val embBase = roundUp(maxOf(emb, "vec_id") + 1, 50)
    // Replica 0 stays byte-identical; replicas > 0 get a deterministic
    // per-(id, replica, dim) jitter of ±0.02 on the embedding. Without
    // it every vector arrives with `factor` EXACT zero-distance copies
    // and scaled ANN recall@k degenerates into a tie-breaking lottery
    // over duplicates (found at 100×: the hnsw_global / hnsw_filtered
    // recall-floor rows vanished on data where recall isn't meaningful).
    // ~0.09 L2 between replicas (unit-norm vectors, ~1.15 NN distance)
    // keeps the corpus realistic — web-scale corpora are full of
    // near-duplicate embeddings — while keeping ground truth unique.
    val jitter = udf { (v: Seq[Float], r: Long, id: Long) =>
      if (r == 0L) v
      else {
        @inline def mix(x0: Long): Long = {
          var x = x0 + 0x9E3779B97F4A7C15L
          x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
          x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
          x ^ (x >>> 31)
        }
        val base = mix(mix(id * 0x517CC1B727220A95L) ^ r)
        val out = new Array[Float](v.length)
        var d = 0
        while (d < v.length) {
          val u = ((mix(base ^ d.toLong) >>> 11).toDouble / (1L << 53).toDouble)
          out(d) = v(d) + ((u - 0.5) * 0.04).toFloat
          d += 1
        }
        out.toSeq
      }
    }
    val embScaled = emb.crossJoin(broadcast(reps))
      .withColumn("embedding", jitter(col("embedding"), col("__r"), col("vec_id")))
      .withColumn("vec_id", (col("vec_id").cast("long") + col("__r") * embBase)
        .cast(emb.schema("vec_id").dataType))
      .drop("__r")
    write("embeddings", embScaled)

    val docs = Tables.load(spark, src, "documents")
    // Same duplicate pathology as embeddings, text-side (found at 100×):
    // verbatim-replicated text makes every doc arrive with `factor`
    // byte-identical copies over a ~40-word vocabulary, so simhash
    // fingerprints / winnow fingerprints / minhash bands collapse into a
    // few enormous buckets and every pair join concentrates its output
    // in ONE hot key — dedup_simhash sat 30+ min in a single skewed
    // task. Replica 0 stays byte-identical; replicas > 0 substitute
    // ~35% of tokens with hash-derived synthetic vocab ("w0".."w4095"),
    // deterministic per (doc_id, replica, position). Replicas stop being
    // near-dups (jaccard ≈ 0.48 « 0.9), bucket entropy scales with the
    // data, and the corpus looks like 100× MORE data, not 100 copies —
    // which is the thing a 100× pass exists to simulate. All oracles
    // recompute from the written parquet, so the comparison stays closed.
    // zipf mode: every replica (incl. 0) rewrites ~90% of tokens to a
    // Zipf-ranked vocab — rank = exp(u·ln(1+V))−1 inverts the s=1 Zipf
    // CDF ln(1+r)/ln(1+V), so token "z0" dominates and the tail thins
    // like a real corpus's term histogram
    val zipfJitter = udf { (t: String, r: Long, id: Long) =>
      if (t == null) t
      else {
        @inline def mix(x0: Long): Long = {
          var x = x0 + 0x9E3779B97F4A7C15L
          x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
          x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
          x ^ (x >>> 31)
        }
        val base = mix(mix(id * 0xA24BAED4963EE407L) ^ (r + 1))
        val lnV1 = math.log(4097.0)
        val toks = t.split(" ")
        var i = 0
        while (i < toks.length) {
          val h = mix(base ^ i.toLong)
          if ((h & 0xffL) < 230) { // ~90% substitution
            val u = ((h >>> 11) & ((1L << 30) - 1)).toDouble / (1L << 30)
            val rank = (math.exp(u * lnV1) - 1.0).toInt.min(4095)
            toks(i) = "z" + rank
          }
          i += 1
        }
        toks.mkString(" ")
      }
    }
    val textJitter = udf { (t: String, r: Long, id: Long) =>
      if (r == 0L || t == null) t
      else {
        @inline def mix(x0: Long): Long = {
          var x = x0 + 0x9E3779B97F4A7C15L
          x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
          x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
          x ^ (x >>> 31)
        }
        val base = mix(mix(id * 0xA24BAED4963EE407L) ^ r)
        val toks = t.split(" ")
        var i = 0
        while (i < toks.length) {
          val h = mix(base ^ i.toLong)
          if ((h & 0xffL) < 90) toks(i) = "w" + ((h >>> 8) & 0xfffL)
          i += 1
        }
        toks.mkString(" ")
      }
    }
    val docBase = maxOf(docs, "doc_id") + 1
    val docsScaled = docs.crossJoin(broadcast(reps))
      .withColumn("text",
        (if (zipfText) zipfJitter else textJitter)(
          col("text"), col("__r"), col("doc_id")))
      .withColumn("doc_id", (col("doc_id").cast("long") + col("__r") * docBase)
        .cast(docs.schema("doc_id").dataType))
      .drop("__r")
    write("documents", docsScaled)

    val events = Tables.load(spark, src, "events")
    val idCols = events.schema.fieldNames.filter(c =>
      c == "event_id" || c == "user_id" || c == "session_id")
    val shifts = idCols.map(c => c -> (maxOf(events, c) + 1)).toMap
    write("events", replicate(events, shifts))
    spark.stop()
  }
}
