package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bm25

/** 1000×-shaped probe of WAND serving (VERDICT r13 stretch #7): the
  * dedup-probe pattern applied to the retrieval family — a synthetic
  * Zipf corpus one decade past the 100× pass (5M docs vs 500k), with NO
  * oracle cost. The probe validates the SCALE story, not values (the
  * sf0.01 gate and the 100× `text_bm25_wand_sampled` twin own those):
  *
  *  - **candidate-row bound**: WAND's structural claim is that ≤
  *    P·nq·k rows ever cross the rank exchange, regardless of df — on
  *    a Zipf corpus the head term sits in ~10% of ALL docs, so the
  *    relational Σ qf·df join would materialize ~nq·0.1·nDocs rows
  *    (≈50M at this shape) where WAND forwards ≤ P·nq·k (≈32k). The
  *    probe reads the actual forwarded-row count off the executed
  *    plan's exchange metrics and prints it next to the bound.
  *  - **corpus-growth law**: serve wall at 500k vs 5M docs (same 100
  *    queries, same k). θ-pruned DAAT cost per query grows with the
  *    postings the pivot scan actually touches, not the corpus — the
  *    10× corpus step should cost well under 10× wall.
  *
  * Usage: runMain graft.dev.WandScaleProbe [nDocs=5000000] [nq=100]
  * (run in tmux; ~10 min at the default shape).
  *
  * Measured (2026-08-16, local[32], ~32-token docs, Zipf s=1 over a
  * 65,536-term vocab, nq=100, k=10; three sessions, best-of-3 serve
  * reps each):
  *
  *   corpus   postings      build    serve best   fwd rows   bound P·nq·k
  *   500k     16.0M rows    ~10 s    3.6-3.9 s    32,000     32,000
  *   5M       160.5M rows   ~27 s    26-34 s      32,000     32,000
  *
  *   (fwd rows = shuffleRecordsWritten of the qidx rank exchange; the
  *   doc co-location exchange moved 6.86M / 68.2M query-vocab postings
  *   rows respectively — linear in corpus, paid once per serve batch,
  *   the SCAN side; the CANDIDATE side stays pinned at the bound.)
  *
  * The probe now serves through [[Bm25.searchTopKWand]] and prints
  * `first` (tokenize + postings build + one serve) where the record
  * above shows `build`.
  *
  * Reading: the rank exchange carries EXACTLY P·nq·k rows at both
  * decades — on a Zipf corpus every partition fills its local top-k
  * for every query, so the bound is tight and, critically, UNCHANGED
  * by a 10× corpus step (the relational join's candidates would have
  * grown ~10× to ~50M+ here: nq × head-term df alone). Serve wall
  * grows ~7× for 10× corpus, all of it the linear query-vocab
  * postings scan/shuffle — the blow-up term is gone. The bound holds
  * one decade past the 100× pass.
  */
object WandScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(5_000_000L)
    val nq = args.lift(1).map(_.toInt).getOrElse(100)
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Zipf s=1 corpus over a 65,536-term vocab (inverse-CDF rank =
    // exp(u·ln(1+V))−1 — the ScaleData zipf law at a larger vocab):
    // head term "z0" lands in ~10% of documents, the regime where the
    // relational join's Σ qf·df blows up and WAND's θ-pruning earns
    // its keep. splitmix64 per (doc, position) keeps it deterministic
    // and partition-invariant.
    val lnV1 = math.log(65537.0)
    val docText = udf { id: Long =>
      @inline def mix(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val base = mix(id * 0xA24BAED4963EE407L)
      val n = 20 + (mix(base ^ 777L) & 0x1fL).toInt // 20-51 tokens
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val h = mix(base ^ i.toLong)
        val u = ((h >>> 11) & ((1L << 30) - 1)).toDouble / (1L << 30)
        val rank = (math.exp(u * lnV1) - 1.0).toInt.min(65535)
        if (i > 0) sb.append(' ')
        sb.append('z').append(rank)
        i += 1
      }
      sb.toString
    }
    def corpus(n: Long): DataFrame =
      spark.range(0, n, 1, 32).select(col("id"),
        docText(col("id")).as("text"))

    // queries: prefixes of every nDocs/nq-th doc — head-dominated the
    // way real query logs over a Zipf corpus are
    def queriesOf(docs: DataFrame, n: Long): DataFrame =
      docs.filter(col("id") % math.max(1L, n / nq) === 0)
        .select(col("id").as("qid"),
          substring(col("text"), 1, 60).as("qtext"))
        .limit(nq)

    // walk INTO the adaptive plan: after execution the exchanges live
    // under AdaptiveSparkPlanExec.executedPlan / QueryStageExec.plan,
    // which SparkPlan.collect does not descend into
    def exchangeRows(df: DataFrame): Seq[(String, Long)] = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case e: ShuffleExchangeLike =>
            val recs = e.metrics.get("shuffleRecordsWritten")
              .map(_.value).getOrElse(-1L)
            out += ((e.output.map(_.name).mkString(","), recs))
            e.children.foreach(walk)
          case other => other.children.foreach(walk)
        }
      }
      walk(df.queryExecution.executedPlan)
      out.toSeq
    }

    Seq(nDocs / 10, nDocs).foreach { n =>
      val docs = corpus(n).cache()
      docs.count()
      val q = queriesOf(docs, n).cache()
      q.count()
      // the first call tokenizes the corpus and caches its postings, later
      // calls reuse them; every batch here touches far more than
      // Bm25.driverWandMaxPostings postings, so each takes distributed WAND
      var lastDf: DataFrame = null
      val serve = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        val res = Bm25.searchTopKWand(docs, q, "id", "text", "qid", "qtext", k)
        // collect, not count: count() executes a SEPARATE aggregate
        // plan, leaving this DataFrame's own queryExecution (where the
        // exchange metrics live) unexecuted
        val rows = res.collect().length.toLong
        lastDf = res
        ((System.nanoTime() - t1) / 1e9, rows)
      }
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      println(f"[wand-scale] docs=$n%,d first=${serve.head._1}%.1fs " +
        f"serve_best=${serve.tail.map(_._1).min}%.1fs " +
        f"(all ${serve.map(t => f"${t._1}%.1f").mkString("/")}) " +
        f"result_rows=${serve.head._2}%,d bound=${partitions.toLong * nq * k}%,d")
      exchangeRows(lastDf).foreach { case (schema, recs) =>
        println(f"[wand-scale]   exchange rows=$recs%,d  ($schema)") }
      docs.unpersist(); q.unpersist()
    }
    spark.stop()
  }
}
