package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Bm25

/** Champion-list operating-point sweep (r11 VERDICT stretch #7): the
  * `text_bm25_champion` gate pins championListSize=32 — a constant
  * chosen for the gate, not measured. This probe runs the 10×-scaled
  * documents corpus (the scale where champion lists become the
  * at-scale scoring path) and reports, per N:
  *
  *   - top-5 agreement vs the EXACT ranking (fraction of (query, rank)
  *     cells identical to exact — the serving-quality metric),
  *   - wall seconds for the scoring pass.
  *
  * Baselines: the WAND path gives the exact answer at bounded
  * candidates, so champion lists only matter when even WAND's
  * per-partition DAAT is too hot (e.g. stream-serving) — the sweep
  * quantifies what N buys.
  *
  * Usage: runMain graft.dev.ChampionSweep [dir] [Ns=8,16,32,64,128] [short]
  *
  * The cand-gen+rescore columns below were measured with a
  * `championRescore` variant of [[Bm25.searchTopK]] that has since been
  * removed: it cost more than exact WAND at every N, and no gate used it.
  *
  * Measured record, all at 10× (50k docs / 944 queries, k=5, top-5
  * (q, d, rank)-triple agreement vs the exact ranking):
  *
  * (1) r12, FLAT-impact corpus (40-word jittered vocab), 200-char
  *     doc-prefix queries:
  *       wand 13.8 s EXACT | exact 99.1 s |
  *       champ-8/16/32/64/128: ~3 s at 0.029/0.054/0.102/0.168/0.266
  *
  * (2) r13, ZIPF corpus (`ScaleData … zipf`: P(rank) ∝ 1/(1+rank) over
  *     4096 tokens — VERDICT r12 item 4), same 200-char queries:
  *       wand 12.3 s EXACT | exact 48.2 s
  *       N      truncated (s)        cand-gen+rescore (s)
  *       8      0.034   (3.1)        0.056    (9.7)
  *       16     0.063   (2.3)        0.101   (17.9)
  *       32     0.104   (2.2)        0.167   (34.3)
  *       64     0.153   (2.1)        0.297   (69.5)
  *       128    0.199   (2.8)        0.490   (82.2)
  *
  * (3) r13, ZIPF corpus, SHORT queries (30-char ≈ 4-6 terms — the
  *     user-query shape champion lists target):
  *       wand 16.3 s EXACT | exact 32.6 s
  *       8      0.023   (4.4)        0.044    (5.7)
  *       16     0.035   (2.3)        0.087    (4.3)
  *       32     0.051   (2.4)        0.179    (6.9)
  *       64     0.081   (2.8)        0.380   (11.4)
  *       128    0.125   (3.2)        0.621   (22.6)
  *
  * Reading: the r12 hypothesis — that the flat-impact corpus was the
  * reason truncation looked terrible — is REFUTED on this generator:
  * even Zipf term statistics + short queries + MRS-style candidate
  * generation with full rescoring top out at 0.62 agreement while
  * costing MORE than exact WAND (22.6 vs 16.3 s; at 200-char queries
  * 82 vs 12 s). Root cause: the synthetic generator draws tokens i.i.d.
  * per position, so per-term impact histograms are still near-tied
  * across docs (tf/dl barely varies) and a top-N champion cut stays
  * near-arbitrary at any N ≤ 128 — Zipf df alone doesn't concentrate
  * IMPACT. Operational conclusion, now measured from three regimes:
  * on this engine WAND is the at-scale exact operating point, strictly
  * dominating champion lists (lower cost than even the rescore variant,
  * zero loss); champion lists remain a candidate-generation heuristic
  * for engines without DAAT pruning, and their N must be swept on the
  * REAL corpus's impact histogram before trusting any agreement target.
  * The `text_bm25_champion` gate pins truncated-scoring SEMANTICS
  * (engine ≡ oracle at N=32, a cost-bound candidate-space point —
  * Σ_t qf·min(df, 32) — NOT an exactness claim), which this sweep
  * documents rather than changes.
  */
object ChampionSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/sfbig")
    val ns = args.lift(1).getOrElse("8,16,32,64,128").split(",").map(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "12")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    docs.count()
    // 3rd arg `short`: 30-char query prefixes (~4-6 terms) — the USER-
    // QUERY shape champion lists were designed for, vs the gate's
    // 200-char document-prefix queries (~30 terms) whose top-5 mass is
    // spread over too many terms for any per-term truncation to keep
    val qlen = if (args.lift(2).contains("short")) 30 else 200
    val queries = docs.filter(col("doc_id") % 53 === 0)
      .select(col("doc_id").as("qid"),
        substring(col("text"), 1, qlen).as("qtext")).cache()
    val nq = queries.count()
    println(s"[champ] $dir: ${docs.count()} docs, $nq queries (qlen=$qlen)")

    def run(champ: Option[Int], label: String) = {
      val t0 = System.nanoTime()
      val res = Bm25.searchTopK(docs, queries, "doc_id", "text",
          "qid", "qtext", k = 5, championListSize = champ)
        .select("query_id", "doc_id", "rank").cache()
      val n = res.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[champ] $label%-14s rows=$n%-8d ${secs}%6.1f s")
      (res, secs)
    }
    // WAND (exact, bounded candidates) as the time reference
    val tw0 = System.nanoTime()
    val wand = Bm25.searchTopKWand(docs, queries, "doc_id", "text",
      "qid", "qtext", k = 5).select("query_id", "doc_id", "rank").cache()
    val nWand = wand.count()
    println(f"[champ] wand       rows=$nWand%-8d ${(System.nanoTime()-tw0)/1e9}%6.1f s  (exact)")

    val (exact, _) = run(None, "exact")
    def agreeOf(res: org.apache.spark.sql.DataFrame): Double =
      res.join(exact, Seq("query_id", "doc_id", "rank"), "left_semi")
        .count().toDouble / math.max(1, exact.count())
    for (n <- ns) {
      val (res, _) = run(Some(n), s"champ-$n")
      println(f"[champ]   N=$n%-4d top5 agreement=${agreeOf(res)}%.4f (truncated scoring)")
      res.unpersist()
    }
    spark.stop()
  }
}
