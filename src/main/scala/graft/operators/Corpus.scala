package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-construction operators for LLM training-data pipelines:
  * benchmark decontamination, C4-style heuristic filtering, per-source
  * mixture sampling, and corpus n-gram statistics.
  *
  * Everything here is declarative DataFrame logic — equi-joins and
  * map-side-combinable aggregates only, no windows, no driver loops —
  * so each operator partitions cleanly on a 1000-executor cluster:
  *   - decontamination shuffles on the n-gram key (an inverted-index
  *     join, the same shape minhash-LSH dedup uses);
  *   - the C4 filter is a pure codegen'd projection (shuffle-free);
  *   - mixture sampling is one tiny per-group aggregate broadcast back
  *     over the corpus (the keep decision is a pure function of the
  *     row id, partition-layout-invariant — see [[Sampling]]);
  *   - n-gram stats are explode → partial-agg → TakeOrderedAndProject.
  */
object Corpus {

  // ------------------------------------------------------- decontamination
  /** Benchmark decontamination report: which training documents share at
    * least one word-level `n`-gram with an evaluation/benchmark document
    * (the GPT-3/PaLM-style n-gram collision rule; reference has no
    * decontamination pass — this is a scale-pipeline addition).
    *
    * Output: one row per contaminated training doc —
    * `(train_id, n_shared_grams, n_eval_docs)`.
    *
    * Shape at scale: distinct per-doc shingles explode to slim
    * `(id, gram)` relations; the equi-join on `gram` is an inverted-index
    * join that shuffles only the gram keys. A benchmark suite is tiny
    * next to a 100 TB corpus, so the eval side is broadcast by default
    * (AQE would pick this up anyway; the hint makes it deterministic).
    * For very wide corpora hash the grams first (`xxhash64`) to cut
    * shuffle width — kept as strings here so the DuckDB oracle can
    * reproduce the join key verbatim.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int,
      broadcastEval: Boolean = true): DataFrame = {
    def grams(df: DataFrame, as: String) = df.select(
      col(idCol).as(as), explode(Dedup.shingles(col(textCol), n)).as("gram"))
    val tg = grams(train, "train_id")
    val eg0 = grams(eval, "eval_id")
    val eg = if (broadcastEval) broadcast(eg0) else eg0
    tg.join(eg, "gram")
      .groupBy("train_id")
      .agg(countDistinct("gram").as("n_shared_grams"),
        countDistinct("eval_id").as("n_eval_docs"))
  }

  // ------------------------------------------------------ sequence packing
  /** GPT-style pretraining sequence packing: concatenate every document's
    * whitespace tokens in ascending-id order and cut the stream into
    * fixed `budget`-token training sequences (documents may straddle a
    * boundary — the standard concat-then-chunk shape, not bin packing).
    * Output: one row per (sequence, contributing doc) aggregated to
    * `(seq_id, n_docs, n_tokens)` — every sequence except the last holds
    * exactly `budget` tokens, which doubles as a self-check invariant.
    *
    * Scale shape: the global running token count is computed in two
    * phases — per-id-range partial sums (a tiny aggregate of n/rangeSize
    * rows) prefix-summed and joined back, then a window cumsum WITHIN
    * each bounded range — so no window ever sees more than `rangeSize`
    * documents. (The range-prefix window itself runs over the tiny
    * per-range relation; at extreme scale it nests the same trick once
    * more.) Ranges follow id VALUE density: with sparse ids (snowflake
    * spacing ≥ rangeSize) the per-range relation degenerates toward one
    * row per doc — pre-compact such ids to ranks (or raise rangeSize to
    * the id spacing) to keep the phase-1 relation tiny. The per-doc [start, end) token span then explodes to its
    * overlapped sequence ids — a pure row-local `sequence()`, no
    * shuffle beyond the one tiny aggregate.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, rangeSize: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokenCount(col(textCol))
    val base = docs.select(col(idCol).cast("long").as("__id"), toks.as("__toks"))
    val ranged = base.withColumn("__range", (col("__id") / rangeSize).cast("long"))
    // phase 1: per-range totals (tiny), prefix-summed to range offsets
    val offsets = ranged.groupBy("__range")
      .agg(sum("__toks").as("__rtoks"))
      .withColumn("__offset",
        coalesce(sum("__rtoks").over(
          Window.orderBy("__range")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__range"), col("__offset"))
    // phase 2: bounded within-range cumsum + the global offset
    val winRange = Window.partitionBy("__range").orderBy("__id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = ranged
      .join(broadcast(offsets), "__range")
      .withColumn("__cum", sum("__toks").over(winRange) + col("__offset"))
      .withColumn("__start", col("__cum") - col("__toks"))
      .filter(col("__toks") > 0)
    // explode each doc's token span to the sequences it overlaps
    val b = lit(budget.toLong)
    spans
      .select(col("__id"), col("__start"), col("__cum"),
        explode(sequence(
          floor(col("__start") / b).cast("long"),
          floor((col("__cum") - 1) / b).cast("long"))).as("seq_id"))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("__cum"), (col("seq_id") + 1) * b) -
          greatest(col("__start"), col("seq_id") * b)).as("n_tokens"))
  }

  // ---------------------------------------------------- C4-style filtering
  /** Document-level quality heuristics in the C4/Gopher tradition, as
    * independent boolean signals (a doc can trip several):
    *   - `short`: fewer than `minWords` whitespace tokens
    *   - `longWord`: any token longer than `maxWordLen` chars (markup /
    *     base64 / URL soup)
    *   - `lowStopword`: stopword ratio under `minStopRatio` (non-prose)
    *   - `repetitive`: distinct-token fraction under `minDistinctFrac`
    *     (boilerplate / keyword stuffing)
    * All are pure column expressions over one tokenization — codegen'd,
    * shuffle-free, and embarrassingly parallel at 100 TB. */
  final case class C4Signals(short: Column, longWord: Column,
      lowStopword: Column, repetitive: Column) {
    def keep: Column = !short && !longWord && !lowStopword && !repetitive
  }

  def c4Signals(text: Column, minWords: Int = 15, maxWordLen: Int = 25,
      minStopRatio: Double = 0.05, minDistinctFrac: Double = 0.4): C4Signals = {
    val toks = Dedup.tokens(text)
    C4Signals(
      short = size(toks) < minWords,
      longWord = array_max(transform(toks, w => length(w))) > maxWordLen,
      lowStopword = TextAnalysis.stopwordRatio(text) < minStopRatio,
      repetitive =
        size(array_distinct(toks)).cast("double") / size(toks) < minDistinctFrac)
  }

  /** Per-group audit of the C4 filter: how many docs each signal trips
    * and how many survive all of them. One scan, one partial-aggregated
    * groupBy — the canonical "why did my corpus shrink" report. */
  def c4FilterAudit(df: DataFrame, textCol: String, groupCol: String,
      minWords: Int = 15, maxWordLen: Int = 25, minStopRatio: Double = 0.05,
      minDistinctFrac: Double = 0.4): DataFrame = {
    val s = c4Signals(col(textCol), minWords, maxWordLen, minStopRatio,
      minDistinctFrac)
    def cnt(c: Column) = count(when(c, 1))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), cnt(s.keep).as("n_kept"),
        cnt(s.short).as("n_short"), cnt(s.longWord).as("n_long_word"),
        cnt(s.lowStopword).as("n_low_stopword"),
        cnt(s.repetitive).as("n_repetitive"))
  }

  // ----------------------------------------------------- mixture sampling
  /** Mixture sampling: build a corpus of ~`budgetFrac` × N rows with a
    * UNIFORM target share per `groupCol` value (the "domain mixing"
    * step of corpus construction — upsample rare sources, downsample
    * dominant ones, bounded by what each source has).
    *
    * Per-group keep rate: `min(1, budgetFrac·N / (G·n_g))` for G groups;
    * the keep decision is [[Sampling.hashBucket]] against the group's
    * 16-bit threshold, so the realized sample is deterministic under any
    * partitioning / retry / incremental re-run. The per-group rate table
    * is a few-row aggregate joined back (broadcast) over the corpus —
    * no window, no shuffle of the big side.
    *
    * The whole rate computation stays INSIDE the plan as double
    * arithmetic (`floor(least(1, 0.5·N/(G·n_g))·65536)`) so an external
    * oracle can reproduce the thresholds bit-for-bit. */
  def mixtureThresholds(df: DataFrame, groupCol: String,
      budgetFrac: Double): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum("n_rows").as("n_total"),
      count(lit(1)).as("n_groups"))
    counts.crossJoin(totals).select(col(groupCol), col("n_rows"),
      floor(least(lit(1.0),
        (lit(budgetFrac) * col("n_total")) / (col("n_groups") * col("n_rows")))
        * 65536).cast("long").as("threshold"))
  }

  /** rows kept by the mixture sample (broadcast the per-group thresholds) */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
      budgetFrac: Double, salt: String = "mix"): DataFrame = {
    val thr = mixtureThresholds(df, groupCol, budgetFrac)
    df.join(broadcast(thr.select(col(groupCol), col("threshold"))), groupCol)
      .filter(Sampling.hashBucket(col(idCol), salt) < col("threshold"))
      .drop("threshold")
  }

  /** per-group audit: rows, threshold, rows kept — integer-only output */
  def mixtureAudit(df: DataFrame, idCol: String, groupCol: String,
      budgetFrac: Double, salt: String = "mix"): DataFrame = {
    val thr = mixtureThresholds(df, groupCol, budgetFrac)
    df.join(broadcast(thr), groupCol)
      .groupBy(col(groupCol), col("n_rows"), col("threshold"))
      .agg(count(when(
        Sampling.hashBucket(col(idCol), salt) < col("threshold"), 1))
        .as("n_kept"))
  }

  // ------------------------------------------------------ per-domain cap
  /** Per-domain document cap — the corpus-balance stage every large
    * pipeline runs (C4 caps pages per domain; Gopher dedups then caps):
    * keep at most `n` documents from any one `domainCol` value, the best
    * first by (`orderDescCol` DESC, id ASC).
    *
    * Implementation choice, measured (the removed dev/DomainCapProbe): the
    * naive-looking `row_number() OVER (PARTITION BY domain …) <= n` is
    * the RIGHT plan on Spark ≥ 3.5. Catalyst's
    * InferWindowGroupLimit rewrites a rank filter with a literal bound
    * into a Partial WindowGroupLimit BEFORE the exchange, so each map
    * partition forwards at most n rows per domain — the shuffle is
    * bounded and a heavy-hitter domain cannot flood one reducer (5M
    * rows × 1 KB payload, 50% in one domain: 25 MB shuffled, not 5 GB).
    * The spec asserts the Partial WindowGroupLimit is present; if that
    * rewrite ever stops firing, the assertion — not production wall
    * clock — breaks. [[domainCapViaHeap]] keeps the explicit
    * bounded-heap formulation this was measured against: steady-state
    * it is slightly faster (1.4 s vs 1.9 s, maxTask 0.7 s vs 1.1 s at
    * the probe shape), but it silently degrades to a sort fallback in
    * any session that hasn't raised
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`; the
    * window form is config-free, so it is the default.
    *
    * Ties on the order key break by id ascending; both variants and the
    * gate oracle share that total order. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
      orderDescCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col(orderDescCol).desc, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** The explicit formulation of [[domainCap]]: bounded-heap aggregate
    * ([[TopKByDist]], O(n) state per domain, map-side combined) yielding
    * the kept-id set, broadcast back as a semi-join — the corpus itself
    * is never shuffled. Kept because it is the shape that generalizes
    * when the keep rule ISN'T a rank filter Catalyst can push (e.g.
    * top-n by a computed score with the scored row reused downstream),
    * and as the measured baseline for the WindowGroupLimit plan.
    *
    * Rows with a null order key are never kept (the window form keeps
    * them last). Config note: needs
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` ≥ the
    * per-partition domain count (session entry points here use 65536) —
    * at the 128-key default the partial aggregate falls back to
    * sort-based mode and pays the very sort it avoids. */
  def domainCapViaHeap(df: DataFrame, idCol: String, domainCol: String,
      orderDescCol: String, n: Int): DataFrame = {
    val kept = df
      .groupBy(col(domainCol))
      .agg(TopKByDist.topK(col(idCol).cast("long"),
        -col(orderDescCol).cast("double"), n).as("top"))
      .select(explode(col("top.id")).as("__keep_id"))
    df.join(broadcast(kept),
      col(idCol).cast("long") === col("__keep_id"), "left_semi")
  }

  // ------------------------------------------------------- n-gram stats
  /** Corpus-wide top-k word n-grams by DOCUMENT frequency (per-doc
    * distinct shingles, so one spammy doc can't dominate). Explode →
    * map-side partial count → global top-k via TakeOrderedAndProject
    * (orderBy+limit never materializes a full sort at scale).
    * Deterministic tiebreak: (df desc, gram asc). */
  def topNgramsByDf(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(k)
}
