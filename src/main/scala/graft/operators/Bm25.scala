package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Okapi BM25 full-text retrieval as relational operators — the lexical
  * complement to the vector-search family (the reference engine is
  * vector-only; a training-data pipeline needs lexical retrieval for
  * eval-set leakage hunts, hard-negative mining and quality audits,
  * where near-verbatim overlap beats embedding similarity).
  *
  * Everything is DataFrame logic over an inverted index kept AS a
  * relation:
  *
  *   - `postings` — explode + partial-combinable groupBy; at scale this
  *     is the classic build-the-inverted-index shuffle on (doc, term),
  *     paid once and reusable (write it bucketed by term and scoring
  *     joins are co-located — see [[graft.sources.Bucketing]]).
  *   - corpus statistics (N, avgdl) are a one-row aggregate broadcast
  *     into the scoring expression; document frequencies join against
  *     the tiny query-term relation FIRST, so the full `df` table never
  *     rides along — only the ≤|query terms| rows that matter.
  *   - scoring joins the postings to the broadcast query-term relation
  *     on `term` (the corpus-sized side is never reshuffled), then one
  *     groupBy (query, doc) whose width is bounded by actual matches.
  *   - per-query top-k is the rank-filter window form: on Spark 4
  *     Catalyst rewrites it to a Partial `WindowGroupLimit`, so each map
  *     partition forwards at most k rows per query before the exchange
  *     (measured in the removed dev/DomainCapProbe for the same shape).
  *
  * Cross-engine determinism AND aggregate speed come from the same
  * choice: each per-term contribution is rounded to a fixed-point long
  * (`round(s · 1e6)`) before summing. Long addition is associative, so
  * the per-(query, doc) score is independent of partitioning, shuffle
  * order and engine — no ordered fold, no per-group arrays — and the
  * aggregate is a plain codegen'd `sum(long)` with map-side partial
  * combine (an earlier `collect_list` + sorted-fold formulation was
  * engine-stable too, but shuffled every term row into per-group
  * arrays and ran the fold through interpreted higher-order functions
  * — ~40× slower at 44M score rows). Ranking compares the fixed longs
  * with doc id as the tiebreak; 1e-6 score resolution means docs
  * closer than that tie and resolve by id, identically everywhere.
  * Tokenization is the corpus-wide convention:
  * `split(trim(lower(text)), "\s+")` ([[Dedup.tokens]]).
  */
object Bm25 {

  /** Inverted-index postings relation `(doc_id, term, tf, dl)` — term
    * frequency per (document, term) with the document's token length
    * carried on every posting (denormalized so scoring needs no second
    * join back to a doc-length table). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsOf(docLengths(docs, idCol, textCol))

  private def postingsOf(dls: DataFrame): DataFrame =
    dls.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term", "dl")
      .agg(count(lit(1)).as("tf"))

  /** `(doc_id, dl, toks)` — tokenized docs with token count; the scan
    * both `postings` and the corpus statistics derive from. Tokenize is
    * CPU-bound per row, so the scan parallelism is floored (r14, see
    * [[Par]]). */
  private def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.fanText(docs, col(idCol))
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))

  // the tokenized-docs relation feeds BOTH the corpus stats aggregate and
  // the postings build: cached once per search call (retiring the previous
  // call's entry, same discipline as Dedup's slots) the corpus text is
  // tokenized ONCE per call instead of once per consumer (r14; before,
  // searchTopK* tokenized the corpus twice — stats + postings)
  private[operators] val dlsCacheSlot = new Dedup.CacheSlot
  private[operators] val postCacheSlot = new Dedup.CacheSlot

  /** BM25 top-k search: `queries (qIdCol, qTextCol)` against
    * `docs (idCol, textCol)`; returns
    * `(query_id, doc_id, rank, score)` with `rank` 1-based per query,
    * ordered by (score desc, doc_id asc), at most `k` rows per query.
    * This relational Σ qf·df join is the exact reference the WAND paths
    * ([[searchTopKWand]]) are contracted bit-identical to.
    *
    * `k1`/`b` are the standard Robertson parameters; idf is the
    * Lucene-style `ln(1 + (N - df + 0.5)/(df + 0.5))` (never negative).
    * Query term frequency is ignored (distinct query terms), the common
    * retrieval simplification.
    *
    * `championListSize`: truncated scoring over per-term champion lists
    * (Manning/Raghavan/Schütze §7.1.3), the `text_bm25_champion` gate's
    * semantics. It stays on this relational path only: it is approximate
    * by construction, so it cannot share WAND's exactness contract, and
    * exact WAND already costs less than every champion variant measured
    * (the removed dev/ChampionSweep) — a WAND champion option would be code for a
    * variant nothing needs. */
  def searchTopK(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      championListSize: Option[Int] = None): DataFrame = {
    // one-row corpus stats from the CACHED pre-explode scan (no postings
    // shuffle, no second tokenize pass — r14)
    val dls = dlsCacheSlot.cached(docLengths(docs, idCol, textCol))
    // the postings relation feeds TWO consumers (the df aggregate and the
    // scoring join); without a persist each branch re-runs the explode +
    // groupBy shuffle from scratch. Spill-safe MEMORY_AND_DISK;
    // session cache-clear (or the caller) reclaims it. The repeated-batch
    // path avoids the issue structurally — buildIndex materializes the
    // postings once as a bucketed table.
    scoreQTerms(postCacheSlot.cached(postingsOf(dls)), statsOf(dls),
      qtermsOf(queries, qIdCol, qTextCol), k, k1, b, prebuiltDf = None,
      championListSize)
  }

  /** One-row `(n_docs, avgdl)` corpus statistics of a [[docLengths]] scan. */
  private def statsOf(dls: DataFrame): DataFrame =
    dls.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))

  /** `(query_id, term)` — the distinct query-term relation scoring joins
    * against. */
  private def qtermsOf(queries: DataFrame, qIdCol: String,
      qTextCol: String): DataFrame =
    queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(Dedup.tokens(col(qTextCol)))).as("term"))

  /** The [[qtermsOf]] rows of a batch on the driver, or None when there are
    * more than `cap` of them. A LocalRelation batch already lives on the
    * driver: it is tokenized as a Project over at most cap+1 queries,
    * read off the relation ([[Regime.driverRows]] folds it: no optimizer
    * run, no job, no planned query) and exploded
    * HERE — every non-null text has at least one term, so more than `cap`
    * queries is over the cap without counting further. Any other batch
    * keeps the Spark-side explode behind the [[Regime.rowsUpTo]] probe, so
    * a huge or corpus-shaped batch never lands whole on the driver. */
  private[graft] def qtermRowsCapped(queries: DataFrame, qIdCol: String,
      qTextCol: String, cap: Int): Option[Array[Row]] = {
    val folded = queries.select(col(qIdCol).as("query_id"),
        array_distinct(Dedup.tokens(col(qTextCol))).as("terms"))
      .limit(cap + 1)
    Regime.driverRows(folded) match {
      case None => Regime.rowsUpTo(qtermsOf(queries, qIdCol, qTextCol), cap)
      case Some(qs) =>
        val rows = qs.iterator.filterNot(_.isNullAt(1)).flatMap { r =>
          val id = r.get(0)
          r.getSeq[String](1).iterator.map(t => Row(id, t))
        }.take(cap + 1).toArray
        if (qs.length > cap || rows.length > cap) None else Some(rows)
    }
  }

  /** Lucene-style idf as a Spark expression over `(n_docs, df)` — the
    * relational path's formula. */
  private[graft] val idfCol: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** [[idfCol]] evaluated on the driver, bit-identical: Spark's `log` is
    * `StrictMath.log`, and the double arithmetic keeps the same
    * association. */
  private[graft] def idf(nDocs: Double, df: Double): Double =
    StrictMath.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** Dense query index over `(query_id, term)` rows, in first-appearance
    * order: the batch's query ids and, per query, its terms that `keep`
    * accepts (WAND tasks and local top-k rows carry the int, not the
    * caller's id type). */
  private def denseQueries(qtRows: Array[Row], keep: String => Boolean)
      : (IndexedSeq[Any], Array[Array[String]]) = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    val terms = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[String]]
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    qtRows.foreach { r =>
      val i = idx.getOrElseUpdate(r.get(0), {
        ids += r.get(0)
        terms += scala.collection.mutable.ArrayBuffer.empty[String]
        ids.length - 1
      })
      if (keep(r.getString(1))) terms(i) += r.getString(1)
    }
    (ids.toIndexedSeq, terms.map(_.toArray).toArray)
  }

  /** `(query_id, doc_id, rank, score)` from fixed-point scores: the
    * output expression every Spark-side route ends in ([[driverTopK]]
    * divides the same way in Scala). */
  private def withScore(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("doc_id"), col("rank"),
      (col("score_fixed") / lit(1e6)).as("score"))

  /** The relational Σ qf·df scoring join over a `(doc_id, term, tf, dl)`
    * postings relation and a one-row `(n_docs, avgdl)` stats relation.
    * `prebuiltDf`: the `(term, df)` relation persisted with the index
    * ([[buildIndex]]); when absent, df is aggregated from the postings,
    * but only after a broadcast semi-join against the query vocabulary —
    * aggregating first would shuffle the full term dictionary per batch. */
  private def scoreQTerms(post: DataFrame, stats: DataFrame,
      qterms: DataFrame, k: Int, k1: Double, b: Double,
      prebuiltDf: Option[DataFrame],
      championListSize: Option[Int] = None): DataFrame = {
    // per-term document frequency, restricted to the query vocabulary
    // BEFORE the aggregate: the semi-join keeps only postings of query
    // terms (a broadcast filter — the corpus side never moves), so the
    // groupBy aggregates ≤ |matching postings| rows instead of the whole
    // term dictionary. df values for surviving terms are identical.
    val df = prebuiltDf.getOrElse {
      val qvocab = qterms.select("term").distinct()
      termDf(post.join(broadcast(qvocab), Seq("term"), "left_semi"))
    }
    // per-TERM idf/avgdl relation (≤ query vocabulary rows). The scoring
    // contribution s = f(idf(term), tf, dl, avgdl) does not depend on the
    // query at all, so it is computed once per matching POSTING below and
    // the query fan-out joins in afterwards — Σ_t qf(t)·df(t) joined rows
    // carry a precomputed long instead of each paying the double chain +
    // BigDecimal HALF_UP round (r14; identical doubles per posting ⇒
    // identical fixed-point longs ⇒ identical results, oracle-verified)
    val tdf = df.crossJoin(broadcast(stats))
      .withColumn("idf", idfCol)
      .select("term", "idf", "avgdl")

    // Champion lists (Manning/Raghavan/Schütze §7.1.3): the scoring
    // join's candidate space is Σ_t qf(t)·df(t) — a stopword term shared
    // by q queries and n docs alone contributes q·n rows, which is what
    // overflowed local disk at the 100× pass (9.4k queries × 500k docs).
    // Truncating each term's postings to its top-N by the QUERY-
    // INDEPENDENT impact tf/(tf + k1·(1−b+b·dl/avgdl)) — monotone in the
    // term's BM25 contribution, since idf is constant per term — bounds
    // the candidate space to Σ_t qf(t)·min(df(t), N). df/idf stay the
    // EXACT corpus statistics (truncation applies to scoring candidates
    // only). The rank-filter window compiles to a Partial
    // WindowGroupLimit, so each map partition forwards ≤ N rows per term
    // before the exchange. None = exact scoring (the gate path).
    val postScoring = championListSize.fold(post) { n =>
      val qvocab = qterms.select("term").distinct()
      post.join(broadcast(qvocab), Seq("term"), "left_semi")
        .crossJoin(broadcast(stats.select("avgdl")))
        .withColumn("imp",
          col("tf") / (col("tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        // fixed-point BEFORE ranking (same rationale as score_fixed):
        // an ulp difference in avgdl between engines must not flip a
        // champion near-tie — 1e-9 resolution absorbs it, ties resolve
        // by doc_id identically everywhere
        .withColumn("imp_fixed", round(col("imp") * lit(1e9), 0).cast("long"))
        .withColumn("crank", row_number().over(Window.partitionBy("term")
          .orderBy(col("imp_fixed").desc, col("doc_id"))))
        .filter(col("crank") <= n)
        .select("doc_id", "term", "tf", "dl")
    }

    // s_fixed per posting FIRST (tiny broadcast term join), query fan-out
    // joins the slim (query_id, term) relation after — see tdf note above
    val scored = postScoring.join(broadcast(tdf), "term")
      .withColumn("s",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      // fixed-point: associative long sum (see object scaladoc)
      .withColumn("s_fixed", round(col("s") * lit(1e6), 0).cast("long"))
      .join(broadcast(qterms), Seq("term"))

    val agg = scored.groupBy("query_id", "doc_id")
      .agg(sum("s_fixed").as("score_fixed"))

    withScore(agg
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score_fixed").desc, col("doc_id"))))
      .filter(col("rank") <= k))
  }

  // ------------------------------------------------------- block-max WAND

  /** The per-posting fixed-point BM25 contribution, replicating the
    * relational path's expression tree OPERATION FOR OPERATION so the
    * WAND path's longs are bit-identical to the exact path's:
    * Catalyst evaluates
    * `idf * (tf * (k1+1)) / (tf + k1 * ((1-b) + (b * dl) / avgdl))`
    * in IEEE double with exactly this association, then
    * `round(s * 1e6, 0)` via `java.math.BigDecimal.valueOf` HALF_UP
    * (RoundBase's DoubleType codegen), then a double→long cast. */
  private[operators] def contribFixed(idf: Double, tf: Long, dl: Int,
      avgdl: Double, k1: Double, b: Double): Long = {
    val s = idf * (tf.toDouble * (k1 + 1.0)) /
      (tf.toDouble + k1 * ((1.0 - b) + (b * dl.toDouble) / avgdl))
    java.math.BigDecimal.valueOf(s * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** EXACT BM25 top-k via block-max WAND ([[WandKernel]]) — same results
    * as [[searchTopK]] (bit-identical scores, same (score desc, doc_id
    * asc) tie-break), but the candidate space never materializes: the
    * exact relational path's scoring join emits Σ_t qf(t)·df(t) rows
    * before aggregating (the 100× pass's one local spill overflow), while
    * WAND scores document-at-a-time with threshold pruning and keeps at
    * most k rows per query. The corpus is tokenized once per call (cached:
    * stats and postings share the scan, r14) and searched by the one WAND
    * core ([[wand]]), which picks the driver or the distributed route.
    * doc ids must be castable to long (the DAAT cursors and the
    * tie-break order compare longs). */
  def searchTopKWand(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      blockSize: Int = 64): DataFrame = {
    val dls = dlsCacheSlot.cached(docLengths(docs, idCol, textCol))
    wand(postCacheSlot.cached(postingsOf(dls)), statsOf(dls), prebuiltDf = None,
      snapshot = None, queries, qIdCol, qTextCol, k, k1, b, blockSize,
      driverWandMaxPostings)
  }

  /** `(term, df)` document frequencies of a postings relation. */
  private def termDf(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

  /** The one WAND search under [[searchTopKWand]] and
    * [[searchFromIndexWand]]: postings `(doc_id, term, tf, dl)`, the
    * one-row `(n_docs, avgdl)` stats, the persisted `(term, df)` relation
    * when there is one (else df is aggregated over the vocabulary's
    * postings), the persisted index's snapshot slot when there is one
    * ([[IndexSnapshot]]), and a query batch. Every choice is made on
    * exact counts, never on a Catalyst estimate:
    *   1. the batch's `(query, term)` rows land on the driver
    *      ([[qtermRowsCapped]]); their vocabulary becomes an `isin`
    *      literal on the postings and df scans, which over a
    *      [[buildIndex]] layout unlocks bucket pruning and parquet
    *      pushdown;
    *   2. above [[serveBatchCap]] rows the batch is CHUNKED query-disjoint
    *      and each chunk re-enters here — WAND is per-query independent
    *      and df/idf are per-term corpus statistics, so the union is
    *      exact. The 100× pass caught the original fallback
    *      re-materializing the relational Σ qf·df candidates and
    *      overflowing local disk (r12). Only a single query wider than
    *      the cap, which cannot chunk, takes the relational join;
    *   3. when the index's snapshot is held (which needs
    *      [[Regime.enabled]]), the batch is scored from it
    *      ([[driverTopK]]) with no Spark job, whatever its Σ df. Otherwise
    *      the driver route is taken with [[Regime.enabled]] and Σ df
    *      (exactly the number of postings the batch touches) ≤
    *      `driverMaxPostings`: a small batch is bound by per-job cost, not
    *      data;
    *   4. otherwise the vocabulary's df rows and the stats row land in ONE
    *      union collect, and idf is computed on the driver ([[idf]],
    *      bit-identical to [[idfCol]]);
    *   5. a driver-route batch then loads the index's snapshot when it
    *      fits ([[IndexSnapshot.load]]) and is scored from it, or else
    *      WAND runs over its terms' collected postings ([[wandOnDriver]]);
    *      either way the result is one pinned LocalRelation
    *      ([[Shim.localRelationDf]]) that no optimizer pass sweeps. Any
    *      other batch takes distributed WAND ([[wandDistributed]]): one
    *      doc-keyed shuffle, ≤ P·nq·k forwarded rows. */
  private def wand(post: DataFrame, stats: DataFrame, prebuiltDf: Option[DataFrame],
      snapshot: Option[IndexSnapshot],
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double, b: Double, blockSize: Int,
      driverMaxPostings: Long, depth: Int = 0): DataFrame =
    qtermRowsCapped(queries, qIdCol, qTextCol, serveBatchCap) match {
      case None =>
        val qt = qtermsOf(queries, qIdCol, qTextCol)
        val nQueries = queries.select(col(qIdCol)).distinct()
          .limit(serveBatchCap + 1).count()
        if (nQueries <= 1) scoreQTerms(post, stats, qt, k, k1, b, prebuiltDf)
        else {
          // fan-out bounded per level (a 1000-chunk flat union nests the
          // plan past analyzer stack depth); a still-over-cap chunk
          // re-chunks on re-entry, so coverage is unchanged at log depth.
          // Each level hashes with its own seed: re-splitting a chunk by
          // the hash that formed it would keep every query in one
          // sub-chunk, and recurse until the stack overflows
          val nChunks = math.min(32L, math.max(2L,
            (qt.count() + serveBatchCap - 1) / serveBatchCap)).toInt
          (0 until nChunks).map { i =>
            wand(post, stats, prebuiltDf, snapshot,
              queries.filter(pmod(hash(col(qIdCol), lit(depth)), lit(nChunks)) === i),
              qIdCol, qTextCol, k, k1, b, blockSize, driverMaxPostings, depth + 1)
          }.reduce(_ unionByName _)
        }
      case Some(qtRows) =>
        val terms = qtRows.map(_.getString(1)).distinct
        val qidField = queries.select(col(qIdCol)).schema.head
        snapshot.flatMap(_.held) match {
          case Some(s) => driverTopK(queries.sparkSession, s, qtRows, qidField, k)
          case None =>
            val termIn = col("term").isin(terms.toSeq: _*)
            val dfRel = prebuiltDf.fold(termDf(post.filter(termIn)))(_.filter(termIn))
            // the stats row carries a null term; a union, not a broadcast
            // crossJoin (a broadcast is a job of its own)
            val (statRow, dfRows) = dfRel
              .select(col("term"), col("df"), lit(null).cast("double").as("avgdl"))
              .union(stats.select(lit(null).cast("string"), col("n_docs"), col("avgdl")))
              .collect().partition(_.isNullAt(0))
            val nDocs = statRow.head.getDouble(1)
            // null over an empty corpus, where no posting ever reads it
            val avgdl = statRow.head.getAs[Double](2)
            val idfs = dfRows.map(r => r.getString(0) -> idf(nDocs, r.getDouble(1))).toMap
            // the postings of the terms with a df row: LocalWand reads each
            // posting's idf
            val hit = post.filter(col("term").isin(idfs.keys.toSeq: _*))
            if (Regime.enabled && dfRows.map(_.getDouble(1)).sum <= driverMaxPostings)
              snapshot.flatMap(_.load(nDocs, avgdl)) match {
                case Some(s) => driverTopK(queries.sparkSession, s, qtRows, qidField, k)
                case None => wandOnDriver(hit, qtRows, qidField, idfs, avgdl, k, k1, b, blockSize)
              }
            else
              wandDistributed(hit, qtRows, qidField, idfs, avgdl, k, k1, b, blockSize)
        }
    }

  /** Distributed WAND over `hit`, the postings of the terms in `idfs`:
    * they are shuffled ONCE, keyed by doc, each partition scores every
    * query of `qtRows` over its docs ([[LocalWand]]) and forwards ≤ k rows
    * per query — ≤ P·nq·k rows to the global top-k. */
  private def wandDistributed(hit: DataFrame, qtRows: Array[Row],
      qidField: org.apache.spark.sql.types.StructField,
      idfs: Map[String, Double], avgdl: Double,
      k: Int, k1: Double, b: Double, blockSize: Int): DataFrame = {
    val spark = hit.sparkSession
    import org.apache.spark.sql.types._
    import spark.implicits._
    // only terms that exist in the corpus can contribute; the original
    // ids join back at the end from a broadcast-small map
    val (qids, qTerms) = denseQueries(qtRows, idfs.contains)
    val bcTerms = spark.sparkContext.broadcast(qTerms)
    val bcIdf = spark.sparkContext.broadcast(idfs)
    val bsz = blockSize

    // query-vocab postings, ONE shuffle: co-locate each doc's postings,
    // term-major doc-ascending within the partition so the per-term
    // arrays build in a single streaming pass. The co-location width is
    // floored adaptively (Par.co, r15): the DAAT kernel is CPU-dense per
    // posting, and with the r14 session-level AQE floor gone a kilobyte-
    // scale postings exchange would coalesce to 1 task and serialize the
    // whole document-at-a-time scan on one core (measured r15: wand
    // 0.64 → 1.30 s under default AQE coalescing); at real scale the
    // estimate clears cores × maxPartitionBytes and the plain keyed
    // repartition plans unchanged.
    val slim = Par.co(postingCols(hit), col("doc_id"), minBytesPerTask = 16 * 1024L)
      .sortWithinPartitions("term", "doc_id")

    val local = slim.mapPartitions { it =>
      val scorer = new LocalWand(it, bcIdf.value, avgdl, k1, b, bsz)
      val qts = bcTerms.value
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      var qi = 0
      while (qi < qts.length) {
        val q = qi // stable capture for the emit closure
        scorer.query(qts(qi), k, (docId, sc) => out += ((q, docId, sc)))
        qi += 1
      }
      out.iterator
    }.toDF("qidx", "doc_id", "score_fixed")

    val qidRows: java.util.List[Row] = java.util.Arrays.asList(
      qids.zipWithIndex.map { case (v, i) => Row(i, v) }: _*)
    val qidDf = spark.createDataFrame(qidRows, StructType(Seq(
      StructField("qidx", IntegerType, nullable = false),
      StructField("query_id", qidField.dataType, qidField.nullable))))

    withScore(local
      .withColumn("rank", row_number().over(Window.partitionBy("qidx")
        .orderBy(col("score_fixed").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .join(broadcast(qidDf), "qidx"))
  }

  /** WAND on the driver: one job collects `hit`, the postings of the terms
    * in `idfs` (bucket-pruned by the `isin` literal over a persisted
    * index), and one [[LocalWand]] over all of them scores the batch
    * ([[driverTopK]]). */
  private def wandOnDriver(hit: DataFrame, qtRows: Array[Row],
      qidField: org.apache.spark.sql.types.StructField,
      idfs: Map[String, Double], avgdl: Double,
      k: Int, k1: Double, b: Double, blockSize: Int): DataFrame = {
    val postRows = if (idfs.isEmpty) Array.empty[Row] else postingCols(hit).collect()
    sortPostings(postRows)
    driverTopK(hit.sparkSession,
      new LocalWand(postRows.iterator, idfs, avgdl, k1, b, blockSize), qtRows, qidField, k)
  }

  /** [[postingCols]] rows in the (term, doc_id) order [[LocalWand]] reads */
  private def sortPostings(rows: Array[Row]): Unit =
    java.util.Arrays.sort(rows, (x: Row, y: Row) => {
      val c = x.getString(0).compareTo(y.getString(0))
      if (c != 0) c else java.lang.Long.compare(x.getLong(1), y.getLong(1))
    })

  /** Every query of `qtRows` scored by `scorer` in parallel on driver
    * cores, the top-k in one pinned LocalRelation
    * ([[Shim.localRelationDf]]) with [[wandDistributed]]' output schema:
    * `score` is `score_fixed / 1e6` as [[withScore]] divides it (IEEE
    * division, the same bits) and nullable as Spark's division is. Ranks
    * follow the (score desc, doc_id asc) order. */
  private def driverTopK(spark: org.apache.spark.sql.SparkSession, scorer: LocalWand,
      qtRows: Array[Row], qidField: org.apache.spark.sql.types.StructField,
      k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val (qids, qTerms) = denseQueries(qtRows, scorer.df(_) > 0)
    val top = new Array[Array[(Long, Long)]](qids.length)
    java.util.stream.IntStream.range(0, qids.length).parallel().forEach { qi =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      scorer.query(qTerms(qi), k, (docId, sc) => out += ((docId, sc)))
      top(qi) = out.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)).toArray
    }
    val toQid = CatalystTypeConverters.createToCatalystConverter(qidField.dataType)
    val rows = for {
      qi <- qids.indices
      ((docId, sc), r) <- top(qi).iterator.zipWithIndex
    } yield InternalRow(toQid(qids(qi)), docId, r + 1, sc.toDouble / 1e6)
    Shim.localRelationDf(spark, StructType(Seq(
      StructField("query_id", qidField.dataType, qidField.nullable),
      StructField("doc_id", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("score", DoubleType, nullable = true))), rows)
  }

  /** The WAND scorer over one slice of the postings, shared by the
    * distributed route (one per doc partition) and the driver route (one
    * over every posting of the batch, or of a whole index:
    * [[IndexSnapshot]]). `sorted` holds [[postingCols]] rows ordered by
    * (term, doc_id); each term's list builds in one streaming pass with
    * [[contribFixed]]. Read-only once built, so [[query]] may run
    * on many threads at once. */
  private final class LocalWand(sorted: Iterator[Row],
      idfs: scala.collection.Map[String, Double],
      avgdl: Double, k1: Double, b: Double, blockSize: Int) {
    private val lists = new java.util.HashMap[String, WandPostings]()
    locally {
      var curTerm: String = null
      var curIdf = 0.0
      val idsB = scala.collection.mutable.ArrayBuilder.make[Long]
      val cbB = scala.collection.mutable.ArrayBuilder.make[Long]
      def flush(): Unit = if (curTerm != null) {
        lists.put(curTerm, WandPostings(idsB.result(), cbB.result(), blockSize))
        idsB.clear(); cbB.clear()
      }
      sorted.foreach { r =>
        val t = r.getString(0)
        if (t != curTerm) { flush(); curTerm = t; curIdf = idfs(t) }
        idsB += r.getLong(1)
        cbB += contribFixed(curIdf, r.getLong(2), r.getInt(3), avgdl, k1, b)
      }
      flush()
    }

    /** the postings of `term` in this slice: its df over a whole index */
    def df(term: String): Int = {
      val pl = lists.get(term)
      if (pl == null) 0 else pl.ids.length
    }

    /** Heap bytes of the lists: the ids, contributions and block maxima,
      * plus ~160 B per term for the term string, the list object, the
      * three array headers and the map entry. */
    def bytes: Long = {
      var total = 0L
      lists.forEach { (t, pl) =>
        total += 16L * pl.ids.length + 8L * pl.blockMax.length + 2L * t.length + 160
      }
      total
    }

    /** The top-k of one query over this slice, each hit to
      * `emit(doc_id, score_fixed)` in arbitrary order; terms without
      * postings here are skipped. */
    def query(terms: Array[String], k: Int, emit: (Long, Long) => Unit): Unit = {
      var present = 0
      val pls = new Array[WandPostings](terms.length)
      var ti = 0
      while (ti < terms.length) {
        val pl = lists.get(terms(ti))
        if (pl != null) { pls(present) = pl; present += 1 }
        ti += 1
      }
      if (present > 0) WandKernel.run(java.util.Arrays.copyOf(pls, present), k, emit)
    }
  }

  /** `(term, doc_id, tf, dl)` postings with the types the WAND kernel
    * reads (long doc ids and tf, int dl). */
  private def postingCols(post: DataFrame): DataFrame =
    post.select(col("term"),
      col("doc_id").cast("long").as("doc_id"),
      col("tf").cast("long").as("tf"),
      col("dl").cast("int").as("dl"))

  /** Persist the inverted index for repeated serving: postings bucketed
    * by `term` (the scoring join's key — co-located, exchange-free
    * reads), `(term, df)` document frequencies, and the one-row
    * `(n_docs, avgdl)` stats — each as a managed table under
    * `<table>_postings` / `_df` / `_stats`. The postings shuffle and the
    * full-dictionary df aggregate are paid ONCE here; serving
    * ([[searchFromIndex]]) touches only the postings and df rows of the
    * batch's query terms. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    val post = postings(docs, idCol, textCol)
    graft.sources.Bucketing.writeBucketed(post, s"${table}_postings",
      "term", buckets)
    // df from the already-bucketed postings: the groupBy("term") plans
    // exchange-free on the bucketed layout
    graft.sources.Bucketing.dropWithLocation(spark, s"${table}_df")
    termDf(spark.table(s"${table}_postings"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_df")
    graft.sources.Bucketing.dropWithLocation(spark, s"${table}_stats")
    statsOf(docLengths(docs, idCol, textCol))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_stats")
  }

  /** [[buildIndex]] exactly once per index name: a no-op when the three
    * index tables already sit in the catalog. The caller owns keying the
    * name by input CONTENT identity, not just a path — managed tables
    * outlive the JVM, so a name that doesn't change when the corpus at
    * the same path changes would silently serve a stale index (the gate
    * folds a file-count/bytes/mtime fingerprint of the corpus into the
    * name for exactly this reason). This is the fixture path that lets a
    * repeated-serving bench time serving without re-paying the one-time
    * build. */
  def ensureIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 32): Unit = {
    val cat = docs.sparkSession.catalog
    val ready = Seq("_postings", "_df", "_stats")
      .forall(sfx => cat.tableExists(table + sfx))
    if (!ready) buildIndex(docs, idCol, textCol, table, buckets)
  }

  /** Serve a query batch from a [[buildIndex]] layout with the relational
    * scoring join — the persisted-index twin of the [[searchTopK]]
    * reference: no corpus tokenization, no postings aggregate — df and
    * stats are persisted lookups, and the postings/df scans carry an
    * `isin` filter on the batch's query-term vocabulary. The vocabulary is
    * collected on the driver first ([[qtermRowsCapped]]: no job over a
    * LocalRelation batch, a capped `(query, term)` collect over any other —
    * the query side is small by definition), because a literal In on the
    * bucket column is what unlocks bucket pruning + parquet pushdown:
    * without it the scoring join would stream every postings bucket per
    * batch, which at corpus scale reads the whole index to answer a
    * 5-term query. */
  def searchFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // The query batch is the broadcast-small side by contract, and it
    // feeds three places (vocab filter, df lookup, scoring join) — so land
    // it on the driver once and serve every consumer from a LocalRelation:
    // no repeated derivation jobs, broadcasts without a collect stage, and
    // the vocabulary literal in hand. The collect is CAPPED (same
    // discipline as Regime.rowsUpTo): a caller that hands a huge
    // "batch" must not OOM the driver or build a million-entry In literal
    // — above the cap, fall back to the streaming plan (distributed qterms
    // broadcast into the joins; every postings bucket is read, which is
    // the correct trade when the query vocabulary is no longer small).
    val qt = qtermsOf(queries, qIdCol, qTextCol)
    qtermRowsCapped(queries, qIdCol, qTextCol, serveBatchCap) match {
      case None =>
        scoreQTerms(
          spark.table(s"${table}_postings"),
          spark.table(s"${table}_stats"), qt, k, k1, b,
          prebuiltDf = Some(spark.table(s"${table}_df")))
      case Some(rows) =>
        val qterms = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), qt.schema)
        val termIn = col("term").isin(rows.map(_.getString(1)).distinct.toSeq: _*)
        scoreQTerms(
          spark.table(s"${table}_postings").filter(termIn),
          spark.table(s"${table}_stats"), qterms, k, k1, b,
          prebuiltDf = Some(spark.table(s"${table}_df").filter(termIn)))
    }
  }

  /** [[searchFromIndex]] with the scoring pass routed through the one
    * WAND core ([[wand]]) instead of the relational Σ qf·df join —
    * results are CONTRACTED bit-identical (same fixed-point
    * contributions, same (score desc, id) tie-break; the
    * `text_bm25_serve` gate pins that equivalence). df and stats are
    * persisted lookups, never a corpus aggregate, and the postings/df
    * scans read only the buckets of the batch's vocabulary.
    *
    * Repeated serving: the first batch that takes the driver route
    * loads the whole index into one driver snapshot ([[IndexSnapshot]]:
    * each term's WAND list, built once), held in [[LocalScan]]'s
    * store-keyed memo under [[LocalScan.bytesCap]]. Every later batch is
    * scored from it with no Spark job, a batch over
    * [[driverWandMaxPostings]] too; a [[buildIndex]] under the same name
    * is a new key. An index over the cap and any call under
    * `graft.local.enabled=false` route as without it: the df/stats union
    * collect, then the driver's postings collect or distributed WAND.
    *
    * Measured at the 10× serve shape (50k docs, 944 doc-prefix queries,
    * the removed dev/ServeWandAb, equality-asserted then interleaved min-of-2): WAND
    * 3.6 s vs relational 290 s — the relational arm's Σ qf·df join
    * materializes ~1.9B candidate rows on that corpus (every query shares
    * the 40-word head vocabulary), exactly the blow-up WAND's θ-pruned
    * DAAT never builds. */
  def searchFromIndexWand(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchFromIndexWandUpTo(spark, table, queries, qIdCol, qTextCol, k, k1, b,
      driverWandMaxPostings)

  /** [[searchFromIndexWand]] with the driver route's Σ df limit and the
    * WAND block size as arguments: dev/WandRouteAb forces the collect
    * route with Long.MaxValue to place the crossover the limit encodes. */
  private[graft] def searchFromIndexWandUpTo(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double, b: Double, driverMaxPostings: Long,
      blockSize: Int = 64): DataFrame = {
    val post = spark.table(s"${table}_postings")
    val df = spark.table(s"${table}_df")
    val stats = spark.table(s"${table}_stats")
    wand(post, stats, Some(df), Some(new IndexSnapshot(post, df, stats, k1, b, blockSize)),
      queries, qIdCol, qTextCol, k, k1, b, blockSize, driverMaxPostings)
  }

  /** The driver snapshot of a [[buildIndex]] layout (its `post`, `df` and
    * `stats` tables) for (k1, b, blockSize): one [[LocalWand]] over every
    * posting, each term's list scored with its idf from n_docs and its df
    * (the length of its list, which is what `_df` counts). It is keyed in
    * [[LocalScan.memoizedBy]] by the three tables' files (their catalog
    * location and part-file names, listed on the driver with no job) and
    * the scoring parameters, so contributions are never shared across
    * (k1, b) and a rebuilt index is a new key. */
  private final class IndexSnapshot(post: DataFrame, df: DataFrame, stats: DataFrame,
      k1: Double, b: Double, blockSize: Int) {
    private lazy val key = Seq(post, df, stats).map(filesOf(_).sorted.mkString(","))
      .mkString("bm25 ", ";", s";k1=$k1;b=$b;blockSize=$blockSize")

    /** the files `Dataset.inputFiles` lists, read off the analyzed plan
      * (a catalog table's relation), so keying a snapshot runs no
      * optimizer */
    private def filesOf(table: DataFrame): Array[String] =
      table.queryExecution.analyzed.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.inputFiles.toSeq
      }.flatten.distinct.toArray

    /** the snapshot when it is held and fits the cap; runs nothing */
    def held: Option[LocalWand] = LocalScan.heldBy[LocalWand](key)

    /** The snapshot, loaded by one collect (one job) of every posting
      * when the index fits: a document holds at most `dl` distinct terms,
      * so the index holds at most n_docs·avgdl postings (from the stats
      * row), and each lands as a Row (~[[postingRowBytes]]) before its
      * list is built; that bound must fit [[LocalScan.bytesCap]]. The
      * snapshot's own bytes ([[LocalWand.bytes]], ~16 B per posting) are
      * re-checked once it is built. */
    def load(nDocs: Double, avgdl: Double): Option[LocalWand] =
      LocalScan.memoizedBy[LocalWand](key)(_.bytes) {
        if (nDocs * avgdl * postingRowBytes > LocalScan.bytesCap) None
        else {
          val rows = postingCols(post).collect()
          sortPostings(rows)
          // df: the length of each term's run
          val idfs = scala.collection.mutable.HashMap.empty[String, Double]
          var i = 0
          while (i < rows.length) {
            val t = rows(i).getString(0)
            var j = i + 1
            while (j < rows.length && rows(j).getString(0) == t) j += 1
            idfs(t) = idf(nDocs, (j - i).toDouble)
            i = j
          }
          Some(new LocalWand(rows.iterator, idfs, avgdl, k1, b, blockSize))
        }
      }
  }

  /** Driver heap of one collected [[postingCols]] row, estimated: the row
    * and its value array (~56 B), the term string (~48 B for a short
    * term), a boxed doc id (16 B) and the array slot; tf and dl are
    * mostly small enough to box into the JVM's shared instances. */
  private val postingRowBytes = 144L

  /** max Σ df (postings touched) of a batch the WAND core ([[wand]])
    * scores on the driver by collecting its terms' postings; above it the
    * batch takes distributed WAND. Those two routes meet between ~350k and
    * ~460k postings (dev/WandRouteAb over a persisted index, 4 cores; the
    * distributed route wins at ~930k), and every posting of such a batch
    * sits on the driver heap, so the limit is set below that. A batch over
    * a persisted index whose snapshot is held skips the limit: the
    * snapshot measured faster than distributed WAND at every Σ df up to
    * 929,848 (981 vs 1548 ms for the `text_bm25_serve` batch, 75 vs 760 ms
    * for 4 queries) and holds no per-batch postings.
    * `graft.local.enabled=false` sends every batch to the distributed
    * route. */
  val driverWandMaxPostings: Long = 200_000L

  /** max (query_id, term) rows a search lands on the driver before
    * chunking the batch (WAND) or routing it through the streaming plan
    * (the relational [[searchFromIndex]]) instead */
  def serveBatchCap: Int =
    sys.props.get("graft.bm25.serveBatchCap").map(_.toInt).getOrElse(200_000)
}
