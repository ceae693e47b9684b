package retrbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{Bm25, BruteForceIndexer, IndexArtifact, KnnJoin, Hybrid => Rrf}
import graft.sources.{ArtifactStore, RandomDataset}

/** Hybrid lookups over a generated Zipf corpus: the BM25 block-max WAND
  * arm over a persisted inverted index, the exact dense kNN join over
  * persisted embeddings, and reciprocal-rank fusion. Its cost is
  * distributed plans, shuffles and per-job overhead; it never touches the
  * driver-local scan path. */
object HybridArm {
  val NDocs = 10000
  val Vocab = 8192
  val ZipfS = 1.0
  val MinLen = 30
  val MaxLen = 70
  val Dim = 64
  val Clusters = 100
  val Sigma = 1.0
  val QueryNoise = 4.0
  val PrefixTokens = 4
  val K = 20
  val FusedK = 10
  val PoolQ = 256

  final class Query(val qid: Long, val doc: Long, val text: String, val vector: Array[Float])

  final class State(val table: String, val dense: IndexArtifact,
      val pool: IndexedSeq[Query], val gt: Array[Array[Long]])

  /** What one lookup returned, for the checks and the exact replay. */
  final class Answer(val lex: Seq[(Long, Int, Long)], val problems: Seq[String],
      val hits: Int)

  private val textSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qtext", StringType, nullable = false)))

  private def queryText(ctx: Ctx, qs: Seq[Query]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(qs.map(q => Row(q.qid, q.text)): _*), textSchema)

  private def ranked(ctx: Ctx, rows: Seq[(Long, Int, Long)]): DataFrame = {
    import ctx.spark.implicits._
    rows.toDF("qid", "rank", "id")
  }

  /** one hybrid call: both arms collected, then fused */
  def lookup(ctx: Ctx, st: State, qs: IndexedSeq[Query]): Answer = {
    val spark = ctx.spark
    val text = queryText(ctx, qs)
    val vecs = Frames.queries(spark, qs.map(q => q.qid -> q.vector))
    val lex = ctx.tracer("bm25.wand") {
      Frames.collectRanked(Bm25.searchFromIndexWand(spark, st.table, text, "qid", "qtext", K),
        "query_id", "rank", "doc_id")
    }
    val dense = ctx.tracer("knnjoin.dense") {
      Frames.collectRanked(KnnJoin.knnJoin(vecs, st.dense.data, K, "cosine"))
    }
    val fused = ctx.tracer("rrf.fuse") {
      Frames.collectRanked(Rrf.rrfFuse(Seq(ranked(ctx, lex), ranked(ctx, dense)), FusedK))
    }
    val qids = qs.map(_.qid)
    val inCorpus = (i: Long) => i >= 0 && i < NDocs
    val (lexQ, denseQ, fusedQ) = (Check.byQuery(lex), Check.byQuery(dense), Check.byQuery(fused))
    val recall = qs.map(q => Exact.recall(denseQ.getOrElse(q.qid, Array.empty[Long]),
      st.gt(q.qid.toInt))).sum / qs.length
    val problems =
      Check.topK(lexQ, qids, K, inCorpus).map("bm25 arm: " + _) ++
        Check.topK(denseQ, qids, K, inCorpus).map("dense arm: " + _) ++
        Check.topK(fusedQ, qids, FusedK, inCorpus).map("fused: " + _) ++
        Check.recallFloor(recall, ctx.floor("hybrid.dense")).map("dense arm: " + _)
    new Answer(lex, problems,
      qs.count(q => fusedQ.getOrElse(q.qid, Array.empty[Long]).contains(q.doc)))
  }

  /** The WAND arm is contracted bit-identical to the relational BM25 path:
    * replay a lookup's queries through `searchFromIndex` and compare. */
  def exactReplay(ctx: Ctx, st: State, qs: Seq[Query], lex: Seq[(Long, Int, Long)]): Seq[String] = {
    val exact = ctx.tracer("check.bm25_exact") {
      Frames.collectRanked(Bm25.searchFromIndex(ctx.spark, st.table, queryText(ctx, qs),
        "qid", "qtext", K), "query_id", "rank", "doc_id")
    }
    if (exact.sorted == lex.sorted) Nil else Seq("WAND arm differs from searchFromIndex")
  }

  /** one set-up repetition's state and timings */
  final class Setup(val state: State, val genMs: Double, val gtMs: Double,
      val buildMs: Double, val saveMs: Double, val bytes: Long)

  /** Generates the corpus, its embeddings and the query pool, computes the
    * dense ground truth, builds the BM25 index and persists the embeddings. */
  def setup(ctx: Ctx, rep: Int, nDocs: Int): Setup = {
    val spark = ctx.spark
    val ((docs, docsDf, embDf, emb, pool), genMs) = ctx.timeMs(ctx.tracer("sources.gen") {
      val docs = corpus(ctx.seedFor("hybrid.text"), nDocs)
      val docsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType, nullable = false))))
      val embDf = RandomDataset.clusteredVectors(spark, nDocs, Dim, Clusters, Sigma,
        seed = ctx.seedFor("hybrid.vectors"), centerSeed = ctx.seedFor("hybrid.centers"))
      val emb = Frames.collectVectors(embDf).map(_._2).toIndexedSeq
      val rnd = new SplittableRandom(ctx.seedFor("hybrid.queries"))
      val sources = Iterator.continually(rnd.nextInt(nDocs)).distinct.take(PoolQ).toIndexedSeq
      val pool = sources.zipWithIndex.map { case (d, q) =>
        val v = emb(d).map(x => (x + QueryNoise * rnd.nextGaussian()).toFloat)
        new Query(q.toLong, d.toLong, docs(d).split(" ").take(PrefixTokens).mkString(" "), v)
      }
      (docs, docsDf, embDf, emb, pool)
    })
    if (rep == 0) {
      docs.foreach(ctx.digest.text)
      emb.foreach(ctx.digest.floats)
      pool.foreach { q => ctx.digest.long(q.doc); ctx.digest.text(q.text); ctx.digest.floats(q.vector) }
    }
    val (gt, gtMs) = ctx.timeMs(ctx.tracer("sources.gt") {
      val table = new Exact.Table(Array.tabulate(nDocs)(_.toLong), emb.flatten.toArray, Dim)
      Exact.topK(table, _ => true, pool.map(_.vector).toArray, K, cosine = true)
    })
    val table = s"retrbench_bm25_${rep + 1}"
    val (_, bm25Ms) = ctx.timeMs(ctx.tracer("bm25.build_index") {
      Bm25.buildIndex(docsDf, "doc_id", "text", table, buckets = 8)
    })
    val art = BruteForceIndexer().build(embDf)
    val dir = ctx.workDir.resolve(s"hybrid-dense-${rep + 1}").toString
    val (_, saveMs) = ctx.timeMs(ctx.tracer("store.save.dense") {
      ArtifactStore.save(art, dir, "cosine", Dim, nDocs, ctx.seedFor("hybrid.vectors").toString, "")
    })
    val dense = ctx.tracer("store.load.dense") {
      ArtifactStore.load(spark, dir, expectKind = Some(art.kind))._1
    }
    new Setup(new State(table, dense, pool, gt), genMs, gtMs, bm25Ms, saveMs,
      ArtifactStore.dirSizeBytes(dir))
  }

  /** n documents of MinLen..MaxLen tokens drawn from a Zipf(ZipfS) law
    * over a Vocab-term dictionary */
  private def corpus(seed: Long, n: Int): IndexedSeq[String] = {
    val cdf = new Array[Double](Vocab)
    var acc = 0.0
    (0 until Vocab).foreach { r => acc += 1.0 / math.pow(r + 1.0, ZipfS); cdf(r) = acc }
    val rnd = new SplittableRandom(seed)
    (0 until n).map { _ =>
      val len = MinLen + rnd.nextInt(MaxLen - MinLen + 1)
      (0 until len).map { _ =>
        val u = rnd.nextDouble() * acc
        val r = java.util.Arrays.binarySearch(cdf, u)
        "w" + (if (r >= 0) r else -r - 1)
      }.mkString(" ")
    }
  }
}
