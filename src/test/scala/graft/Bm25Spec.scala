package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25

/** Hand-checked BM25 behavior on a tiny corpus + self-retrieval on the
  * testdata documents table. */
class Bm25Spec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox"),
    (2L, "the lazy dog"),
    (3L, "quick quick quick fox"),
    (4L, "dog eats dog food")).toDF("id", "text")

  test("postings carry tf and dl") {
    val p = Bm25.postings(corpus, "id", "text")
      .as[(Long, String, Int, Long)].collect()
      .map { case (d, t, dl, tf) => ((d, t), (dl, tf)) }.toMap
    assert(p((3L, "quick")) == ((4, 3))) // tf 3, dl 4
    assert(p((1L, "the")) == ((4, 1)))
    assert(p((4L, "dog")) == ((4, 2)))
    // one row per (doc, term): 4+3+2+3 distinct terms
    assert(p.size == 12)
  }

  test("ensureIndex: builds once, second call is a catalog no-op") {
    try {
      Bm25.ensureIndex(corpus, "id", "text", "spec_bm25ix", buckets = 2)
      val built = spark.table("spec_bm25ix_postings").count()
      assert(built == 12L)
      // rebuild with a DIFFERENT corpus under the same name: ensureIndex
      // must NOT rebuild (same name ⟹ same corpus is the caller contract)
      Bm25.ensureIndex(corpus.limit(1), "id", "text", "spec_bm25ix", buckets = 2)
      assert(spark.table("spec_bm25ix_postings").count() == built,
        "second ensureIndex must be a no-op")
      // a missing piece forces the rebuild
      spark.sql("DROP TABLE spec_bm25ix_df")
      Bm25.ensureIndex(corpus.limit(1), "id", "text", "spec_bm25ix", buckets = 2)
      assert(spark.table("spec_bm25ix_postings").count() == 4L,
        "incomplete index trio must rebuild")
    } finally
      Seq("spec_bm25ix_postings", "spec_bm25ix_df", "spec_bm25ix_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rare terms outrank common ones; ranks are (score desc, id) ordered") {
    val queries = Seq((10L, "quick fox"), (20L, "dog")).toDF("qid", "qtext")
    val hits = Bm25.searchTopK(corpus, queries, "id", "text", "qid", "qtext",
        k = 4)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // "quick fox": docs 1 and 3 contain both terms; 3 has tf(quick)=3
    // and the same length → strictly higher score
    assert(hits(10L) == Seq(3L, 1L))
    // "dog": doc 4 has tf=2 vs doc 2's tf=1 at equal dl
    assert(hits(20L) == Seq(4L, 2L))
  }

  test("documents table: ranks contiguous per query, output partitioning-invariant") {
    // (the 40-word synthetic vocabulary makes every doc lexically similar,
    // so "self doc ranks first" is NOT an invariant here — value-level
    // correctness is the tiny-corpus test above + the DuckDB gate oracle)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val queries = docs.filter($"doc_id" % 23 === 0)
      .selectExpr("doc_id as qid", "text as qtext")
    def run(d: org.apache.spark.sql.DataFrame) =
      Bm25.searchTopK(d, queries, "doc_id", "text", "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    val a = run(docs)
    assert(a.nonEmpty)
    val byQ = a.groupBy(_._1)
    assert(byQ.size == queries.count())
    byQ.values.foreach { rows =>
      assert(rows.length <= 5)
      assert(rows.map(_._3).toSeq == (1 to rows.length)) // contiguous ranks
    }
    // same rows regardless of input partitioning (fixed-point long sums
    // are associative — no float-order sensitivity)
    val b = run(docs.repartition(7, $"source"))
    assert(a.toSeq == b.toSeq)
  }

  test("champion lists: N ≥ corpus ≡ exact; small N bounds candidates, never inflates scores") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val queries = docs.filter($"doc_id" % 23 === 0)
      .selectExpr("doc_id as qid", "text as qtext")
    def run(champ: Option[Int]) =
      Bm25.searchTopK(docs, queries, "doc_id", "text", "qid", "qtext", k = 5,
        championListSize = champ)
    // a champion list that holds every posting changes nothing
    val exact = run(None).select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    val full = run(Some(docs.count().toInt))
      .select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    assert(exact.toSeq == full.toSeq)
    // small N: every query still answers, ranks contiguous, and a
    // truncated posting can only REMOVE a term contribution — no
    // (query, doc) score may exceed its exact score
    val champ = run(Some(8)).select("query_id", "doc_id", "score")
      .as[(Long, Long, Double)].collect()
    assert(champ.map(_._1).distinct.length == queries.count())
    val exactScores = run(None).select("query_id", "doc_id", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, d, s) => (q, d) -> s }.toMap
    champ.foreach { case (q, d, s) =>
      exactScores.get((q, d)).foreach(es => assert(s <= es + 1e-9,
        s"champion score $s exceeds exact $es for ($q,$d)"))
    }
  }
}
