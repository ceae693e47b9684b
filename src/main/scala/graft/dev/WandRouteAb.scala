package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bm25

/** A/B/C of [[Bm25.searchFromIndexWand]]'s under-cap routes — WAND on
  * the driver served from the index's snapshot, WAND on the driver over
  * the batch's collected postings, and distributed WAND — across Σ df
  * (the postings a batch touches), to place the crossover
  * [[Bm25.driverWandMaxPostings]] encodes. The collect route is forced by
  * an unbounded Σ df limit ([[Bm25.searchFromIndexWandUpTo]]) and
  * `graft.local.bytesCap` 0, so the snapshot is not served; the
  * distributed route by `graft.local.enabled=false`, since a held
  * snapshot serves a batch over any limit. The corpus is `dir`'s documents replicated `f`
  * times under fresh doc ids for each `f` in `scales`, so Σ df grows with
  * `f` while the batches stay fixed: the `text_bm25_serve` batch
  * (200-char prefixes of every 53rd doc) and its first `small` queries
  * (the hybrid lookup's size). Per (scale, batch) it checks the three
  * routes return identical rows, then times them interleaved and prints
  * the median of `reps` per route. The snapshot loads on its route's
  * first, untimed call.
  *
  * Usage: runMain graft.dev.WandRouteAb [dir=/root/testdata/sf0.1]
  *   [reps=7] [scales=1,2,4,8] [small=4]
  */
object WandRouteAb {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(7)
    val scales = args.lift(2).getOrElse("1,2,4,8").split(",").map(_.toInt)
    val small = args.lift(3).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val span = docs.agg(max("doc_id")).head().getLong(0) + 1
    val gateBatch = docs.filter(col("doc_id") % 53 === 0)
      .select(col("doc_id").as("qid"), substring(col("text"), 1, 200).as("qtext"))
    // a LocalRelation, like the hybrid lookup's batch
    val smallBatch = spark.createDataFrame(java.util.Arrays.asList(
      gateBatch.orderBy("qid").limit(small).collect(): _*), gateBatch.schema)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    scales.foreach { f =>
      val table = s"wand_route_ab_x$f"
      val corpus = (0 until f).map(i => docs.withColumn("doc_id", col("doc_id") + i * span))
        .reduce(_ unionByName _)
      Bm25.ensureIndex(corpus, "doc_id", "text", table, buckets = 8)
      def serve(queries: DataFrame, route: String): Array[org.apache.spark.sql.Row] = {
        def run() = Bm25.searchFromIndexWandUpTo(spark, table, queries, "qid", "qtext", k = 5,
          k1 = 1.2, b = 0.75, driverMaxPostings = Long.MaxValue)
          .select("query_id", "doc_id", "rank", "score").collect()
        def withProp(key: String, value: String) = {
          val old = sys.props.get(key)
          sys.props(key) = value
          try run() finally old match {
            case Some(v) => sys.props(key) = v
            case None => sys.props -= key
          }
        }
        route match {
          case "collect" => withProp("graft.local.bytesCap", "0")
          case "distributed" => withProp("graft.local.enabled", "false")
          case _ => run()
        }
      }
      val routes = Seq("snapshot", "collect", "distributed")
      Seq("gate" -> gateBatch, "small" -> smallBatch).foreach { case (name, queries) =>
        val vocab = queries.select(explode(array_distinct(
          split(trim(lower(col("qtext"))), "\\s+"))).as("term")).distinct()
        val nq = queries.count()
        val sumDf = spark.table(s"${table}_df").join(vocab, "term")
          .agg(sum("df")).head().getDouble(0).toLong
        val rows = routes.map(r => serve(queries, r).map(_.toString).sorted)
        require(rows.forall(_.sameElements(rows.head)), s"routes diverged at scale $f, $name batch")
        // each rep runs the routes in a rotated order
        val times = (1 to reps).map { r =>
          val order = routes.drop(r % routes.length) ++ routes.take(r % routes.length)
          order.map { route =>
            val t0 = System.nanoTime(); serve(queries, route)
            route -> (System.nanoTime() - t0) / 1e6
          }.toMap
        }
        println(f"[wandroute] scale=$f%2d $name%5s queries=$nq%4d sumDf=$sumDf%9d " +
          routes.map(r => f"$r=${median(times.map(_(r)))}%8.1f ms").mkString(" "))
      }
    }
    spark.stop()
  }
}
