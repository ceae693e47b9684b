package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

import graft.operators.Regime

/** Runs one search on its default route and on the distributed plan
  * forced by the `graft.local.enabled=false` kill switch, and checks that
  * the two are the same relation bit for bit. */
object RouteCheck {

  def distributed[T](body: => T): T = {
    val old = sys.props.get("graft.local.enabled")
    sys.props("graft.local.enabled") = "false"
    try body finally old match {
      case Some(v) => sys.props("graft.local.enabled") = v
      case None => sys.props -= "graft.local.enabled"
    }
  }

  /** (qid, rank, id, raw bits of `score`), sorted by (qid, rank) */
  def bits(df: DataFrame, score: String): Seq[(Long, Int, Long, Long)] =
    df.select("qid", "rank", "id", score).collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2))

  /** Asserts equal schemas (names, types, nullability) and equal
    * (qid, rank, id, `score` bits), and that the default run took the
    * driver route iff `local`; returns the rows. */
  def bothRoutes(local: Boolean, score: String)(search: => DataFrame)
      : Seq[(Long, Int, Long, Long)] = {
    val got = search
    val want = distributed(search)
    assert(Regime.onDriver(got) == local,
      s"expected the ${if (local) "driver" else "distributed"} route:\n" +
        got.queryExecution.optimizedPlan)
    assert(!Regime.onDriver(want))
    assert(got.schema == want.schema)
    val rows = bits(got, score)
    assert(rows == bits(want, score))
    rows
  }
}
