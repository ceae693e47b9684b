package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftshim.Shim

/** Where an operator's data lives: collected on the driver (the FAISS
  * client-memory regime — every index in process RAM, modular.py:336-387)
  * or left distributed. Every "collect on the driver or stay distributed"
  * choice is decided from the three inputs here:
  *
  *  - the plan shape ([[onDriver]]): rows already on the driver cost no
  *    job to read;
  *  - the Catalyst size estimate ([[smallEstimate]], the one place the
  *    engine reads it): cheap, but only an estimate — an array column is
  *    sized by its element default, so a vector relation can read ~100×
  *    small;
  *  - an exact count or byte size, probed before the collect or checked
  *    on its result ([[collectUnder]], [[rowsUpTo]]).
  *
  * An estimate alone never admits a collect: under the margin it saves
  * the probe job, and the exact cap is still checked on what it collected.
  * The kill switch [[enabled]] turns every driver route off, so one
  * setting replays each operator's distributed plan (the route specs and
  * the forced Verify pass compare the two bit for bit). */
object Regime {

  /** The kill switch: -Dgraft.local.enabled=false / GRAFT_LOCAL_SCAN=0
    * forces every route onto its distributed plan. */
  def enabled: Boolean =
    sys.props.get("graft.local.enabled")
      .orElse(sys.env.get("GRAFT_LOCAL_SCAN"))
      .forall(v => v != "false" && v != "0")

  /** True when the optimized plan of `df` is a LocalRelation: its rows are
    * already on the driver, and `collect()` returns them without running
    * a Spark job (`LocalTableScanExec.executeCollect`). A Project or
    * Filter over a LocalRelation folds into one (ConvertToLocalRelation).
    * The test is exact, not a size estimate. */
  def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The Catalyst size estimate of `df` when it is below
    * cores × maxPartitionBytes (the scan would split into fewer tasks than
    * cores), else None. Below it a probe may collect bounded rows in one
    * job; above it callers learn sizes without pulling data, so at real
    * scale nothing extra lands on the driver. */
  def smallEstimate(df: DataFrame): Option[BigInt] = {
    val spark = df.sparkSession
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(spark.sessionState.conf.filesMaxPartitionBytes) *
        spark.sparkContext.defaultParallelism) Some(est)
    else None
  }

  /** `collect` of `data` when it fits `cap` bytes, else None. When the
    * estimate clears an 8× margin under the cap the collect runs at once,
    * in one job; otherwise `exactBytes` (a count or width probe; None when
    * it cannot tell, or for a site that pays no probe job, such as
    * k-center) must fit first, so at real scale nothing is collected to
    * learn it is big. Either way `bytesOf` re-checks the exact cap on
    * the result: an estimate that reads too small costs one bounded
    * collect and then the distributed route, never an over-cap table.
    * A site whose collect is GBs at its cap (the global HNSW build) runs
    * its exact probe first instead of calling this. */
  def collectUnder[R](data: DataFrame, cap: Long)(exactBytes: => Option[Long])(
      collect: => Option[R])(bytesOf: R => Long): Option[R] =
    if (!smallEstimate(data).exists(_ * 8 <= cap) && !exactBytes.exists(_ <= cap))
      None
    else collect.filter(bytesOf(_) <= cap)

  /** The rows of `df` when it holds at most `cap`, else None: one
    * `limit(cap + 1)` collect, so an over-cap relation never lands whole
    * on the driver. Rows that are already on the driver ([[onDriver]])
    * are read from the relation itself, with no job and no physical plan
    * (the planning and execution events of a `collect` cost more than
    * converting a few hundred rows). */
  def rowsUpTo(df: DataFrame, cap: Long): Option[Array[Row]] = {
    val take = math.min(cap + 1, Int.MaxValue.toLong).toInt
    val rows = localRows(df, take).getOrElse(
      if (cap >= Int.MaxValue) df.collect() else df.limit(take).collect())
    if (rows.length > cap) None else Some(rows)
  }

  /** The rows of `df` when they are already on the driver ([[onDriver]]),
    * read from the relation itself with no job; None otherwise, without
    * running anything. */
  def driverRows(df: DataFrame): Option[Array[Row]] = localRows(df, Int.MaxValue)

  private def localRows(df: DataFrame, take: Int): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation => Some(Shim.externalRows(local.schema, local.data.take(take)))
      case _ => None
    }
}
