package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, IntegerLiteral, InterpretedMutableProjection, Predicate, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LocalLimit, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.StructType

/** Where an operator's data lives: collected on the driver (the FAISS
  * client-memory regime — every index in process RAM, modular.py:336-387)
  * or left distributed. Every "collect on the driver or stay distributed"
  * choice is decided from the three inputs here:
  *
  *  - the plan shape ([[onDriver]]): rows already on the driver cost no
  *    job to read. "On the driver" means the analyzed plan folds to a
  *    LocalRelation the way the optimizer's ConvertToLocalRelation folds
  *    it, so reading the rows runs no optimizer, no physical planning and
  *    no job;
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

  /** True when the rows of `df` are already on the driver ([[local]]):
    * `collect()` returns them without running a Spark job
    * (`LocalTableScanExec.executeCollect`). The test is exact, not a size
    * estimate, and evaluates no row. */
  def onDriver(df: DataFrame): Boolean = local(df).isDefined

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
    * are read from the relation itself, at most cap + 1 of them, with no
    * job and no physical plan (the planning and execution events of a
    * `collect` cost more than converting a few hundred rows). */
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
    local(df).map { case (schema, rows) => Shim.externalRows(schema, rows.take(take).toSeq) }

  /** The schema and (lazily evaluated) rows of `df` when its rows are on
    * the driver, the one read behind [[onDriver]], [[driverRows]] and
    * [[rowsUpTo]]. The analyzed plan, which Dataset analysis has already
    * built, is folded ([[fold]]); any other shape, or a plan that reads
    * cached data (the optimizer would read the InMemoryRelation that
    * `CacheManager` swaps in, not the rows), falls back to matching the
    * optimized plan, so every route decision is the optimizer's. */
  private def local(df: DataFrame): Option[(StructType, Iterator[InternalRow])] = {
    val qe = df.queryExecution
    val cached = !df.sparkSession.sharedState.cacheManager.isEmpty &&
      qe.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    (if (cached) None else fold(qe.analyzed))
      .map { case (out, rows) => (DataTypeUtils.fromAttributes(out), rows) }
      .orElse(qe.optimizedPlan match {
        case l: LocalRelation => Some((l.schema, l.data.iterator))
        case _ => None
      })
  }

  /** True when the optimizer's fold would evaluate `e` as it stands: no
    * unevaluable expression, and no RuntimeReplaceable one (the
    * optimizer replaces those before it folds) */
  private def evaluable(e: Expression): Boolean =
    !ConvertToLocalRelation.hasUnevaluableExpr(e) && !e.exists(_.isInstanceOf[RuntimeReplaceable])

  /** `plan`'s output and rows when it is a LocalRelation under `Project`,
    * `Filter`, `Limit` and `SubqueryAlias` nodes, folded bottom-up as
    * ConvertToLocalRelation folds them: [[evaluable]] projections and
    * predicates, evaluated interpreted and
    * initialized for partition 0 (so a seeded `rand` draws what the
    * optimizer's fold draws), and integer-literal limits. Rows are
    * evaluated only as the iterator is read. */
  private def fold(plan: LogicalPlan): Option[(Seq[Attribute], Iterator[InternalRow])] =
    plan match {
      case l: LocalRelation => Some((l.output, l.data.iterator))
      case SubqueryAlias(_, child) => fold(child)
      case Project(list, child) if list.forall(evaluable) =>
        fold(child).map { case (in, rows) =>
          val p = new InterpretedMutableProjection(list, in)
          p.initialize(0)
          (list.map(_.toAttribute), rows.map(r => p(r).copy()))
        }
      case Filter(cond, child) if evaluable(cond) =>
        fold(child).map { case (in, rows) =>
          val p = Predicate.create(cond, in)
          p.initialize(0)
          (in, rows.filter(p.eval))
        }
      case Limit(IntegerLiteral(n), child) =>
        fold(child).map { case (in, rows) => (in, rows.take(n)) }
      case LocalLimit(IntegerLiteral(n), child) =>
        fold(child).map { case (in, rows) => (in, rows.take(n)) }
      case _ => None
    }
}
