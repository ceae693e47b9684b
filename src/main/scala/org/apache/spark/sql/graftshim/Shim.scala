package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` Column↔Expression conversions, the
  * standard technique for Spark extension libraries that define custom
  * Catalyst expressions (same access pattern spark's own `functions._`
  * uses internally). No Spark internals are modified.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** LocalRelation over pre-built InternalRows — skips the external-Row
    * CatalystTypeConverters pass that `createDataFrame(List[Row], schema)`
    * pays eagerly per row (measurable at per-batch search-result scale:
    * ~3× on result-relation creation). Rows must match `schema` exactly;
    * LocalTableScanExec projects them to UnsafeRow lazily at execution. */
  // Per-schema caches for the per-batch result-relation path: building an
  // ExpressionEncoder (serializer/deserializer expression trees) cost
  // ~3-4 ms per call at search-batch frequency, for the same handful of
  // schemas every time. Attributes are NOT cached: sharing exprIds
  // between two distinct same-schema relations makes an explicit-Column
  // join between them (df1(\"qid\") === df2(\"qid\")) mis-resolve — both
  // references carry one exprId, DeduplicateRelations re-ids only one
  // side, and the condition silently degenerates. toAttributes is
  // microseconds; the encoder/converter (the actual millisecond costs)
  // are schema-keyed and safe to share.
  private val encoderCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.types.StructType,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      org.apache.spark.sql.Row]]()
  private val converterCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.types.StructType, Any => Any]()

  def localRelationDf(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    localRelationDf(spark, schema, rows, null)

  /** As above, with an optional caller-supplied InternalRow→Row builder
    * for the overridden root `collect()`: a field-wise builder for a
    * known fixed schema skips the generic Catalyst→Scala converter's
    * per-field dispatch (the remaining third of the per-batch
    * result-relation tax). Must produce the same Row
    * values/order the generic converter would. */
  def localRelationDf(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      fastRow: org.apache.spark.sql.catalyst.InternalRow =>
        org.apache.spark.sql.Row)
      : org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.withActive {
      val attrs =
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
      val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        attrs, rows)
      // A bare LocalRelation of materialized rows is already resolved AND
      // in optimal form — every analyzer and optimizer rule is a no-op on
      // it, but the full rule sweeps still cost ~6 ms (analysis, at
      // Dataset init) + ~5 ms (optimize) per relation, which at
      // per-search-batch frequency is the dominant framework tax of
      // driver-local serving. Pin all three phases to the relation
      // itself (it holds no Command nodes, so commandExecuted ≡ analyzed).
      // A DERIVED Dataset composes the logical plan and is analyzed as
      // usual; an engine route that reads its rows folds the analyzed
      // plan (graft.operators.Regime) instead of optimizing it, and only
      // a caller's own collect of it plans the full pipeline.
      val qe = new org.apache.spark.sql.execution.QueryExecution(session, rel) {
        override def analyzed
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = rel
        override def commandExecuted
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = rel
        override def optimizedPlan
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = rel
      }
      val enc = encoderCache.computeIfAbsent(schema,
        s => org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(s))
      // collect() on the ROOT relation returns the rows we already hold,
      // through a schema-cached Catalyst→Scala converter: the default
      // path resolves and compiles a fresh row deserializer PER DATASET
      // (~6 ms at search-batch frequency — the last third of the
      // per-batch tax). Identical Row values and
      // order (LocalTableScanExec.executeCollect preserves insertion
      // order). Any DERIVED Dataset — select/filter/join — is a plain
      // Dataset again and collects through the normal machinery.
      new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](
        qe, enc) {
        override def collect(): Array[org.apache.spark.sql.Row] = {
          if (fastRow != null) {
            // indexed parallel convert above the dispatch break-even:
            // order is preserved by construction (slot i → out(i)), and
            // at search-batch scale the sequential map was ~0.2 ms of
            // the per-batch serving tax (retrbench serve's point calls)
            val n = rows.length
            if (n >= 2048 && rows.isInstanceOf[scala.collection.immutable.ArraySeq[_]]) {
              val out = new Array[org.apache.spark.sql.Row](n)
              java.util.stream.IntStream.range(0, n).parallel()
                .forEach(i => out(i) = fastRow(rows(i)))
              return out
            }
            return rows.iterator.map(fastRow).toArray
          }
          externalRows(this.schema, rows)
        }
      }
    }
  }

  /** `rows` as the external Rows `collect()` returns for `schema`, through
    * the schema-cached Catalyst→Scala converter */
  def externalRows(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : Array[org.apache.spark.sql.Row] = {
    val conv = converterCache.computeIfAbsent(schema, s =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(s))
    rows.iterator.map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row]).toArray
  }
}
