package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.col

/** How [[IndexAppend]] made an index relation from its parent: the parent
  * relation plus one delta, either appended rows with the kind's own
  * per-row encoder or deleted ids. On a memo miss [[LocalScan]] reads it
  * to build the child's driver table from the parent's, the way FAISS
  * `add`/`remove_ids` change an index that is already in memory, instead
  * of collecting the child's union or anti-join plan again.
  *
  * A link is dropped once the child's own table is memoized, so a long
  * mutation chain never pins its ancestors or their tables. */
private[operators] object Lineage {

  sealed trait Delta
  /** `rows`: (id, vector) rows of width `dim`; `encode` maps a vector to
    * (centroid id, payload) exactly as the kind's distributed append does
    * (payload: code bytes, the vector itself, or the LSH keys per table) */
  final case class Append(rows: DataFrame, dim: Int,
      encode: Array[Float] => (Int, AnyRef)) extends Delta
  final case class Delete(ids: DataFrame) extends Delta

  final case class Link(parent: DataFrame, delta: Delta)

  /** A link rides on the child's own logical plan node, so it lives
    * exactly as long as the child: a weak map would hold the link (and
    * the appended rows it names) after the child died, until its next
    * access. */
  private val LinkTag = TreeNodeTag[Link]("graft.lineage")

  /** records that `child` is `parent` changed by `delta`; returns `child` */
  def record(child: DataFrame, parent: DataFrame, delta: Delta): DataFrame = {
    child.queryExecution.logical.setTagValue(LinkTag, Link(parent, delta))
    child
  }

  def of(df: DataFrame): Option[Link] = df.queryExecution.logical.getTagValue(LinkTag)

  def forget(df: DataFrame): Unit = df.queryExecution.logical.unsetTagValue(LinkTag)

  /** A delta on the driver. Added rows are sorted by (centroid id, id);
    * `deleted` is sorted. */
  final class Rows(val ids: Array[Long], val cids: Array[Int],
      val payloads: Array[AnyRef], val deleted: Array[Long]) {
    private val idsSorted = ids.sorted
    def deletes(id: Long): Boolean = java.util.Arrays.binarySearch(deleted, id) >= 0
    def adds(id: Long): Boolean = java.util.Arrays.binarySearch(idsSorted, id) >= 0
  }

  /** True when the delta's rows are already on the driver
    * ([[Regime.onDriver]]), as a client's arriving rows or id list are.
    * Only such a delta is applied on the driver: reading any other one
    * would run a job and pull rows that the child's own plan reads anyway,
    * so that child keeps its collect. */
  def onDriver(delta: Delta): Boolean = delta match {
    case Append(rows, _, _) => Regime.onDriver(rows)
    case Delete(ids) => Regime.onDriver(ids)
  }

  /** The delta's rows, read from the driver with no job
    * ([[Regime.driverRows]]). None when the delta is not [[onDriver]], or
    * when an appended row has a null id or vector, a vector of another
    * width, or an id that repeats within the batch: the child's plan then
    * runs as before (and fails where the distributed append fails). A
    * null deleted id matches no row, as in the anti-join. */
  def rowsOf(delta: Delta): Option[Rows] = delta match {
    case Append(rows, dim, encode) =>
      Regime.driverRows(rows.select(col("id").cast("long"), col("vector")))
        .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
          r.getSeq[Float](1).length == dim))
        .map { rs =>
          // the encoders are pure: encode on every driver core
          val encoded = new Array[(Int, Long, AnyRef)](rs.length)
          java.util.stream.IntStream.range(0, rs.length).parallel().forEach { i =>
            val (cid, payload) = encode(rs(i).getSeq[Float](1).toArray)
            encoded(i) = (cid, rs(i).getLong(0), payload)
          }
          encoded.sortBy(t => (t._1, t._2))
        }
        .filter(rs => rs.map(_._2).distinct.length == rs.length)
        .map(rs => new Rows(rs.map(_._2), rs.map(_._1), rs.map(_._3), Array.emptyLongArray))
    case Delete(ids) =>
      Regime.driverRows(ids).map { rs =>
        new Rows(Array.emptyLongArray, Array.emptyIntArray, Array.empty[AnyRef],
          rs.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.distinct)
      }
  }
}
