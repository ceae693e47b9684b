package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

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

  /** An append's `(id, vector)` rows as read once per delta relation
    * ([[appended]]). They ride on the relation's own plan node, the way a
    * [[Link]] does, so every table derived through the delta (an LSH
    * index's bucket maps and its vector table) shares one read. */
  private val AppendedTag = TreeNodeTag[Option[(Array[Long], Array[Array[Float]])]](
    "graft.lineage.appended")

  /** The delta's rows, read from the driver with no job
    * ([[Regime.driverRows]]); an append's are read once per delta
    * relation ([[AppendedTag]]) and only the kind's `encode` runs per
    * call. None when the delta is not [[onDriver]], or when an appended
    * row has a null id or vector, a vector of another width, or an id
    * that repeats within the batch: the child's plan then runs as before
    * (and fails where the distributed append fails). A null deleted id
    * matches no row, as in the anti-join. */
  def rowsOf(delta: Delta): Option[Rows] = delta match {
    case Append(rows, dim, encode) =>
      val node = rows.queryExecution.logical
      val read = node.getTagValue(AppendedTag).getOrElse {
        val r = appended(rows)
        node.setTagValue(AppendedTag, r)
        r
      }
      read.filter(_._2.forall(_.length == dim)).map { case (ids, vecs) =>
        // the encoders are pure: encode on every driver core
        val encoded = new Array[(Int, Long, AnyRef)](ids.length)
        java.util.stream.IntStream.range(0, ids.length).parallel().forEach { i =>
          val (cid, payload) = encode(vecs(i))
          encoded(i) = (cid, ids(i), payload)
        }
        val rs = encoded.sortBy(t => (t._1, t._2))
        new Rows(rs.map(_._2), rs.map(_._1), rs.map(_._3), Array.emptyLongArray)
      }
    case Delete(ids) =>
      Regime.driverRows(ids).map { rs =>
        new Rows(Array.emptyLongArray, Array.emptyIntArray, Array.empty[AnyRef],
          rs.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.distinct)
      }
  }

  /** `rows`' (id, vector) pairs, ids cast to long as the append's plan
    * casts them. Integral ids are read off `rows` itself
    * ([[Regime.driverRows]] folds its plan), so a projection in it (the
    * append's dim check) is evaluated once, with no cast projection on top. */
  private def appended(rows: DataFrame): Option[(Array[Long], Array[Array[Float]])] = {
    val read = rows.schema("id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => rows
      case _ => rows.select(col("id").cast("long").as("id"), col("vector"))
    }
    val (idAt, vecAt) = (read.schema.fieldIndex("id"), read.schema.fieldIndex("vector"))
    Regime.driverRows(read)
      .filter(_.forall(r => !r.isNullAt(idAt) && !r.isNullAt(vecAt)))
      .map(rs => (rs.map(_.getAs[Number](idAt).longValue), rs.map(_.getSeq[Float](vecAt).toArray)))
      .filter { case (ids, _) => ids.distinct.length == ids.length }
  }
}
