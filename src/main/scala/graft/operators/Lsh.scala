package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Locality-sensitive hashing index + bucket-probe search, re-expressed as
  * relational operators (reference: `src/algorithms/lsh.py`).
  *
  *  - build: per-table hash of every base vector → a bucket relation
  *    `(table, key, id)` — the index IS a DataFrame, partitionable and
  *    bucketable by `(table, key)` at cluster scale;
  *  - probe: hash queries the same way, then a plain **equi-join** on
  *    `(table, key)` (J3/J4) — Catalyst picks broadcast vs shuffled hash
  *    join; no custom physical operator needed;
  *  - vote: `groupBy(qid, id).count` over multi-table collisions (J5),
  *    ranked `(votes desc, id asc)` — deterministic tie-break for the
  *    reference's insertion-order `most_common` (SURVEY §7.4-6);
  *  - cap + exact rerank (J6/J7) via [[KnnJoin.rerank]];
  *  - empty-candidate fallback to brute force (lsh.py:266-269) as an
  *    anti-join + union.
  *
  * Hyperplanes/offsets are generated deterministically from the seed on
  * the driver (tiny: tables × hashSize × dim floats) and ship inside the
  * hash closure — the Spark analog of the reference's
  * `np.random.RandomState(seed)` hyperplane init (lsh.py:60-76).
  *
  * Two hash families, as in the reference:
  *  - sign-random-projection for cosine: key = packed sign bits of
  *    `v · plane_h` (lsh.py:78-80);
  *  - E2LSH for L2: `floor((p·v + b) / w)` per hash fn (lsh.py:82-84),
  *    the int tuple combined into one 64-bit key polynomially.
  */
final case class LshIndexer(
    numTables: Int,
    hashSize: Int,
    bucketWidth: Double,
    metric: String,
    seed: Long) extends Indexer {
  require(hashSize <= 62, "hashSize must fit in a long key")
  val kind = "lsh"

  def build(base: DataFrame): IndexArtifact = {
    val spark = base.sparkSession
    val dim = LshModel.dimOf(base, "vector")
    val model = LshModel(numTables, hashSize, dim, bucketWidth, metric, seed)
    val hashUdf = model.hashUdf(spark)
    val buckets = base
      .select(col("id").cast("long").as("id"), col("vector"))
      .withColumn("__keys", hashUdf(col("vector")))
      .select(col("id"), posexplode(col("__keys")).as(Seq("table", "key")))
    IndexArtifact(kind, buckets,
      meta = Map(
        "num_tables" -> numTables.toString, "hash_size" -> hashSize.toString,
        "bucket_width" -> bucketWidth.toString, "metric" -> metric,
        "seed" -> seed.toString, "dim" -> dim.toString),
      aux = Map("vectors" -> base))
  }
}

final case class LshSearcher(
    candidateMultiplier: Int,
    maxCandidates: Option[Int],
    fallbackToBruteforce: Boolean,
    metric: String) extends Searcher {

  // The fallback path caches the reranked relation (it is read twice:
  // missing-qid probe + result). A repeated-search loop (Experiment
  // repeats, BaselineCompare warm+3) would otherwise accumulate one dead
  // cache entry per call for the life of the session — so each search
  // unpersists the previous call's cache, bounding live entries to one.
  @transient private var prevCache: DataFrame = _

  private def trackCache(df: DataFrame): DataFrame = synchronized {
    if (prevCache != null) prevCache.unpersist()
    prevCache = df
    df
  }

  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    val spark = artifact.data.sparkSession
    val meta = artifact.meta
    val model = LshModel(
      meta("num_tables").toInt, meta("hash_size").toInt, meta("dim").toInt,
      meta("bucket_width").toDouble, meta("metric"), meta("seed").toLong)
    val hashUdf = model.hashUdf(spark)
    val cap = maxCandidates.getOrElse(candidateMultiplier * k)

    // driver-local probe→vote→cap→rerank→fallback below the LocalScan
    // caps (same heaps, same kernels — bit-identical; LocalScanSpec)
    LshLocal.trySearch(artifact, model, queries, k, cap, metric,
      fallbackToBruteforce) match {
      case Some(res) => return res
      case None => ()
    }

    val q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    val qKeys = q
      .withColumn("__keys", hashUdf(col("vector")))
      .select(col("qid"), posexplode(col("__keys")).as(Seq("table", "key")))

    // J3/J4 bucket-probe equi-join; broadcast the (small) query-key side
    val collisions = artifact.data.join(broadcast(qKeys), Seq("table", "key"))
    // J5 vote + J6 cap in one aggregate chain: top-cap by (votes desc,
    // id asc) via the bounded heap on dist = −votes — map-side partial
    // aggregation instead of a full per-qid window sort of all candidates
    val capped = collisions.groupBy(col("qid"), col("id")).count()
      .groupBy(col("qid"))
      .agg(TopKByDist.topK(col("id"), -col("count").cast("double"), cap).as("cand"))
      .select(col("qid"), explode(col("cand")).as("c"))
      .select(col("qid"), col("c.id").as("id"))
    // J7 exact rerank of the candidate pairs
    val reranked = KnnJoin.rerank(capped, q, artifact.aux("vectors"), k, metric)

    if (!fallbackToBruteforce) reranked
    else {
      // qids with zero candidates → route through the exact scan (J6
      // fallback). The reranked relation is tiny (≤ queries × k rows), so
      // cache it and CHECK for missing qids first: in the common case
      // (every query had candidates) the result plan then contains no
      // fallback scan at all, instead of paying an empty-broadcast pass
      // over the full base per search. `missing` itself needs no cache:
      // both its uses read the already-cached reranked relation.
      val cached = trackCache(reranked.cache())
      val missing = q.join(cached.select("qid").distinct(), Seq("qid"), "left_anti")
      if (missing.isEmpty) cached
      else cached.unionByName(
        KnnJoin.knnJoin(missing, artifact.aux("vectors"), k, metric))
    }
  }
}

/** Driver-local LSH batch search — the same adaptive switch as
  * [[LocalScan]]: below the bytes cap the bucket relation collects once
  * (memoized per artifact) into per-table hash maps and the whole
  * probe → vote → cap → exact-rerank → brute-force-fallback pipeline
  * runs on the driver cores with zero Spark jobs. Every stage replicates
  * the relational plan's arithmetic and ordering exactly: integer
  * collision votes, cap via the same [[BoundedTopK]] on (−votes, id),
  * rerank through [[LocalScan.vecDistAt]] and the fallback through
  * [[LocalScan]]'s exact flat scan ((dist, id) order) — results are
  * bit-identical (LocalScanSpec asserts against the forced-distributed
  * plan). */
private[graft] object LshLocal {
  import scala.collection.mutable.LongMap

  /** The per-table key → id-array maps of a collected bucket relation,
    * its sorted distinct ids, and its driver bytes ([[mapBytes]] plus the
    * ids), counted once here. Every index [[IndexAppend]] derives from it
    * holds it by reference. */
  final class Base(val tables: Array[LongMap[Array[Long]]], val ids: Array[Long]) {
    val bytes: Long = mapBytes(tables) + 16L + 8L * ids.length
  }

  /** The bucket maps of one index relation: a [[Base]], shared by
    * reference, plus the overlay that the appends and deletes since it
    * made — per table the added rows' keys → ids (`added`), the sorted
    * ids of those rows (`addedIds`) and the sorted deleted ids
    * (`deleted`). A deleted id is dead in the base; an added row that a
    * later delete removes leaves the overlay, so an id deleted and then
    * appended again is live once, with its new keys. */
  final class Buckets(val base: Base, val added: Array[LongMap[Array[Long]]],
      val addedIds: Array[Long], val deleted: Array[Long]) {
    /** a base id that a delete removed */
    def dead(id: Long): Boolean =
      deleted.length > 0 && java.util.Arrays.binarySearch(deleted, id) >= 0
    def live(id: Long): Boolean =
      java.util.Arrays.binarySearch(addedIds, id) >= 0 ||
        (java.util.Arrays.binarySearch(base.ids, id) >= 0 && !dead(id))
  }

  /** the bucket maps of an LSH bucket relation (table, key, id): collected
    * (when the 24 B per row lower bound fits [[LocalScan.bytesCap]]) or
    * derived from the parent relation's maps ([[LocalScan.derived]]), and
    * kept when their footprint ([[bucketBytes]]) fits the cap */
  private[graft] def buckets(data: DataFrame, numTables: Int): Option[Buckets] =
    LocalScan.memoized[Buckets](data, "lsh_buckets")(bucketBytes) {
      LocalScan.derived(data, "lsh_buckets")(buckets(_, numTables))(withDelta)
        .orElse(Regime.collectUnder(data, LocalScan.bytesCap)(Some(data.count() * 24)) {
          Some(data.select(col("id").cast("long"), col("table").cast("int"),
            col("key").cast("long")).collect())
        }(_.length.toLong * 24).map { rows =>
          val grouped = Array.fill(numTables)(
            new LongMap[scala.collection.mutable.ArrayBuffer[Long]]())
          rows.foreach { r =>
            val t = r.getInt(1)
            if (t >= 0 && t < numTables)
              grouped(t).getOrElseUpdate(r.getLong(2),
                new scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(0)
          }
          new Buckets(
            new Base(grouped.map(_.map { case (k, v) => (k, v.toArray) }),
              rows.map(_.getLong(0)).distinct.sorted),
            Array.fill(numTables)(new LongMap[Array[Long]]()),
            Array.emptyLongArray, Array.emptyLongArray)
        })
        .filter(bucketBytes(_) <= LocalScan.bytesCap)
    }

  /** driver bytes of key → id-array maps: per map its slot arrays (a long
    * key and a compressed reference per slot; a LongMap keeps at most half
    * of its slots full, and holds at least 16), and per key its id array
    * (a 16 B header and 8 B per id): ~60 B per id when the buckets hold
    * one id each, ~5 MB for 10,000 rows hashed into 8 tables. */
  private def mapBytes(tables: Array[LongMap[Array[Long]]]): Long =
    tables.iterator.filter(_.nonEmpty).map { t =>
      math.max(16L, java.lang.Long.highestOneBit(t.size * 2L) * 2) * 12 +
        t.valuesIterator.map(16L + 8L * _.length).sum
    }.sum

  /** driver bytes of `b`: its base's, counted once at collect, plus its
    * overlay's */
  private[graft] def bucketBytes(b: Buckets): Long =
    b.base.bytes + mapBytes(b.added) + 32L + 8L * (b.addedIds.length + b.deleted.length)

  /** `parent`'s maps changed by one delta, in time linear in the delta and
    * the overlay, never in the base: the base is held by reference; the
    * appended rows (`payloads`: per-table keys from [[LshModel.hashOne]])
    * join the overlay; the deleted ids join `deleted` and leave the
    * overlay. None when an appended id is already live. Votes are counted
    * per id and the cap heap is (−votes, id) ordered, so neither the order
    * within a bucket nor the split between base and overlay changes a
    * result. */
  private def withDelta(parent: Buckets, rows: Lineage.Rows): Option[Buckets] =
    if (rows.ids.exists(parent.live)) None
    else if (rows.deleted.nonEmpty) {
      val touched = parent.addedIds.exists(rows.deletes)
      Some(new Buckets(parent.base,
        if (!touched) parent.added
        else parent.added.map(_.flatMap { case (key, ids) =>
          val kept = ids.filterNot(rows.deletes)
          if (kept.isEmpty) None else Some(key -> kept)
        }),
        if (!touched) parent.addedIds else parent.addedIds.filterNot(rows.deletes),
        (parent.deleted ++ rows.deleted).distinct.sorted))
    } else Some(new Buckets(parent.base,
      parent.added.indices.toArray.map { t =>
        val out = parent.added(t).clone()
        rows.ids.indices.groupBy(i => rows.payloads(i).asInstanceOf[Array[Long]](t))
          .foreach { case (key, ids) =>
            out(key) = out.getOrElse(key, Array.emptyLongArray) ++ ids.map(rows.ids)
          }
        out
      },
      (parent.addedIds ++ rows.ids).sorted, parent.deleted))

  /** The batch search: per query (on every driver core) the vote over the
    * base buckets, skipping dead ids, and the overlay's, then the cap and
    * the exact rerank. The queries that share no bucket with any live row
    * take the fallback (lsh.py:266-269) together, as one batch of
    * [[LocalScan.exactHeaps]], the flat scan's exact query-blocked
    * kernel. */
  def trySearch(artifact: IndexArtifact, model: LshModel, queries: DataFrame,
      k: Int, cap: Int, metric: String, fallback: Boolean): Option[DataFrame] = {
    val mode = LocalScan.metricMode(metric) match {
      case Some(m) => m
      case None => return None
    }
    val vt = LocalScan.vecTable(artifact.aux("vectors"), ivf = false) match {
      case Some(v) => v
      case None => return None
    }
    val b = buckets(artifact.data, model.numTables) match {
      case Some(b) => b
      case None => return None
    }
    val (qids, qVecs) = LocalScan.queryVecs(queries) match {
      case Some(qv) => qv
      case None => return None
    }
    // None (the distributed plan) when an id repeats: the rerank join
    // scores every vector row of a candidate id, one offset per id cannot
    val idIndex = vt.idIndex match {
      case Some(m) => m
      case None => return None
    }

    val spark = artifact.data.sparkSession
    // null → no rows for this query (resultDf skips), or the fallback
    val out = new Array[BoundedTopK](qids.length)
    val unvoted = new Array[Boolean](qids.length)
    java.util.stream.IntStream.range(0, qids.length).parallel().forEach { qi =>
      val qv = qVecs(qi)
      val keys = model.hashOne(qv)
      // J5 vote: integer collision counts across tables
      val votes = new LongMap[Int]()
      var t = 0
      while (t < keys.length) {
        b.base.tables(t).get(keys(t)).foreach { ids =>
          var i = 0
          while (i < ids.length) {
            if (!b.dead(ids(i))) votes(ids(i)) = votes.getOrElse(ids(i), 0) + 1
            i += 1
          }
        }
        b.added(t).get(keys(t)).foreach(_.foreach(id => votes(id) = votes.getOrElse(id, 0) + 1))
        t += 1
      }
      if (votes.isEmpty) unvoted(qi) = true
      else {
        // J6 cap by (votes desc, id asc) — the same bounded heap on
        // dist = −votes the relational plan uses
        val capHeap = new BoundedTopK(cap)
        votes.foreach { case (id, c) => capHeap.insert(id, -c.toDouble) }
        // J7 exact rerank of the capped candidates
        val h = new BoundedTopK(k)
        var i = 0
        while (i < capHeap.size) {
          val id = capHeap.ids(i)
          // P7 parity: KnnJoin.rerank drops negative-id candidates
          // (padding convention) before reranking
          if (id >= 0)
            idIndex.get(id).foreach { r =>
              h.insert(id, LocalScan.vecDistAt(qv, vt.flat, r * vt.dim, vt.dim, mode))
            }
          i += 1
        }
        out(qi) = h
      }
    }
    // J6 fallback: an exact scan of the full table for each unvoted query
    val misses = qids.indices.filter(unvoted).toArray
    if (fallback && misses.nonEmpty)
      LocalScan.exactHeaps(vt, misses.map(qVecs), k, mode).zip(misses)
        .foreach { case (h, qi) => out(qi) = h }
    Some(LocalScan.resultDf(spark, qids, out))
  }
}

/** Deterministic hash-family parameters + the hashing closure. */
final case class LshModel(
    numTables: Int, hashSize: Int, dim: Int,
    bucketWidth: Double, metric: String, seed: Long) extends Serializable {

  /** planes(table)(h) = gaussian dim-vector; offsets(table)(h) ∈ [0, w) */
  @transient private lazy val planesAndOffsets = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(numTables, hashSize, dim)(rnd.nextGaussian().toFloat)
    val offsets = Array.fill(numTables, hashSize)(rnd.nextDouble() * bucketWidth)
    (planes, offsets)
  }

  /** per-table keys of one vector — the single hashing code path shared
    * by the UDF (build/probe plans) and the LshLocal fast path, so keys
    * are identical by construction */
  def hashOne(arr: Array[Float]): Array[Long] = {
    val (planes, offsets) = planesAndOffsets
    val w = bucketWidth
    val cosine = metric == "cosine" || metric == "ip" || metric == "angular"
    val nt = numTables; val hs = hashSize
    val keys = new Array[Long](nt)
    var t = 0
    while (t < nt) {
      var key = 0L
      var h = 0
      while (h < hs) {
        val plane = planes(t)(h)
        var dot = 0.0
        var i = 0
        while (i < plane.length) { dot += plane(i) * arr(i); i += 1 }
        if (cosine) {
          if (dot >= 0) key |= (1L << h) // sign bit packing (lsh.py:79-80,102)
        } else {
          val bucket = math.floor((dot + offsets(t)(h)) / w).toLong // E2LSH
          key = key * 1000003L + bucket // polynomial tuple combine
        }
        h += 1
      }
      keys(t) = key
      t += 1
    }
    keys
  }

  def hashUdf(spark: SparkSession): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val self = this
    udf { (v: Seq[Float]) => self.hashOne(v.toArray) }
  }
}

object LshModel {
  def dimOf(df: DataFrame, c: String): Int = {
    import org.apache.spark.sql.functions.{col => f, size => sz}
    df.select(sz(f(c))).head().getInt(0)
  }
}
