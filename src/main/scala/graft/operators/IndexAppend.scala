package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental index ingestion — one entry point for the FAISS
  * `Index.add` contract across the artifact family: arriving rows are
  * encoded against the artifact's FROZEN models (coarse centroids, SQ8
  * bounds, LSH hyperplanes — whatever the kind persists in meta/aux) and
  * unioned into the index relation. No model retrains, no existing row
  * is rewritten, and every searcher serves the appended artifact
  * unchanged — the operational requirement at 100 TB, where a daily
  * arrival batch must never trigger a corpus-sized rebuild.
  *
  * Each path is the build's own zero-shuffle encode projection applied
  * to the new rows only; the union is a plan node, not a rewrite, and a
  * store round-trip re-partitions by the probe keys as usual
  * ([[graft.sources.ArtifactStore.partitionKeys]]).
  *
  * For `ivf`, `ivf_sq8`, `ivf_pq` and `lsh`, [[append]] and [[delete]]
  * also record each result relation's parent and its delta ([[Lineage]]):
  * the new rows with the kind's per-row encoder ([[IvfModel.assign]],
  * [[Sq8Model.encode]], [[IvfPq.encodeRow]], [[LshModel.hashOne]]), or
  * the deleted ids. When the parent's driver table is memoized (for
  * example a reloaded stored index that was searched before), the next
  * search builds the result's table on the driver from it with no Spark
  * job ([[LocalScan.codeTable]], [[LocalScan.vecTable]], the LSH bucket
  * maps); otherwise it collects the result's plan as before. `hnsw`
  * rebuilds touched groups and records no lineage.
  */
object IndexAppend {

  /** `newRows`: (id long, vector array<float>) — ids must be fresh: this
    * is FAISS `Index.add`, which never checks id disjointness either; a
    * re-appended id yields duplicate index rows and therefore duplicate
    * search results (use [[delete]] first for upsert semantics). Vector
    * width IS checked against the artifact's model dim — a
    * wrong-dimension arrival fails here with a clear message instead of
    * deep inside assign/encode. */
  def append(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact =
    artifact.kind match {
      case "ivf"     => IvfModel.append(artifact, checkedDim(artifact, newRows))
      case "ivf_sq8" => ivfSq8(artifact, checkedDim(artifact, newRows))
      case "ivf_pq"  => ivfPq(artifact, checkedDim(artifact, newRows))
      case "lsh"     => lsh(artifact, checkedDim(artifact, newRows))
      case "hnsw"    => hnsw(artifact, checkedDim(artifact, newRows))
      case k => throw new IllegalArgumentException(
        s"append is not supported for index kind '$k' — rebuild, or use " +
          "a kind with frozen encode models (ivf, ivf_sq8, ivf_pq, lsh, hnsw)")
    }

  /** arriving vectors must match the frozen model's dimensionality; a
    * longer vector would otherwise be silently prefix-scored by the
    * centroid loops and a shorter one would throw an opaque
    * ArrayIndexOutOfBounds deep inside assign/encode */
  private def checkedDim(artifact: IndexArtifact, newRows: DataFrame): DataFrame = {
    val dim = artifact.kind match {
      case "lsh" => artifact.meta("dim").toInt
      case _ => IvfModel.centroidsOf(artifact).head._2.length
    }
    val kind = artifact.kind
    val check = udf { (v: Seq[Float]) =>
      require(v != null && v.length == dim,
        s"append($kind): arriving vector has dim " +
          s"${if (v == null) "null" else v.length.toString}, index dim is $dim")
      v
    }
    newRows.withColumn("vector", check(col("vector")))
  }

  /** Remove rows by id — FAISS `remove_ids` semantics: an anti-join on
    * the index relation (and on the LSH rerank relation), models
    * untouched. The operational complement of [[append]]: contamination
    * takedowns and right-to-be-forgotten deletes must not rebuild a
    * corpus-sized index either. Like the filtered-search gate shows,
    * restricting the index RELATION is all a searcher needs — deletion
    * is that restriction made permanent. */
  def delete(artifact: IndexArtifact, ids: DataFrame): IndexArtifact = {
    val del = ids.select(col("id").cast("long").as("id"))
    def minus(rel: DataFrame): DataFrame =
      Lineage.record(rel.join(del, Seq("id"), "left_anti"), rel, Lineage.Delete(del))
    artifact.kind match {
      case "ivf" | "ivf_sq8" | "ivf_pq" =>
        artifact.copy(data = minus(artifact.data))
      case "lsh" =>
        artifact.copy(data = minus(artifact.data),
          aux = artifact.aux + ("vectors" -> minus(artifact.aux("vectors"))))
      case "hnsw" =>
        // a plain anti-join would leave dangling `nbrs` edges (they are
        // positional idx references) — rebuild ONLY the groups that held
        // a deleted row, exactly like append's touched-group rebuild
        val touched = artifact.data.join(del, Seq("id"), "left_semi")
          .select("centroid_id").distinct()
          .collect().map(_.getInt(0))
        if (touched.isEmpty) artifact
        else {
          val tset = touched.map(Int.box).toSeq
          val untouched = artifact.data.filter(!col("centroid_id").isin(tset: _*))
          val kept = artifact.data.filter(col("centroid_id").isin(tset: _*))
            .join(del, Seq("id"), "left_anti")
            .select(col("id"), col("vector"), col("centroid_id"))
            .repartition(math.max(1, touched.length), col("centroid_id"))
          val rebuilt = Hnsw.buildAdjacency(kept,
            artifact.meta("m").toInt, artifact.meta("ef_construction").toInt,
            artifact.meta.getOrElse("metric", "l2"))
          // persist: see the hnsw append branch — the serve path's size
          // gate + collect would re-run the touched-group rebuild 2-3x
          artifact.copy(data = untouched.unionByName(rebuilt).persist())
        }
      case k => throw new IllegalArgumentException(
        s"delete is not supported for index kind '$k' — rebuild, or use " +
          "a kind with a row-keyed index relation (ivf, ivf_sq8, ivf_pq, lsh, hnsw)")
    }
  }

  /** frozen coarse centroids + frozen per-dim SQ8 bounds from meta;
    * encoding IS the build's projection ([[IvfSq8.encodeRelation]]) */
  private def ivfSq8(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact = {
    val centers = IvfModel.centroidsOf(artifact).sortBy(_._1).map(_._2)
    val model = Sq8Model(
      artifact.meta("lo").split(",").map(_.toFloat),
      artifact.meta("hi").split(",").map(_.toFloat))
    artifact.copy(data = Lineage.record(
      artifact.data.select("id", "centroid_id", "codes")
        .unionByName(IvfSq8.encodeRelation(newRows, centers, model)),
      artifact.data,
      Lineage.Append(newRows, centers.head.length,
        v => (IvfModel.assign(centers, v), model.encode(v)))))
  }

  /** frozen coarse centroids + frozen PQ codebooks (both reconstructable
    * from aux on the load-from-store path); the row encoder IS the
    * build's ([[IvfPq.encodeRow]]), honoring raw vs residual */
  private def ivfPq(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact = {
    val centers = IvfModel.centroidsOf(artifact).sortBy(_._1).map(_._2)
    val model = PqModel.fromArtifact(artifact)
    val residual = artifact.meta.getOrElse("residual", "false") == "true"
    val spark = newRows.sparkSession
    import spark.implicits._
    val encoded = newRows
      .select(col("id").cast("long").as("id"), col("vector"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) =>
        IvfPq.encodeRow(centers, model, residual)(
          i, IvfModel.assign(centers, v), v)
      })
      .toDF("id", "centroid_id", "codes")
    artifact.copy(data = Lineage.record(
      artifact.data.select("id", "centroid_id", "codes").unionByName(encoded),
      artifact.data,
      Lineage.Append(newRows, centers.head.length, v =>
        IvfPq.encodeRow(centers, model, residual)(0L, IvfModel.assign(centers, v), v) match {
          case (_, cid, codes) => (cid, codes)
        })))
  }

  /** FAISS `IndexHNSW.add` semantics for the per-centroid graph index
    * (hnsw.py:76-81 delegates adds to the library; here the graph IS the
    * index relation, so arrival means graph work): route arrivals through
    * the FROZEN coarse centroids (+ the build's SPANN spill closure),
    * then rebuild ONLY the touched per-centroid subgraphs. Untouched
    * groups' adjacency rows pass through unchanged. Because
    * [[Hnsw.buildAdjacency]] inserts each group's rows in ascending-id
    * order, a group's graph is a pure function of its row set — so
    * append(build(A), B) ≡ build(A ∪ B) under A's centroids, exactly
    * (IvfAppendSpec asserts the two-batch ≡ one-shot identity). Cost
    * scales with the touched groups' sizes, not the corpus: a daily
    * arrival batch rebuilds a bounded set of ~10⁵-row subgraphs, never
    * the corpus-sized index. */
  private def hnsw(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact = {
    val m = artifact.meta("m").toInt
    val efC = artifact.meta("ef_construction").toInt
    val met = artifact.meta.getOrElse("metric", "l2")
    val spillN = artifact.meta.getOrElse("spill", "1").toInt
    val eps = artifact.meta.getOrElse("spill_eps", "0.15").toDouble
    val centers = IvfModel.centroidsOf(artifact).sortBy(_._1).map(_._2)
    val assignedNew = newRows
      .select(col("id").cast("long").as("id"), col("vector"))
      .withColumn("centroid_id",
        explode(Hnsw.assignUdf(centers, math.min(spillN, centers.length), eps)(col("vector"))))
    val touched = assignedNew.select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    if (touched.isEmpty) return artifact
    val tset = touched.map(Int.box).toSeq
    val untouched = artifact.data.filter(!col("centroid_id").isin(tset: _*))
    val rebuildRows = artifact.data.filter(col("centroid_id").isin(tset: _*))
      .select(col("id"), col("vector"), col("centroid_id"))
      .unionByName(assignedNew.select("id", "vector", "centroid_id"))
      .repartition(math.max(1, touched.length), col("centroid_id"))
    val rebuilt = Hnsw.buildAdjacency(rebuildRows, m, efC, met)
    // persist the appended relation (r15): the searcher's size gate runs
    // a count + a width probe before its collect (LocalScan.payloadStats
    // / localModel), so an unpersisted union re-runs the touched-group
    // NSW construction 2-3x per serve — the build materializes its
    // adjacency for exactly this reason. Spill-safe; the session's
    // cache-clear (or the caller) reclaims it.
    artifact.copy(data = untouched.unionByName(rebuilt).persist())
  }

  /** frozen seeded hyperplanes (reconstructed from meta — they are pure
    * functions of (seed, dims)); the rerank relation grows too */
  private def lsh(artifact: IndexArtifact, newRows: DataFrame): IndexArtifact = {
    val m = artifact.meta
    val model = LshModel(m("num_tables").toInt, m("hash_size").toInt,
      m("dim").toInt, m("bucket_width").toDouble, m("metric"), m("seed").toLong)
    val spark = newRows.sparkSession
    val rows = newRows.select(col("id").cast("long").as("id"), col("vector"))
    val buckets = rows
      .withColumn("__keys", model.hashUdf(spark)(col("vector")))
      .select(col("id"), posexplode(col("__keys")).as(Seq("table", "key")))
    val vectors = artifact.aux("vectors")
    artifact.copy(
      data = Lineage.record(
        artifact.data.select("id", "table", "key").unionByName(buckets),
        artifact.data, Lineage.Append(rows, model.dim, v => (0, model.hashOne(v)))),
      aux = artifact.aux + ("vectors" -> Lineage.record(
        vectors.select(col("id"), col("vector")).unionByName(rows),
        vectors, Lineage.Append(rows, model.dim, v => (0, v)))))
  }
}
