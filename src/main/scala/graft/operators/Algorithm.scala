package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The engine's modular index/search split, mirroring the reference's
  * `BaseIndexer` / `BaseSearcher` / registry design (modular.py:28-106) in
  * Spark terms: an index is one-or-more DataFrames plus string metadata,
  * a searcher turns (artifact, queries) into the canonical search-result
  * relation (qid, rank, id, dist).
  */
final case class IndexArtifact(
    kind: String,
    data: DataFrame,
    meta: Map[String, String] = Map.empty,
    aux: Map[String, DataFrame] = Map.empty,
    /** driver-side build products (e.g. a broadcast-ready tree model) that
      * never serialize to the store; searchers treat these as a cache and
      * must be able to reconstruct from `data`+`meta` when absent (the
      * load-from-ArtifactStore path). */
    local: Map[String, AnyRef] = Map.empty)

trait Indexer extends Serializable {
  def kind: String
  /** base: (id long, vector array<float>) */
  def build(base: DataFrame): IndexArtifact
}

trait Searcher extends Serializable {
  /** queries: (qid long, vector array<float>) → (qid, rank, id, dist) */
  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame
}

/** Mixin for searchers that ship per-search driver-side tables (query
  * LUTs, collected query vectors) as broadcasts: each new broadcast
  * retires the previous call's, so repeated-search loops (Experiment
  * repeats, BaselineCompare warm+3) hold at most one live broadcast per
  * searcher instance instead of accumulating blocks for the session. */
trait QueryBroadcastLifecycle {
  @transient private var prev: List[org.apache.spark.broadcast.Broadcast[_]] = Nil
  /** call at the top of each search(): retires every broadcast the
    * PREVIOUS search registered (unpersist, not destroy: frees executor
    * copies; a straggling plan holding the old handle can still lazily
    * re-fetch from the driver) */
  protected def beginSearch(): Unit = synchronized {
    prev.foreach(_.unpersist())
    prev = Nil
  }
  protected def trackBroadcast[T: scala.reflect.ClassTag](
      spark: SparkSession, value: T): org.apache.spark.broadcast.Broadcast[T] =
    synchronized {
      val bc = spark.sparkContext.broadcast(value)
      prev ::= bc
      bc
    }
  /** Lut wrapper keyed on the scan-path decision: the LocalScan fast
    * path reads driver memory directly (a per-search broadcast write of
    * a multi-MB LUT would dominate a sub-ms local scan); the distributed
    * scan gets a tracked Broadcast for its task closures. */
  protected def trackLut[T: scala.reflect.ClassTag](
      spark: SparkSession, local: Boolean, value: T): AdcScan.Lut[T] =
    if (local) AdcScan.LocalLut(value)
    else AdcScan.BcLut(trackBroadcast(spark, value))
}

/** An algorithm = indexer + searcher (reference CompositeAlgorithm,
  * modular.py:554-622). */
final case class Algorithm(name: String, indexer: Indexer, searcher: Searcher) {
  def run(base: DataFrame, queries: DataFrame, k: Int): DataFrame =
    searcher.search(indexer.build(base), queries, k)
}

/** String registries with factory functions taking (params, metric),
  * mirroring `register_indexer` / `register_searcher` (modular.py:85-106)
  * and the algorithm registry (`src/algorithms/__init__.py:25-47`). */
object Registry {
  type Params = Map[String, String]
  private val indexers =
    scala.collection.mutable.Map[String, (Params, String) => Indexer]()
  private val searchers =
    scala.collection.mutable.Map[String, (Params, String) => Searcher]()

  def registerIndexer(name: String)(f: (Params, String) => Indexer): Unit =
    indexers(name) = f
  def registerSearcher(name: String)(f: (Params, String) => Searcher): Unit =
    searchers(name) = f
  def indexer(name: String, params: Params, metric: String): Indexer =
    indexers.getOrElse(name,
      throw new IllegalArgumentException(s"unknown indexer: $name"))(params, metric)
  def searcher(name: String, params: Params, metric: String): Searcher =
    searchers.getOrElse(name,
      throw new IllegalArgumentException(s"unknown searcher: $name"))(params, metric)
  def indexerNames: Seq[String] = indexers.keys.toSeq.sorted
  def searcherNames: Seq[String] = searchers.keys.toSeq.sorted

  /** built-ins (registered on first access) */
  def init(): Unit = Builtins.ensure()

  private object Builtins {
    lazy val done: Boolean = {
      registerIndexer("brute_force")((_, _) => BruteForceIndexer())
      // strided_accum (here and on ivf/ivf_sq8): opt-in stride-4 gram
      // kernels — recall-equivalent, reassociated; the FAISS comparison
      // regime. Gates never set it; the baseline harness does.
      registerSearcher("linear")((p, m) => LinearSearcher(m,
        strided = p.getOrElse("strided_accum", "false").toBoolean))
      registerIndexer("lsh") { (p, m) =>
        LshIndexer(
          numTables = p.getOrElse("num_tables", "8").toInt,
          hashSize = p.getOrElse("hash_size", "12").toInt,
          bucketWidth = p.getOrElse("bucket_width", "4.0").toDouble,
          metric = m,
          seed = p.getOrElse("seed", "42").toLong)
      }
      registerSearcher("lsh") { (p, m) =>
        LshSearcher(
          candidateMultiplier = p.getOrElse("candidate_multiplier", "32").toInt,
          maxCandidates = p.get("max_candidates").map(_.toInt),
          fallbackToBruteforce = p.getOrElse("fallback_to_bruteforce", "true").toBoolean,
          metric = m)
      }
      registerIndexer("ivf") { (p, m) =>
        IvfIndexer(
          nlist = p.getOrElse("nlist", "64").toInt,
          seed = p.getOrElse("seed", "42").toLong)
      }
      registerSearcher("ivf") { (p, m) =>
        IvfSearcher(nprobe = p.getOrElse("nprobe", "8").toInt, metric = m,
          strided = p.getOrElse("strided_accum", "false").toBoolean)
      }
      registerIndexer("sq8") { (p, _) => Sq8Indexer() }
      registerSearcher("sq8") { (p, m) => Sq8Searcher(metric = m) }
      registerIndexer("pq") { (p, m) =>
        PqIndexer(
          numSubspaces = p.getOrElse("num_subspaces", "8").toInt,
          numCentroids = p.getOrElse("num_centroids", "256").toInt,
          seed = p.getOrElse("seed", "42").toLong,
          trainIters = p.getOrElse("train_iters", "15").toInt,
          kmeansInit = p.getOrElse("kmeans_init", "random"))
      }
      registerSearcher("pq") { (p, m) =>
        PqSearcher(metric = m,
          strided = p.getOrElse("strided_accum", "false").toBoolean)
      }
      registerIndexer("opq_pq") { (p, _) =>
        OpqPqIndexer(
          numSubspaces = p.getOrElse("num_subspaces", "8").toInt,
          numCentroids = p.getOrElse("num_centroids", "256").toInt,
          seed = p.getOrElse("seed", "42").toLong,
          opqIters = p.getOrElse("opq_iters", "8").toInt,
          trainIters = p.getOrElse("train_iters", "15").toInt)
      }
      registerSearcher("opq_pq") { (p, m) => OpqPqSearcher(metric = m) }
      registerIndexer("ivf_sq8") { (p, m) =>
        IvfSq8Indexer(
          nlist = p.getOrElse("nlist", "64").toInt,
          seed = p.getOrElse("seed", "42").toLong)
      }
      registerSearcher("ivf_sq8") { (p, m) =>
        IvfSq8Searcher(nprobe = p.getOrElse("nprobe", "8").toInt, metric = m,
          // opt-in stride-4 accumulation (AdcScan.Sq8Scorer): recall-
          // equivalent but not bit-identical to the oracle's index-order
          // sum — gates never set it; the baseline harness does
          strided = p.getOrElse("strided_accum", "false").toBoolean)
      }
      registerIndexer("ivf_pq") { (p, _) =>
        IvfPqIndexer(
          nlist = p.getOrElse("nlist", "64").toInt,
          numSubspaces = p.getOrElse("num_subspaces", "8").toInt,
          numCentroids = p.getOrElse("num_centroids", "256").toInt,
          seed = p.getOrElse("seed", "42").toLong,
          residual = p.getOrElse("residual", "false").toBoolean,
          trainIters = p.getOrElse("train_iters", "15").toInt,
          kmeansInit = p.getOrElse("kmeans_init", "random"))
      }
      registerSearcher("ivf_pq") { (p, m) =>
        IvfPqSearcher(nprobe = p.getOrElse("nprobe", "8").toInt, metric = m,
          strided = p.getOrElse("strided_accum", "false").toBoolean)
      }
      registerIndexer("hnsw_global") { (p, met) =>
        HnswGlobalIndexer(
          m = p.getOrElse("m", "16").toInt,
          efConstruction = p.getOrElse("ef_construction", "200").toInt,
          metric = met,
          seed = p.getOrElse("seed", "42").toLong)
      }
      registerSearcher("hnsw_global") { (p, met) =>
        HnswGlobalSearcher(
          efSearch = p.getOrElse("ef_search", "100").toInt, metric = met)
      }
      registerIndexer("covertree")((_, m) => CoverTreeIndexer(m))
      registerSearcher("covertree")((_, m) => CoverTreeSearcher(m))
      registerIndexer("hnsw") { (p, m) =>
        HnswIndexer(
          nPartitions = p.getOrElse("n_partitions", "8").toInt,
          m = p.getOrElse("m", "8").toInt,
          efConstruction = p.getOrElse("ef_construction", "32").toInt,
          metric = m,
          seed = p.getOrElse("seed", "42").toLong,
          spill = p.getOrElse("spill", "1").toInt,
          spillEps = p.getOrElse("spill_eps", "0.15").toDouble)
      }
      registerSearcher("hnsw") { (p, m) =>
        HnswSearcher(
          nprobe = p.getOrElse("nprobe", "2").toInt,
          efSearch = p.getOrElse("ef_search", "48").toInt,
          metric = m)
      }
      true
    }
    def ensure(): Unit = { val _ = done }
  }
}

/** Brute-force "index" = the raw vectors (reference BruteForceIndexer:
  * kind="raw_vectors", modular.py:124-133). */
final case class BruteForceIndexer() extends Indexer {
  val kind = "raw_vectors"
  def build(base: DataFrame): IndexArtifact = IndexArtifact(kind, base)
}

/** Flat scan searcher = the exact kNN join (modular.py:336-387); below
  * the LocalScan cap AND the per-batch flop budget the scan runs
  * driver-core-parallel on the memoized collected table
  * ([[KnnJoin.scanOnDriver]]) — same kernel arithmetic, bit-identical
  * results. Above the flop budget the batch is
  * compute-bound, not dispatch-bound: job dispatch is noise there, and on
  * a real cluster the distributed scan holds every executor core while
  * the driver kernel is capped at one machine (the budget default sits
  * past every reference batch shape — see LocalScan.fullScanFlopCap). */
final case class LinearSearcher(metric: String,
    strided: Boolean = false) extends Searcher {
  def search(artifact: IndexArtifact, queries: DataFrame, k: Int): DataFrame = {
    // any query batch under the LocalScan row cap is collected (memoized
    // per instance); the gate is KnnJoin's shared driver route
    val q = queries.select(col("qid").cast("long").as("qid"), col("vector"))
    KnnJoin.scanOnDriver(q, LocalScan.queryVecs(queries), artifact.data, k,
      metric, strided)
      .getOrElse(KnnJoin.knnJoinDistributed(q, artifact.data, k, metric))
  }
}
