package retrbench

import org.apache.spark.sql.DataFrame

import graft.operators.{IndexArtifact, Registry, Searcher}
import graft.sources.{ArtifactStore, RandomDataset}

/** Serving from prebuilt indexes: batch and point top-k calls over one
  * clustered corpus, families in round-robin. The indexes fit the
  * engine's driver-local scan memo, so warm calls should run no Spark job
  * at all; what is left is the scan kernels and the per-call fixed cost. */
object Serve {
  val N = 20000
  val Dim = 96
  val Clusters = 200
  val Sigma = 1.1
  val Overlap = 0.5
  val K = 20
  val PoolQ = 512
  val BatchQ = 256
  val PointQ = 4
  val PointsPerCycle = 2
  val SetupReps = 2
  /** each measured set-up repetition saves the persisted family this many
    * times and keeps the median: one parquet write is too short to time
    * alone (the untimed pass saves once) */
  val SaveReps = 2
  /** base rows of the untimed set-up pass that runs before the measured
    * repetitions, so class loading and JIT warm-up land there */
  val WarmN = 2000
  /** untimed rounds before the measured phase. Traces show point calls at
    * about 30 ms until the JIT compiles the planner's paths, then at about
    * 15 ms; that step lands near round 14, so this leaves a margin */
  val WarmRounds = 24

  /** `persist`: written to the artifact store in set-up (the serving
    * snapshot); every family is served from its in-memory build */
  final case class Family(name: String, build: Map[String, String],
      search: Map[String, String], persist: Boolean = false)
  val Families = Seq(
    Family("ivf", Map("nlist" -> "64", "seed" -> "42"), Map("nprobe" -> "8")),
    Family("ivf_sq8", Map("nlist" -> "64", "seed" -> "42"), Map("nprobe" -> "8")),
    Family("hnsw_global", Map("m" -> "16", "ef_construction" -> "64", "seed" -> "42"),
      Map("ef_search" -> "64"), persist = true))

  final class Served(val family: Family, val artifact: IndexArtifact, val searcher: Searcher)

  final class State(val baseDf: DataFrame, val pool: IndexedSeq[(Long, Array[Float])],
      val gt: Array[Array[Long]], val served: Seq[Served])

  def run(ctx: Ctx): Unit = {
    Registry.init()
    var st: State = null
    (-1 until SetupReps).foreach { rep =>
      if (st != null) st.baseDf.unpersist()
      st = setup(ctx, rep)
    }
    val state = st
    var call = 0
    def round(record: Boolean): Unit = state.served.foreach { s =>
      val (_, ms) = ctx.timeMs(ctx.tracer("cycle") {
        batch(ctx, state, s, call, record)
        (0 until PointsPerCycle).foreach(p => point(ctx, state, s, call * PointsPerCycle + p, record))
      })
      if (record) ctx.rec.cycleMs.add(s.family.name, ms)
      call += 1
    }
    ctx.warmUp(WarmRounds)(round(record = false))
    call = 0 // the measured rounds ask the same queries in every run
    ctx.closedLoop(round(record = true))
  }

  /** one set-up repetition; rep -1 is the untimed pass on WarmN rows */
  private def setup(ctx: Ctx, rep: Int): State = {
    val spark = ctx.spark
    ctx.tracer.phase = if (rep < 0) "warm" else "setup"
    val n = if (rep < 0) WarmN else N
    val t0 = System.nanoTime()
    val (gen, genMs) = ctx.timeMs(ctx.tracer("sources.gen") {
      val centers = ctx.seedFor("serve.centers")
      val df = RandomDataset.clusteredVectors(spark, n, Dim, Clusters, Sigma,
        seed = ctx.seedFor("serve.base"), centerSeed = centers, overlap = Overlap).persist()
      val base = Frames.collectVectors(df)
      val pool = Frames.collectVectors(RandomDataset.clusteredVectors(spark, PoolQ, Dim,
        Clusters, Sigma, seed = ctx.seedFor("serve.queries"), centerSeed = centers,
        overlap = Overlap)).toIndexedSeq
      (df, base, pool)
    })
    val (baseDf, base, pool) = gen
    if (rep == 0) { ctx.digest.rows(base); ctx.digest.rows(pool) }
    val (gt, gtMs) = ctx.timeMs(ctx.tracer("sources.gt") {
      Exact.topK(Exact.Table(base), _ => true, pool.map(_._2).toArray, K)
    })
    var buildMs, writeMs = 0.0
    var bytes = 0L
    val served = Families.map { f =>
      val (art, bMs) = ctx.timeMs(ctx.tracer(s"build.${f.name}") {
        Registry.indexer(f.name, f.build, "l2").build(baseDf)
      })
      buildMs += bMs
      if (f.persist) {
        val saves = (0 until (if (rep < 0) 1 else SaveReps)).map { i =>
          val dir = ctx.workDir.resolve(s"serve-${f.name}-$i").toString
          val (_, sMs) = ctx.timeMs(ctx.tracer(s"store.save.${f.name}") {
            ArtifactStore.save(art, dir, "l2", Dim, n, ctx.seedFor("serve.base").toString,
              f.build.toSeq.sorted.mkString(","))
          })
          if (i == 0) bytes += ArtifactStore.dirSizeBytes(dir)
          sMs
        }
        writeMs += Stats.median(saves)
      }
      new Served(f, art, Registry.searcher(f.name, f.search, "l2"))
    }
    if (rep >= 0) {
      ctx.rec.setupS += (System.nanoTime() - t0) / 1e9
      ctx.rec.buildS += buildMs / 1e3
      ctx.rec.writeS += writeMs / 1e3
      ctx.rec.genS += genMs / 1e3
      ctx.rec.gtS += gtMs / 1e3
      ctx.rec.storeBytes += bytes.toDouble
    }
    new State(baseDf, pool, gt, served)
  }

  /** query indexes of call `i`: a contiguous window of the pool, wrapped */
  private def window(i: Int, size: Int, stride: Int): IndexedSeq[Int] =
    (0 until size).map(j => ((i.toLong * stride + j) % PoolQ).toInt)

  private def search(ctx: Ctx, st: State, s: Served, qs: IndexedSeq[Int], span: String)
      : (Map[Long, Array[Long]], Double) = {
    val qdf = Frames.queries(ctx.spark, qs.map(st.pool))
    val (rows, ms) = ctx.timeMs(ctx.tracer(span) {
      Frames.collectRanked(s.searcher.search(s.artifact, qdf, K))
    })
    (Check.byQuery(rows), ms)
  }

  private def batch(ctx: Ctx, st: State, s: Served, i: Int, record: Boolean): Unit = {
    val qs = window(i, BatchQ, 131)
    val (res, ms) = search(ctx, st, s, qs, s"search.${s.family.name}.batch")
    val recalls = qs.map(q => Exact.recall(res.getOrElse(q.toLong, Array.empty[Long]), st.gt(q)))
    val recall = recalls.sum / recalls.length
    ctx.checker.record(s"serve.${s.family.name}.batch",
      Check.topK(res, qs.map(_.toLong), K, id => id >= 0 && id < N) ++
        Check.recallFloor(recall, ctx.floor(s"serve.${s.family.name}")))
    if (record) {
      ctx.rec.batch(s.family.name, qs.length, ms)
      recalls.foreach(ctx.rec.recall)
      qs.foreach(q => ctx.rec.hit(res.getOrElse(q.toLong, Array.empty[Long]).take(10)
        .contains(st.gt(q)(0))))
      ctx.rec.familyRecall(s.family.name, recall)
    }
  }

  private def point(ctx: Ctx, st: State, s: Served, i: Int, record: Boolean): Unit = {
    val qs = window(i, PointQ, 37)
    val (res, ms) = search(ctx, st, s, qs, s"search.${s.family.name}.point")
    ctx.checker.record(s"serve.${s.family.name}.point",
      Check.topK(res, qs.map(_.toLong), K, id => id >= 0 && id < N))
    if (record) ctx.rec.pointMs.add(s.family.name, ms)
  }
}
