package retrbench

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame

import graft.operators.{IndexAppend, IndexArtifact, Registry, Searcher}
import graft.sources.{ArtifactStore, RandomDataset}

/** Writes beside distributed reads. Each round reloads the indexes built
  * and persisted in set-up, runs on each family a cycle of {append fresh
  * rows, delete live ids, a batch search of the mutated index}, and ends
  * with one small hybrid lookup. Reloading every round keeps the lineage
  * the same in every round (the stored index plus one append and one
  * delete), so a search's job count repeats exactly and its time does not
  * depend on how many rounds fit in the run. Each search after a mutation
  * misses the engine's driver-local scan memo and pays the lazy append
  * encode over the union; the hybrid lookup is BM25 WAND + exact dense kNN
  * join + RRF fusion. Builds, saves and every read here are Spark-job-bound. */
object Ingest {
  val N = 10000
  val Dim = 64
  val Clusters = 100
  val Sigma = 1.0
  val Overlap = 0.5
  val K = 20
  val PoolQ = 512
  val BatchQ = 256
  val LookupQ = 4
  val RecallSample = 32
  val AppendN = 500
  val DeleteN = 125
  val SetupReps = 2
  /** base rows and text docs of the untimed set-up pass that runs before
    * the measured repetitions, so class loading and JIT warm-up land there */
  val WarmN = 2000
  val WarmDocs = 1000
  /** untimed rounds (with their reloads) before the measured phase */
  val WarmRounds = 1

  /** `shortOk`: the searcher's contract allows fewer than k rows (LSH
    * reranks only the candidates its buckets hold, and falls back to a
    * full scan only for a query with none) */
  final case class Family(name: String, build: Map[String, String],
      search: Map[String, String], shortOk: Boolean = false)
  val Families = Seq(
    Family("ivf_pq", Map("nlist" -> "32", "num_subspaces" -> "16", "residual" -> "true",
      "train_iters" -> "10", "seed" -> "42"), Map("nprobe" -> "4")),
    Family("lsh", Map("num_tables" -> "8", "hash_size" -> "8", "seed" -> "42"), Map.empty,
      shortOk = true))

  /** the mutation every cycle applies, fixed in set-up: what to append,
    * what to delete, and the exact answers on the rows live after it for
    * the pool queries whose index is a multiple of `BatchQ / RecallSample`
    * (every batch window holds `RecallSample` of them) */
  final class Mutation(val append: Seq[(Long, Array[Float])], val delete: Seq[Long],
      val gt: Map[Int, Array[Long]], val live: java.util.BitSet, val deleted: java.util.BitSet)

  final class State(val baseDf: DataFrame, val pool: IndexedSeq[(Long, Array[Float])],
      val mutation: Mutation, val stored: Seq[(Family, String)],
      val hybrid: HybridArm.State)

  /** a family's index as the client holds it between cycles */
  final class Live(val family: Family, val dir: String, val searcher: Searcher) {
    var artifact: IndexArtifact = _
  }

  def run(ctx: Ctx): Unit = {
    Registry.init()
    var st: State = null
    (-1 until SetupReps).foreach { rep =>
      if (st != null) st.baseDf.unpersist()
      st = setup(ctx, rep)
    }
    val state = st
    val live = state.stored.map { case (f, dir) =>
      new Live(f, dir, Registry.searcher(f.name, f.search, "l2"))
    }
    def reload(): Unit = live.foreach { l =>
      l.artifact = ctx.tracer(s"store.load.${l.family.name}") {
        ArtifactStore.load(ctx.spark, l.dir, expectKind = Some(l.family.name))._1
      }
    }
    var rounds = 0
    var replay: Option[(IndexedSeq[HybridArm.Query], Seq[(Long, Int, Long)])] = None
    def round(record: Boolean): Unit = {
      reload()
      // a contiguous window of the pool, wrapped: another batch each round
      val batch = (0 until BatchQ).map(j => ((rounds.toLong * 131 + j) % PoolQ).toInt)
      live.foreach { l =>
        val (_, ms) = ctx.timeMs(ctx.tracer("cycle") {
          cycle(ctx, state, l, batch, record)
        })
        if (record) ctx.rec.cycleMs.add(l.family.name, ms)
      }
      val qs = (0 until LookupQ).map(j =>
        state.hybrid.pool((rounds * LookupQ + j) % HybridArm.PoolQ))
      val lex = lookup(ctx, state.hybrid, qs, record)
      if (record && replay.isEmpty) replay = Some(qs -> lex)
      rounds += 1
    }
    ctx.warmUp(WarmRounds)(round(record = false))
    rounds = 0 // the measured rounds ask the same queries in every run
    ctx.closedLoop(round(record = true))
    replay.foreach { case (qs, lex) =>
      ctx.checker.record("hybrid.wand_vs_exact", HybridArm.exactReplay(ctx, state.hybrid, qs, lex))
    }
  }

  /** append, delete, then the batch search that pays for both */
  private def cycle(ctx: Ctx, st: State, l: Live, batch: IndexedSeq[Int],
      record: Boolean): Unit = {
    val spark = ctx.spark
    val f = l.family
    val s = st.mutation
    val sampled = batch.filter(_ % (BatchQ / RecallSample) == 0)
    val rows = Frames.vectors(spark, s.append)
    l.artifact = ctx.tracer("ingest.append")(IndexAppend.append(l.artifact, rows))
    val ids = Frames.ids(spark, s.delete)
    l.artifact = ctx.tracer("ingest.delete")(IndexAppend.delete(l.artifact, ids))
    val qdf = Frames.queries(spark, batch.map(st.pool))
    val (res, ms) = ctx.timeMs(ctx.tracer("ingest.fresh_search") {
      Check.byQuery(Frames.collectRanked(l.searcher.search(l.artifact, qdf, K)))
    })
    val recalls = sampled.map(q => Exact.recall(res.getOrElse(q.toLong, Array.empty[Long]), s.gt(q)))
    val recall = recalls.sum / recalls.length
    ctx.checker.record(s"ingest.${f.name}.search",
      Check.topK(res, batch.map(_.toLong), K, i => s.live.get(i.toInt),
        i => s.deleted.get(i.toInt), f.shortOk) ++
        Check.recallFloor(recall, ctx.floor(s"ingest.${f.name}")))
    if (record) {
      ctx.rec.batch(f.name, batch.length, ms)
      recalls.foreach(ctx.rec.recall)
      sampled.foreach(q => ctx.rec.hit(res.getOrElse(q.toLong, Array.empty[Long]).take(10)
        .contains(s.gt(q)(0))))
      ctx.rec.familyRecall(f.name, recall)
    }
  }

  /** the cycle's small call: one hybrid lookup; returns its BM25 rows */
  private def lookup(ctx: Ctx, h: HybridArm.State, qs: IndexedSeq[HybridArm.Query],
      record: Boolean): Seq[(Long, Int, Long)] = {
    val (a, ms) = ctx.timeMs(ctx.tracer("hybrid.lookup")(HybridArm.lookup(ctx, h, qs)))
    ctx.checker.record("ingest.hybrid.lookup", a.problems)
    if (record) {
      ctx.rec.pointMs.add("hybrid", ms)
      ctx.rec.fusedHits += a.hits
      ctx.rec.fusedQueries += qs.length
    }
    a.lex
  }

  /** one set-up repetition; rep -1 is the untimed pass on small inputs */
  private def setup(ctx: Ctx, rep: Int): State = {
    val spark = ctx.spark
    ctx.tracer.phase = if (rep < 0) "warm" else "setup"
    val n = if (rep < 0) WarmN else N
    val t0 = System.nanoTime()
    val centers = ctx.seedFor("ingest.centers")
    def gen(n: Int, tag: String) = RandomDataset.clusteredVectors(spark, n, Dim, Clusters,
      Sigma, seed = ctx.seedFor(tag), centerSeed = centers, overlap = Overlap)
    val ((baseDf, base, pool, appends), genMs) = ctx.timeMs(ctx.tracer("sources.gen") {
      val df = gen(n, "ingest.base").persist()
      val base = Frames.collectVectors(df)
      val pool = Frames.collectVectors(gen(PoolQ, "ingest.queries")).toIndexedSeq
      val appends = Frames.collectVectors(gen(AppendN, "ingest.append"))
        .map { case (i, v) => (n + i, v) }
      (df, base, pool, appends)
    })
    val (mutation, gtMs) = ctx.timeMs(ctx.tracer("sources.gt") {
      val table = Exact.Table(base ++ appends)
      val live = new java.util.BitSet()
      live.set(0, n + AppendN)
      val rnd = new SplittableRandom(ctx.seedFor("ingest.delete"))
      val del = Iterator.continually(rnd.nextInt(n + AppendN))
        .distinct.take(DeleteN).map(_.toLong).toSeq.sorted
      val deleted = new java.util.BitSet()
      del.foreach { i => live.clear(i.toInt); deleted.set(i.toInt) }
      val sampled = (0 until PoolQ by BatchQ / RecallSample).toArray
      val gt = Exact.topK(table, i => live.get(i.toInt), sampled.map(pool(_)._2), K)
      new Mutation(appends, del, sampled.zip(gt).toMap, live, deleted)
    })
    if (rep == 0) {
      ctx.digest.rows(base); ctx.digest.rows(pool)
      ctx.digest.rows(mutation.append); mutation.delete.foreach(ctx.digest.long)
    }
    var buildMs, writeMs = 0.0
    var bytes = 0L
    val stored = Families.map { f =>
      val (art, bMs) = ctx.timeMs(ctx.tracer(s"build.${f.name}") {
        Registry.indexer(f.name, f.build, "l2").build(baseDf)
      })
      val dir = ctx.workDir.resolve(s"ingest-${f.name}").toString
      val (_, sMs) = ctx.timeMs(ctx.tracer(s"store.save.${f.name}") {
        ArtifactStore.save(art, dir, "l2", Dim, n, ctx.seedFor("ingest.base").toString,
          f.build.toSeq.sorted.mkString(","))
      })
      buildMs += bMs; writeMs += sMs
      bytes += ArtifactStore.dirSizeBytes(dir)
      (f, dir)
    }
    val h = HybridArm.setup(ctx, rep, if (rep < 0) WarmDocs else HybridArm.NDocs)
    if (rep >= 0) {
      ctx.rec.setupS += (System.nanoTime() - t0) / 1e9
      ctx.rec.buildS += (buildMs + h.buildMs) / 1e3
      ctx.rec.writeS += (writeMs + h.saveMs) / 1e3
      ctx.rec.genS += (genMs + h.genMs) / 1e3
      ctx.rec.gtS += (gtMs + h.gtMs) / 1e3
      ctx.rec.storeBytes += (bytes + h.bytes).toDouble
    }
    new State(baseDf, pool, mutation, stored, h.state)
  }
}
