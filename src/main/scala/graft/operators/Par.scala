package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism floor for CPU-dense stages (r14
  * optimization round; guide §2.5 input skew / §6 split sizing).
  *
  * Spark sizes scan splits and AQE post-shuffle partitions by BYTES
  * (`maxPartitionBytes`, `advisoryPartitionSizeInBytes`) — correct when
  * task cost tracks bytes, wrong for operators whose per-row CPU dwarfs
  * their bytes: codec encode/decode ([[Multimodal]]), tokenize/shingle
  * UDFs ([[Dedup]], [[Bm25]]), verify/DAAT kernels. A kilobytes-sized
  * relation then lands in 1-2 scan tasks and the stage serializes on one
  * core while the rest of the machine idles (measured r14: the mm_video
  * decode ran 4.4 s in ONE task on local[32]).
  *
  * [[fan]] raises such a relation's partition count to the session's
  * default parallelism — but ONLY when its Catalyst size estimate says
  * the scan would split into fewer tasks than cores, so at real scale
  * (estimate ≥ cores × maxPartitionBytes) no exchange is ever inserted
  * and the call is a no-op. The floor derives from the runtime
  * (`defaultParallelism` = total cores on any master) and the session's
  * own split size, never from a constant tuned for this box. The
  * estimate is read off the optimized logical plan — deliberately NOT
  * `df.rdd.getNumPartitions`, which compiles the physical plan (janino
  * codegen) just to ask a question the stats already answer.
  *
  * Hash-partitioning on the caller's id key keeps row placement
  * deterministic under retries; a keyless round-robin `repartition(n)`
  * would pay a full local sort of the payload per SPARK-23207 and is the
  * shape the guide warns about.
  */
object Par {
  /** `df` hash-repartitioned on `key` up to the default parallelism iff
    * its estimated size would scan-split below it; identical rows either
    * way.
    *
    * `minBytesPerTask` scales the floor for moderately CPU-dense work
    * (tokenize/shingle: ~µs per byte): a kilobytes-sized relation then
    * fans to a few tasks instead of paying full-width task scheduling
    * for sub-millisecond work (r14 measured: the mod-7/mod-13 sampled
    * twins regressed ~0.3-0.5 s under an unconditional 32-way floor).
    * The default 0 keeps the full floor — right for codec-bound rows
    * (media encode/decode: ~ms per row) where even a tiny relation is
    * seconds of CPU. Both variants stay scale-adaptive: the target
    * derives from the runtime core count and the relation's own size
    * estimate, and past cores × maxPartitionBytes no exchange is
    * inserted at all. */
  def fan(df: DataFrame, key: Column, minBytesPerTask: Long = 0L): DataFrame =
    widened(df, key, minBytesPerTask).getOrElse(df)

  /** Scaled-floor variant for tokenize/shingle-grade work (~µs/byte). */
  def fanText(df: DataFrame, key: Column): DataFrame =
    fan(df, key, minBytesPerTask = 32 * 1024L)

  /** Co-location repartition with a scale-adaptive width floor, for
    * operators that MUST hash-partition on `key` anyway (WAND's DAAT
    * kernel co-locates each doc's postings) but whose post-shuffle work
    * is CPU-dense per row: below cores × maxPartitionBytes the exchange
    * gets an explicit width (REPARTITION_BY_NUM — AQE never coalesces a
    * user-specified width, so the kernel stage keeps its parallelism
    * without any session-level AQE floor; r15, replacing the r14 global
    * `minPartitionSize=64k`), above it the plain keyed repartition whose
    * width the planner/AQE sizes by bytes — the correct regime once
    * partitions carry real data. `minBytesPerTask` scales the floor so
    * kilobyte relations don't pay full-width task dispatch. */
  def co(df: DataFrame, key: Column, minBytesPerTask: Long = 0L): DataFrame =
    widened(df, key, minBytesPerTask).getOrElse(df.repartition(key))

  /** `df` repartitioned on `key` to the floor width when its estimate is
    * small ([[Regime.smallEstimate]]): the default parallelism, or with
    * `minBytesPerTask` one task per that many estimated bytes, capped at
    * it. None at real scale. */
  private def widened(df: DataFrame, key: Column,
      minBytesPerTask: Long): Option[DataFrame] =
    Regime.smallEstimate(df).map { est =>
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val target =
        if (minBytesPerTask <= 0L) cores
        else ((est + minBytesPerTask - 1) / minBytesPerTask)
          .min(BigInt(cores)).max(BigInt(1)).toInt
      df.repartition(target, key)
    }
}
