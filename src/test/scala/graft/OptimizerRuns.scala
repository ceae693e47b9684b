package graft

import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Optimizer passes run while a block runs, read off Catalyst's
  * process-wide rule meter as the change in ConvertToLocalRelation's run
  * count (every optimizer pass runs that rule; analysis never does). Like
  * job counts, the count does not depend on host load. */
object OptimizerRuns {
  private val rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** the rule's total runs: the last field of its `dumpTimeSpent` line,
    * "effective runs / total runs" */
  private def runs(): Long =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim)
      .find(_.startsWith(rule + " "))
      .map(_.split("\\s+").last.toLong).getOrElse(0L)

  def of[T](body: => T): (Long, T) = {
    val before = runs()
    val r = body
    (runs() - before, r)
  }
}
