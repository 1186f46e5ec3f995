package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into the `private[sql]` plan constructors for a checkpoint that
  * keeps its hash partitioning. `Dataset.localCheckpoint` records the
  * executed plan's `outputPartitioning`; under AQE that plan is an
  * `AdaptiveSparkPlanExec`, which reports `UnknownPartitioning`, so every
  * downstream co-partitioning claim would be lost. Here the partitioning
  * comes from the planned repartition exchange itself, and no session conf
  * changes while the job runs. */
object GraftCheckpointBridge {

  /** Eager local checkpoint of `df.repartition(parts, keys)` whose plan
    * reports that exchange's `HashPartitioning`. */
  def localCheckpointHashed(df: DataFrame, parts: Int,
                            keys: Column*): DataFrame = {
    val keyed = df.repartition(parts, keys: _*).asInstanceOf[classic.Dataset[Row]]
    val qe = keyed.queryExecution
    val plan = keyed.logicalPlan
    val partitioning = qe.sparkPlan.outputPartitioning match {
      case h: HashPartitioning if h.numPartitions == parts &&
          h.references.subsetOf(plan.outputSet) => h
      case other => throw new IllegalStateException(
        s"expected a hash exchange into $parts partitions, planned $other")
    }
    val rdd = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val r = qe.toRdd.map(_.copy()).localCheckpoint()
      r.count()
      r
    }
    // AQE never coalesces a repartition with an explicit count; a change
    // here would break the partitioning claimed below
    if (rdd.getNumPartitions != parts) throw new IllegalStateException(
      s"checkpoint has ${rdd.getNumPartitions} partitions, planned $parts")
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(plan, qe.optimizedPlan)
    classic.Dataset.ofRows(keyed.sparkSession,
      LogicalRDD(plan.output, rdd, partitioning, Nil, isStreaming = false)(
        keyed.sparkSession, stats, constraints))
  }
}
