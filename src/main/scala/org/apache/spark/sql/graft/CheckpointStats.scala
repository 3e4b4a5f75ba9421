package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4's `Dataset.localCheckpoint` copies the origin plan's
  * statistics into the `LogicalRDD` it returns
  * (`LogicalRDD.rewriteStatsAndConstraints`, ExistingRDD.scala:263) —
  * the checkpoint truncates the plan but NOT the stats lineage. In an
  * iterative algorithm whose per-round plan joins the previous round's
  * checkpoint k>1 times (Louvain's local-move round uses the state
  * table three times; CC's star rounds self-join their edges), the
  * joins MULTIPLY sizeInBytes estimates, so the inherited BigInt grows
  * by a factor ~k per round — exponential BIT-length. Past ~10 rounds
  * the driver spends minutes inside `BigInteger.multiplyToomCook3`
  * during stats estimation and checkpoint creation: planning, not
  * execution, becomes the bottleneck (observed: a 97-vertex Leiden run
  * burning 19+ driver-minutes in BigInteger math).
  *
  * `dropOriginStats` rebuilds the checkpoint's `LogicalRDD` with
  * `originStats = None` (falling back to `defaultSizeInBytes`, like a
  * checkpoint in Spark 3.x), resetting the chain each round while
  * KEEPING the output partitioning and ordering metadata that the
  * exchange-free co-partitioned joins rely on. This file sits under
  * `org.apache.spark.sql` only for `Dataset.ofRows` access and the
  * `private[spark]` RDD checkpoint state — the standard extension
  * point for Spark-native libraries.
  */
object CheckpointStats {

  /** Strip inherited origin statistics (and constraints) from a frame
    * just returned by `localCheckpoint`. No-op for non-checkpoint
    * plans. Values, partitioning and ordering are unchanged.
    */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession.asInstanceOf[SparkSession]
    ds.queryExecution.analyzed match {
      case l: LogicalRDD =>
        Dataset.ofRows(session,
          LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(session)) // originStats default None
      case _ => df
    }
  }

  /** False iff some leaf of `df` is a local checkpoint that no job has
    * computed yet (a lazy `localCheckpoint` awaiting its first action).
    */
  def materialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case l: LogicalRDD => l.rdd.checkpointData.forall(_.isCheckpointed)
      case _ => true
    }
}
