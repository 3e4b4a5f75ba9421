package graft.algo

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The superstep skeleton ([[Superstep.iterate]]) and per-superstep
  * durable checkpointing with per-partition lineage and convergence
  * metrics (north rule; reference analogue: community-id write-back
  * batches, community_detection.py:156-181, G-7).
  *
  * Layout under `dir` (parquet-as-Iceberg table layout):
  *
  *   superstep=N/            state parquet for superstep N
  *   metrics/superstep=N.json  per-partition (partitionId, rowCount,
  *                             lineageHash) + driver metrics (delta …)
  *   _LATEST                   marker, written last → commit point
  *
  * `save` writes the state, re-reads it (truncating the Catalyst plan —
  * without this the per-iteration plan grows unboundedly), computes the
  * per-partition lineage of what was actually persisted, and only then
  * advances the `_LATEST` marker, so a kill mid-write resumes from the
  * previous complete superstep.
  */
object Superstep {

  /** localCheckpoint + reset of the inherited stats lineage — use for
    * every per-iteration checkpoint whose next round joins it more than
    * once (see [[org.apache.spark.sql.graft.CheckpointStats]]: Spark 4
    * propagates origin stats through checkpoints, and multi-use joins
    * grow the inherited sizeInBytes BigInt exponentially with rounds
    * until PLANNING dominates wall time).
    */
  def freshCheckpoint(df: org.apache.spark.sql.DataFrame,
                      eager: Boolean): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.CheckpointStats
      .dropOriginStats(df.localCheckpoint(eager))

  /** Release the block-manager blocks pinned by a localCheckpoint'd
    * frame. `Dataset.unpersist` only consults the CacheManager and is
    * a NO-OP for checkpoint-pinned RDDs; this unpersists the
    * checkpoint RDD itself. The frame becomes unusable afterwards
    * (checkpoint lineage is truncated and cannot recompute) — call
    * only when every reference is dead. No-op for non-checkpoint
    * frames.
    */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Unpersist exactly the persistent RDDs in `ids` (skipping any
    * already gone) — the ownership-scoped release behind the
    * ModularityRefine / Louvain cleanup hooks: callers snapshot
    * `getPersistentRDDs.keySet` before and after their run and pass
    * the difference, so frames created later by anyone else survive.
    */
  def releaseIds(spark: SparkSession, ids: Set[Int]): Unit = {
    val now = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => now.get(id).foreach(_.unpersist(false)))
  }

  /** Frees superseded localCheckpoint state RDDs.
    *
    * `Dataset.localCheckpoint` pins its RDD in the block manager for
    * the session's lifetime; an iterative loop that checkpoints every
    * superstep would otherwise accumulate one pinned copy of the state
    * per iteration and slowly starve the executor storage pool
    * (observed: unrelated queries 10× slower after a long PageRank run
    * in the same session). Construct AFTER the loop's own long-lived
    * caches; `tick()` after each checkpoint frees all loop-created
    * persistent RDDs except the newest `keep`.
    */
  final class CheckpointGC(spark: SparkSession, keep: Int = 2) {
    private val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    private val exempted = scala.collection.mutable.Set.empty[Int]
    /** Exclude a mid-loop checkpoint from the age-ordered sweep — for
      * frames with a DIFFERENT lifetime than the state chain (e.g. a
      * contracted active-edge set that every later round reads). The
      * caller owns freeing it (freeCheckpoint) when superseded.
      */
    def exempt(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => exempted += l.rdd.id
        case _ => ()
      }
    def tick(): Unit = {
      val now = spark.sparkContext.getPersistentRDDs
      val created = (now.keySet -- preexisting -- exempted).toList.sorted
      created.dropRight(keep).foreach(id => now.get(id).foreach(_.unpersist(false)))
    }
    /** Free everything the loop created (call on exit, after the final
      * state has been consumed or durably saved). Exempted frames are
      * still skipped — their owner frees them.
      */
    def close(keepLatest: Int = 1): Unit = {
      val now = spark.sparkContext.getPersistentRDDs
      val created = (now.keySet -- preexisting -- exempted).toList.sorted
      created.dropRight(keepLatest).foreach(id => now.get(id).foreach(_.unpersist(false)))
    }
  }

  /** One superstep's outcome: the next state, whether it is the fixed
    * point, and the driver metrics a durable save records with it
    * (`delta`, `changes`, …). A step that runs no measuring action
    * leaves `converged` false.
    */
  final case class Step(state: DataFrame, converged: Boolean = false,
                        metrics: Map[String, Double] = Map.empty)

  /** The superstep skeleton (Pregelix-style: the runtime, not the
    * operator, owns checkpointing and the stopping rule). Runs `step`
    * until it reports convergence or `maxIter` supersteps have run and
    * returns (final state, supersteps run, converged). The step owns
    * the per-superstep plan and its measuring action; `iterate` owns
    * everything around it:
    *
    *  - resume: when `ckpt` holds a committed superstep the loop starts
    *    from that state and step number, and `start` is never
    *    evaluated; resumed steps count toward `maxIter` and the result;
    *  - storage: a [[CheckpointGC]] built after the start state (which,
    *    with any cache its evaluation fills, stays the caller's) frees
    *    every checkpoint the steps create except the newest `keep`
    *    after each step, and all but the newest on exit;
    *  - durability: every `ckpt.every` steps, and at convergence, the
    *    state is saved with the step's metrics and the loop continues
    *    from the re-read copy;
    *  - materialize-before-close: a final state that is still an
    *    unmaterialized lazy checkpoint (a step with no measuring action)
    *    is counted before the sweep, since the sweep frees the frames
    *    its lineage reads. A measured or eagerly checkpointed state
    *    costs no extra job.
    *
    * Convergence policy: `iterate` never hides a cap stop — the flag
    * is returned, and each caller either reports it in its result
    * (PageRank, LPA, the power iterations) or throws (CC and the
    * peeling loops, whose partial answer would be wrong, not just
    * imprecise). It adds no Spark job per superstep and changes no
    * AQE setting; callers keep their run-level [[withoutAQE]] scope.
    */
  def iterate(spark: SparkSession, start: => DataFrame, maxIter: Int,
              keep: Int = 2, ckpt: Option[Superstep] = None)
             (step: DataFrame => Step): (DataFrame, Int, Boolean) = {
    val resumed = ckpt.flatMap(_.resume())
    var state = resumed.fold(start)(_._2)
    val gc = new CheckpointGC(spark, keep)
    var steps = resumed.fold(0)(_._1)
    var converged = false
    while (steps < maxIter && !converged) {
      val s = step(state)
      steps += 1
      converged = s.converged
      state = s.state
      gc.tick()
      ckpt.foreach { c =>
        if (steps % c.every == 0 || converged)
          state = c.save(steps, state, s.metrics)
      }
    }
    if (!org.apache.spark.sql.graft.CheckpointStats.materialized(state))
      state.count()
    gc.close()
    (state, steps, converged)
  }

  /** Run `f` with AQE disabled. Inside a superstep loop AQE is a
    * pessimization: it re-plans every micro-job AND drops the known
    * hash-partitioning of localCheckpoint'ed state (LogicalRDD under
    * AdaptiveSparkPlan reports UnknownPartitioning), forcing a
    * re-Exchange of the full state every iteration. With AQE off the
    * per-iteration plan is one shuffle (the contribution/min/mode
    * aggregation); the state⋈agg join is co-partitioned and
    * exchange-free. Skew inside iterations is handled structurally
    * (degree-ordering, salting), not by AQE.
    */
  def withoutAQE[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

final class Superstep(spark: SparkSession, dir: String, val every: Int = 5) {

  private val base = Paths.get(dir)
  Files.createDirectories(base.resolve("metrics"))

  private def latestPath = base.resolve("_LATEST")

  /** Highest committed superstep, if any. */
  def latest(): Option[Int] =
    if (Files.exists(latestPath))
      Some(new String(Files.readAllBytes(latestPath)).trim.toInt)
    else None

  def load(step: Int): DataFrame =
    spark.read.parquet(base.resolve(s"superstep=$step").toString)

  /** The highest committed superstep and its state, if any. */
  def resume(): Option[(Int, DataFrame)] = latest().map(s => (s, load(s)))

  /** Persist `state` for `step`; returns the re-read (plan-truncated)
    * frame. `driverMetrics` are appended to the metrics JSON.
    */
  def save(step: Int, state: DataFrame,
           driverMetrics: Map[String, Double] = Map.empty): DataFrame = {
    val path = base.resolve(s"superstep=$step").toString
    state.write.mode("overwrite").parquet(path)
    val reread = spark.read.parquet(path)

    // per-partition lineage: row count + order-independent content hash
    val cols = reread.columns.map(col)
    val partStats = reread
      .withColumn("__pid", spark_partition_id())
      .withColumn("__h", xxhash64(cols: _*))
      .groupBy(col("__pid"))
      .agg(count(lit(1)).as("rowCount"),
        expr("bit_xor(__h)").as("lineageHash"))
      .collect()
      .map(r => s"""{"partitionId":${r.getInt(0)},"rowCount":${r.getLong(1)},"lineageHash":${r.getLong(2)}}""")
      .mkString("[", ",", "]")

    val dm = driverMetrics
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"superstep":$step,"partitions":$partStats${if (dm.nonEmpty) "," + dm else ""}}"""
    Files.write(base.resolve(s"metrics/superstep=$step.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

    Files.write(latestPath, step.toString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    reread
  }
}
