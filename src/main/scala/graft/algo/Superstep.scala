package graft.algo

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats

/** The superstep skeletons and per-superstep durable checkpointing
  * with per-partition lineage and convergence metrics (north rule;
  * reference analogue: community-id write-back batches,
  * community_detection.py:156-181, G-7).
  *
  * Three skeletons own the loop, its storage and its stopping rule;
  * the operator supplies only the per-round plan. [[Superstep.iterate]]
  * carries one frame (PageRank, CC, LPA, the power iterations,
  * Hyperball, the peeling refinements, Borůvka's pointer jumping, and
  * the fixed-round TextRank and FeatureProp layers).
  * [[Superstep.frontier]] carries a settled state plus the frontier
  * that drives the next round (ShortestPaths' BFS, Bellman–Ford and
  * temporal earliest-arrival / latest-departure, BowTie reachability,
  * the Betweenness forward pass, SCC's backward reach).
  * [[Superstep.peel]] carries a shrinking live set and unions each
  * round's winners (Kahn layering, MIS and greedy coloring, the
  * matchings, Borůvka). Of the loops that run inside [[scope]], these
  * are hand-written, because they fit none of the three shapes:
  *
  *  - `Cascade`: the per-vertex counts are rewritten every round and
  *    the frontier is read off the rewritten state, not merged into it;
  *  - `ShortestPaths.fastestDuration`: the Pareto-merged state is
  *    built before the round's frontier (merged minus old) is known;
  *  - the `Betweenness` backward passes: a fixed top-down walk over
  *    the forward pass's levels with two carried frames (the level's δ
  *    and the accumulator) and no convergence test;
  *  - `Coloring`: measures only every `checkEvery` rounds and carries
  *    a periodically contracted edge frame;
  *  - `Densest`: each round's measuring action collects driver-side
  *    peel statistics, and a removal-tag frame rides along the edges;
  *  - `KTruss`: the last round's support table outlives the loop;
  *  - `ModularityRefine`: without `earlyStop` it runs no measuring
  *    action and its frames belong to the caller's cleanup hook;
  *  - `RandomWalks`: the uniform walks take a fixed number of steps,
  *    with retired walks carried as a lazy second frame until the
  *    final union; the biased walks count their pending walks before
  *    the first round;
  *  - `Scc`'s trim and colouring phases: trim peels the graph state
  *    (edges, vertices, settled) that every later round reads, and
  *    all three phases draw on one round budget.
  *
  * Iterations that run with AQE on do not enter [[scope]] and are not
  * listed.
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
  * advances the `_LATEST` marker — written to a sibling temp file and
  * renamed over the old marker atomically — so a kill mid-write
  * resumes from the previous complete superstep.
  *
  * Storage lifetime. `localCheckpoint` pins its blocks until the RDD
  * is unpersisted, and one rule, applied only here, decides when:
  * '''a local checkpoint stays pinned exactly while a named root can
  * reach it'''. "Reach" means the checkpoint is a `LogicalRDD` leaf
  * of the root's analyzed plan (subqueries included) or lies in the
  * RDD dependency closure of such a leaf — an unmaterialized lazy
  * checkpoint still reads its inputs. The rule runs at two levels:
  * [[Superstep.scope]] on a run's exit (roots = the returned frames)
  * and [[Superstep.CheckpointGC]]`.tick` after each loop round (roots =
  * the loop-carried frames). Only checkpoints created inside the
  * scope or loop are candidates, so a caller's frames always survive.
  *
  *  - It frees local checkpoints only. `Dataset.persist` caches keep
  *    their owner's `unpersist()`: releasing one behind the
  *    CacheManager's back would leave a stale cache entry that later
  *    plans still substitute.
  *  - It assumes one driver thread builds checkpoints against the
  *    SparkContext at a time: "created inside" is the set of
  *    persistent RDDs that appeared since entry, so a checkpoint a
  *    concurrent thread makes meanwhile would count as this run's.
  */
object Superstep {

  /** localCheckpoint + reset of the inherited stats lineage — use for
    * every per-iteration checkpoint whose next round joins it more than
    * once (see [[CheckpointStats]]: Spark 4 propagates origin stats
    * through checkpoints, and multi-use joins grow the inherited
    * sizeInBytes BigInt exponentially with rounds until PLANNING
    * dominates wall time).
    */
  def freshCheckpoint(df: org.apache.spark.sql.DataFrame,
                      eager: Boolean): org.apache.spark.sql.DataFrame =
    CheckpointStats.dropOriginStats(df.localCheckpoint(eager))

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
      case l: org.apache.spark.sql.execution.LogicalRDD => CheckpointStats.release(l.rdd)
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
    ids.foreach(id => now.get(id).foreach(CheckpointStats.release))
  }

  /** The frames a scope's value hands back: the value itself, or the
    * DataFrame fields of a case class, tuple or collection.
    */
  private def frames(v: Any): Seq[DataFrame] = v match {
    case d: org.apache.spark.sql.Dataset[_] => Seq(d.toDF())
    case it: Iterable[_] => it.iterator.flatMap(frames).toSeq
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  /** The lifetime rule over the local checkpoints created since
    * construction. `Dataset.localCheckpoint` pins its RDD until it is
    * unpersisted; a loop that checkpoints every superstep would
    * otherwise hold one copy of its state per round and slowly starve
    * the executor storage pool (observed: unrelated queries 10× slower
    * after a long PageRank run in the same session).
    */
  final class CheckpointGC(spark: SparkSession) {
    private val preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet

    /** Unpersist every local checkpoint created since construction
      * that none of `roots` can reach. A loop calls it after each round
      * naming every frame the next round reads that the loop made
      * (`tick(state, frontier)`). `Dataset.persist` caches are never
      * touched.
      */
    def tick(roots: DataFrame*): Unit = {
      val live = CheckpointStats.reachableRdds(roots)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preexisting(id) && !live(id) && CheckpointStats.isLocalCheckpoint(rdd))
          CheckpointStats.release(rdd)
      }
    }

    /** Unpersist every persistent RDD created since construction —
      * `Dataset.persist` caches included — except the newest
      * `keepLatest`: the between-repetitions teardown of the bench
      * harnesses (`close(0)`).
      */
    def close(keepLatest: Int = 1): Unit = {
      val now = spark.sparkContext.getPersistentRDDs
      val created = (now.keySet -- preexisting).toList.sorted
      created.dropRight(keepLatest).foreach(id => now.get(id).foreach(CheckpointStats.release))
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
    *  - storage: a [[CheckpointGC]] built before the start state is
    *    evaluated frees, after each step, every checkpoint the start
    *    and the steps created that the new state cannot reach;
    *  - durability: every `ckpt.every` steps, and at convergence, the
    *    state is saved with the step's metrics and the loop continues
    *    from the re-read copy;
    *  - materialize-before-sweep: a final state that is still an
    *    unmaterialized lazy checkpoint (a step with no measuring action)
    *    is counted before the last sweep, so its ancestors are freed
    *    rather than kept reachable. A measured or eagerly checkpointed
    *    state costs no extra job.
    *
    * Convergence policy: `iterate` never hides a cap stop — the flag
    * is returned, and each caller either reports it in its result
    * (PageRank, LPA, the power iterations) or throws
    * `IllegalStateException` ending "raise maxIter" (CC, Hyperball,
    * k-core, s-core, coreness and trussness, whose partial answer would
    * be wrong, not just imprecise — the policy [[frontier]] and [[peel]]
    * apply themselves). Borůvka's pointer jumping throws without the
    * hint: its 64-jump cap is fixed and unreachable under a strict edge
    * order. Fixed-round callers (WL, PIC, Fiedler, SimRank, hitting
    * time, seeded LPA, batch personalized PageRank, TextRank,
    * FeatureProp) never measure, so they have no cap stop. It adds no
    * Spark job per superstep and changes no AQE setting; callers keep
    * their run-level [[scope]].
    */
  def iterate(spark: SparkSession, start: => DataFrame, maxIter: Int,
              ckpt: Option[Superstep] = None)
             (step: DataFrame => Step): (DataFrame, Int, Boolean) = {
    val gc = new CheckpointGC(spark)
    val resumed = ckpt.flatMap(_.resume())
    var state = resumed.fold(start)(_._2)
    var steps = resumed.fold(0)(_._1)
    var converged = false
    while (steps < maxIter && !converged) {
      val s = step(state)
      steps += 1
      converged = s.converged
      state = s.state
      gc.tick(state)
      ckpt.foreach { c =>
        if (steps % c.every == 0 || converged)
          state = c.save(steps, state, s.metrics)
      }
    }
    if (!CheckpointStats.materialized(state))
      state.count()
    gc.tick(state)
    (state, steps, converged)
  }

  /** The frontier skeleton: [[iterate]]'s two-frame variant for BFS and
    * label-correcting loops, whose state is the set of labels settled
    * so far and whose next round reads only the rows the last round
    * added or improved. `start` is checkpointed eagerly and is the
    * first state and frontier. Each round checkpoints
    * `expand(frontier, state)` lazily as the next frontier and counts
    * it (the round's one measuring action, which also materializes
    * it); a non-empty frontier is folded into the state by `merge`
    * under an eager checkpoint — a union where settled rows never
    * change (BFS), a min/max re-aggregation where they can improve
    * (relaxation). After each round a [[CheckpointGC]] keeps only what
    * the state and the frontier reach.
    *
    * Returns (state, rounds run) when a round finds nothing new; that
    * last, empty round is counted. A frontier still live after
    * `maxIter` rounds throws `IllegalStateException`: a partial
    * reachability or distance labeling is wrong, not just imprecise.
    */
  def frontier(spark: SparkSession, start: DataFrame, maxIter: Int, what: String,
               merge: (DataFrame, DataFrame) => DataFrame = _ unionByName _)
              (expand: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) = {
    val gc = new CheckpointGC(spark)
    var state = freshCheckpoint(start, eager = true)
    var frontier = state
    var live = frontier.count()
    var rounds = 0
    while (live > 0) {
      if (rounds >= maxIter)
        throw new IllegalStateException(
          s"$what frontier still live after $maxIter rounds — raise maxIter")
      frontier = freshCheckpoint(expand(frontier, state), eager = false)
      live = frontier.count() // materializes the lazy checkpoint
      if (live > 0) state = freshCheckpoint(merge(state, frontier), eager = true)
      gc.tick(state, frontier)
      rounds += 1
    }
    (state, rounds)
  }

  /** The peel skeleton: the shrink-and-emit loops (Kahn layering, MIS
    * and greedy coloring, the matchings, Borůvka), whose live set
    * shrinks every round and whose answer is the union of every round's
    * winners. `start` is the first live value, built after the
    * skeleton's [[CheckpointGC]] so its checkpoints are freed once no
    * round reads them: a DataFrame, or a tuple whose first frame is the
    * counted live set and whose other frames ride along (the live
    * edges). Its frames are the caller's eager checkpoints; the skeleton
    * counts the first. `round(live, r)`, r = 1, 2, …, returns the
    * round's winners, drawn from the live set, and the next live value.
    * After each round the skeleton keeps only what the live frames and
    * the winners reach and counts the live set (the round's one action
    * beyond its own checkpoints).
    *
    * Two stops, neither silent: a round that leaves every live row
    * live is a stall caused by the input (a cycle, a key collision) and
    * fails `require` with the caller's `stall` hint; live rows left
    * after `maxIter` rounds throw `IllegalStateException` ("raise
    * maxIter"). The union of the winners is checkpointed lazily and
    * counted. An empty start runs one round, so the empty answer still
    * has the winners' columns.
    */
  def peel[L](spark: SparkSession, start: => L, maxIter: Int, what: String, stall: String)
             (round: (L, Int) => (DataFrame, L)): DataFrame = {
    val gc = new CheckpointGC(spark)
    def size(live: L): Long = frames(live).head.count()
    var live = start
    var n = size(live)
    var won = List.empty[DataFrame] // newest first
    var r = 0
    do {
      if (n > 0 && r >= maxIter)
        throw new IllegalStateException(
          s"$what did not settle within $maxIter rounds — raise maxIter")
      r += 1
      val (winners, next) = round(live, r)
      won ::= winners
      live = next
      gc.tick(frames(live) ++ won: _*)
      val m = size(live)
      require(n == 0 || m < n, s"$what round $r made no progress ($n live rows): $stall")
      n = m
    } while (n > 0)
    val res = won.reverse.reduce(_ unionAll _).localCheckpoint(false)
    res.count()
    res
  }

  /** The run-level entry of every superstep algorithm: runs `f` with
    * AQE disabled ([[withoutAQE]]) and, on exit — normal or thrown —
    * frees every local checkpoint created inside it that the returned
    * value cannot reach. The roots are the value itself if it is a
    * DataFrame, or its DataFrame fields if it is a case class, tuple or
    * collection; a throw has no roots, so it frees everything the run
    * checkpointed. Frames the caller made before the call survive.
    */
  def scope[T](spark: SparkSession)(f: => T): T = withoutAQE(spark) {
    val gc = new CheckpointGC(spark)
    var roots = Seq.empty[DataFrame]
    try {
      val out = f
      roots = frames(out)
      out
    } finally gc.tick(roots: _*)
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
    // the state's own schema: inferring it from the footers costs a job
    val reread = spark.read.schema(state.schema).parquet(path)

    // per-partition lineage: row count + order-independent content hash,
    // in one narrow pass over the re-read scan; empty partitions omitted
    val partStats = reread.select(xxhash64(reread.columns.map(col): _*))
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        var n = 0L
        var h = 0L
        rows.foreach { r => n += 1; h ^= r.getLong(0) }
        if (n == 0) Iterator.empty else Iterator((pid, n, h))
      }
      .collect()
      .sortBy(_._1)
      .map { case (pid, n, h) =>
        s"""{"partitionId":$pid,"rowCount":$n,"lineageHash":$h}""" }
      .mkString("[", ",", "]")

    val dm = driverMetrics
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"superstep":$step,"partitions":$partStats${if (dm.nonEmpty) "," + dm else ""}}"""
    Files.write(base.resolve(s"metrics/superstep=$step.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

    // commit: a rename never exposes a truncated marker to `latest()`
    val tmp = base.resolve("_LATEST.tmp")
    Files.write(tmp, step.toString.getBytes("UTF-8"))
    Files.move(tmp, latestPath, StandardCopyOption.ATOMIC_MOVE)
    reread
  }
}
