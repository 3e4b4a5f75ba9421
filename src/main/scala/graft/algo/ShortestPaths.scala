package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-source BFS: hop distance from every vertex to each of a small
  * set of landmark vertices (the GraphX `ShortestPaths` shape; the
  * link-graph primitive behind "how far is this entity from the seed
  * set", landmark-based distance features, and diameter probes).
  *
  * Pregel frontier expansion: the state table holds every discovered
  * (id, landmark, dist) triple; each round the NEWLY discovered
  * frontier sends dist+1 to its neighbors, candidates are min-reduced
  * per (id, landmark), and already-settled pairs are anti-joined away.
  * BFS discovers each pair at its true minimum distance, so settled
  * rows never change — the state is append-only and the frontier (not
  * the full state) drives each round's join.
  *
  * Scale shape: per round the edge-sized work is ONE frontier⨝edges
  * join whose output is map-side min-combined before the (id,
  * landmark) exchange, plus a skinny anti-join against the state. The
  * frontier is the set of vertices at exactly distance t, so summed
  * over the whole run every (edge, landmark) pair crosses the wire
  * exactly once — total traffic |E|·|L|, same as |L| PageRank
  * iterations, regardless of diameter. Rounds = eccentricity of the
  * landmark set (small on web-ish graphs).
  *
  * The BFS, Bellman–Ford and temporal earliest-arrival /
  * latest-departure loops run on [[Superstep.frontier]]: each supplies
  * its round (`expand`) and, for relaxation, its min/max merge; the
  * skeleton owns the state and frontier checkpoints, the per-round
  * count, freeing superseded rounds and the `maxIter` stop.
  * Re-checkpointing the append-only state each round costs one extra
  * state-sized write per round (diameter× amplification on the skinny
  * 3-long rows) and buys a self-contained result. [[fastestDuration]]
  * keeps its own loop: its Pareto-merged state is rebuilt before the
  * round's frontier is known.
  *
  * Unreachable (id, landmark) pairs are absent from the output (no
  * +inf sentinel), matching the SQL twin's semantics.
  */
object ShortestPaths {

  /** @param symEdges symmetrized edges (both directions present); pass
    *                 a directed edge table to get directed distances
    * @param landmarks small broadcast-sized set of source vertex ids
    * @return (id, landmark, dist) for every reachable pair, dist in
    *         hops, landmark rows themselves at dist 0
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          landmarks: Seq[Long],
          numPartitions: Int = 32,
          maxIter: Int = 256): DataFrame = Superstep.scope(spark) {
    require(landmarks.nonEmpty, "ShortestPaths needs at least one landmark")
    import spark.implicits._

    val edges = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    val init = landmarks.distinct.toDF("landmark")
      .select(col("landmark").as("id"), col("landmark"), lit(0L).as("dist"))
    Superstep.frontier(spark, init, maxIter, "BFS")(hopStep(edges))._1
  }

  /** One BFS round: dist+1 to every neighbor of the frontier, minus
    * the (id, landmark) pairs already settled. The min-reduce is
    * map-side combinable, so the exchange carries ≤ one row per
    * (vertex, landmark) even off high-degree frontiers.
    */
  private[graft] def hopStep(edges: DataFrame)(frontier: DataFrame,
                                               state: DataFrame): DataFrame =
    frontier
      .join(edges.hint("shuffle_hash"), frontier("id") === edges("src"))
      .select(edges("dst").as("id"), col("landmark"),
        (col("dist") + lit(1L)).as("dist"))
      .groupBy(col("id"), col("landmark"))
      .agg(min(col("dist")).as("dist"))
      .join(state.select(col("id"), col("landmark")),
        Seq("id", "landmark"), "left_anti")

  /** One Bellman–Ford round: the frontier's relaxed (id, landmark)
    * costs that strictly beat the state's.
    */
  private[graft] def weightedStep(edges: DataFrame)(frontier: DataFrame,
                                                    state: DataFrame): DataFrame =
    improvements(
      frontier
        .join(edges.hint("shuffle_hash"), frontier("id") === edges("src"))
        .select(edges("dst").as("id"), col("landmark"),
          (col("dist") + col("weight")).as("dist"))
        .groupBy(col("id"), col("landmark"))
        .agg(min(col("dist")).as("dist")),
      state, Seq("id", "landmark"), "dist", _ < _)

  /** A relaxation round's new frontier: the `candidates` labels that
    * the state lacks or that `beat` its label for the same `keys`
    * (strictly — an equal label is not news).
    */
  private def improvements(candidates: DataFrame, state: DataFrame,
                           keys: Seq[String], label: String,
                           beat: (Column, Column) => Column): DataFrame =
    candidates
      .join(state.select(keys.map(col) :+ col(label).as("old"): _*), keys, "left")
      .filter(col("old").isNull || beat(col(label), col("old")))
      .select(keys.map(col) :+ col(label): _*)

  /** A relaxation merge: per key, the `best` (min or max) of the
    * state's label and the improved one.
    */
  private def keepBest(keys: Seq[String], label: String, best: Column => Column)
                      (state: DataFrame, improved: DataFrame): DataFrame =
    state.unionByName(improved).groupBy(keys.map(col): _*).agg(best(col(label)).as(label))

  /** Weighted single-source shortest paths from a landmark set —
    * Bellman–Ford frontier relaxation (non-negative weights). Unlike
    * the hop-count BFS above, a settled (id, landmark) pair CAN still
    * improve via a longer-hop cheaper path, so the state is min-merged
    * each round and the frontier is the set of pairs whose best cost
    * just improved; convergence when nothing improves (≤ V−1 rounds,
    * in practice the weighted diameter's hop count).
    *
    * Per round: one frontier⨝edges join (map-side min-combined before
    * the (id, landmark) exchange — a hub frontier contributes one row
    * per (partition, pair)), one left join against the state to keep
    * strict improvements, one skinny state re-aggregation. Total
    * traffic is |E|·|L| × (improvement rounds per pair), the classic
    * Bellman–Ford overhead over Dijkstra that buys full parallelism —
    * the standard trade on web-scale graphs.
    */
  def weighted(spark: SparkSession,
               edges: DataFrame,
               landmarks: Seq[Long],
               numPartitions: Int = 32,
               maxIter: Int = 512): DataFrame = Superstep.scope(spark) {
    require(landmarks.nonEmpty, "ShortestPaths needs at least one landmark")
    import spark.implicits._

    val e = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst"), col("weight").cast("long"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    val init = landmarks.distinct.toDF("landmark")
      .select(col("landmark").as("id"), col("landmark"), lit(0L).as("dist"))
    Superstep.frontier(spark, init, maxIter, "Bellman-Ford",
      merge = keepBest(Seq("id", "landmark"), "dist", min(_)))(weightedStep(e))._1
  }

  /** Temporal earliest-arrival reachability (Wu et al. 2016, "Path
    * Problems in Temporal Graphs"): over edges that exist at a POINT in
    * time — (src, dst, ts) interaction events — a path is valid only if
    * its timestamps are non-decreasing, and the query is "from the seed
    * set at startTime, what is the earliest time each vertex can be
    * reached?". The link-graph primitive for influence/contagion reach
    * over commit, message, or citation streams, where static
    * reachability badly over-connects (A→B at t=5, B→C at t=3 does NOT
    * imply A reaches C).
    *
    * Label-correcting relaxation in the [[weighted]] Bellman–Ford
    * shape: state = best-known arrival per vertex, frontier = vertices
    * whose arrival just improved, candidates = frontier⨝edges on src
    * with the temporal gate ts ≥ arrival, arrival at dst = the edge's
    * ts (traversal is instantaneous at the interaction moment).
    * Improvements only DECREASE arrivals and decreasing an arrival only
    * WIDENS the feasible edge set, so the fixed point is the true
    * earliest-arrival labeling. Per round: one frontier⨝edges
    * shuffle-hash join min-combined map-side before the vertex
    * exchange, one state left join for strict improvements, one skinny
    * min-merge — the [[weighted]] budget exactly; the temporal gate is
    * a codegen'd post-join filter on the co-partitioned rows.
    *
    * @param temporalEdges (src, dst, ts) — one row per timestamped
    *                      interaction, ts integral (epoch or logical)
    * @param seeds one column `id` — the source set (dedup'd here)
    * @param startTime seeds are active from this instant; edges with
    *                  ts < startTime are unusable from a seed directly
    * @return (id, arrival) for every temporally reachable vertex,
    *         seeds themselves at startTime; unreachable ids absent
    */
  def earliestArrival(spark: SparkSession,
                      temporalEdges: DataFrame,
                      seeds: DataFrame,
                      startTime: Long,
                      numPartitions: Int = 32,
                      maxIter: Int = 512): DataFrame = Superstep.scope(spark) {
    val e = Superstep.freshCheckpoint(
      temporalEdges.select(col("src"), col("dst"), col("ts").cast("long"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    val init = seeds.select(col("id")).distinct()
      .select(col("id"), lit(startTime).as("arrival"))
      .repartition(numPartitions, col("id"))
    Superstep.frontier(spark, init, maxIter, "earliest-arrival",
      merge = keepBest(Seq("id"), "arrival", min(_))) { (frontier, state) =>
      val candidates = frontier
        .join(e.hint("shuffle_hash"), frontier("id") === e("src"))
        .filter(col("ts") >= col("arrival")) // the temporal gate
        .select(e("dst").as("id"), col("ts").as("arrival"))
        .groupBy(col("id"))
        .agg(min(col("arrival")).as("arrival"))
      improvements(candidates, state, Seq("id"), "arrival", _ < _)
    }._1
  }

  /** Latest-departure reachability — [[earliestArrival]]'s mirror (the
    * other half of Wu et al.'s temporal-path quartet): the LATEST time
    * one can leave each vertex and still reach the target set by
    * `deadline`. LD(target) = deadline; LD(v) = max ts over edges
    * (v, u, ts) with ts ≤ LD(u) — departing v at ts arrives at u at ts,
    * which must not overshoot u's own latest departure. The operational
    * question for propagation deadlines ("until when can a fix land at
    * v and still ship by Friday").
    *
    * Max-merge label correcting: improvements only INCREASE departures
    * and increasing LD(u) only WIDENS the feasible edge set, so the
    * fixed point is the true latest-departure labeling. Exchange budget
    * identical to [[earliestArrival]], with the edge table partitioned
    * on dst (the probe side of the reversed traversal).
    *
    * @param temporalEdges (src, dst, ts), ts integral
    * @param targets one column `id` — the destination set
    * @param deadline arrivals after this instant are too late
    * @return (id, departure) for every vertex that can reach a target
    *         in time, targets themselves at `deadline`
    */
  def latestDeparture(spark: SparkSession,
                      temporalEdges: DataFrame,
                      targets: DataFrame,
                      deadline: Long,
                      numPartitions: Int = 32,
                      maxIter: Int = 512): DataFrame = Superstep.scope(spark) {
    val e = Superstep.freshCheckpoint(
      temporalEdges.select(col("src"), col("dst"), col("ts").cast("long"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("dst")), eager = true)

    val init = targets.select(col("id")).distinct()
      .select(col("id"), lit(deadline).as("departure"))
      .repartition(numPartitions, col("id"))
    Superstep.frontier(spark, init, maxIter, "latest-departure",
      merge = keepBest(Seq("id"), "departure", max(_))) { (frontier, state) =>
      val candidates = frontier
        .join(e.hint("shuffle_hash"), frontier("id") === e("dst"))
        .filter(col("ts") <= col("departure")) // must not overshoot u's LD
        .select(e("src").as("id"), col("ts").as("departure"))
        .groupBy(col("id"))
        .agg(max(col("departure")).as("departure"))
      improvements(candidates, state, Seq("id"), "departure", _ > _)
    }._1
  }

  /** Fastest-duration reachability — the remaining half of Wu et al.'s
    * temporal-path quartet: the MINIMUM elapsed time (arrival −
    * departure) over all time-respecting paths from the seed set to
    * each vertex. Earliest-arrival greedily departs as soon as
    * possible and can badly overestimate duration (departing later may
    * catch a direct connection); the fastest path needs BOTH endpoints
    * of the interval, so the per-vertex state is a PARETO FRONTIER of
    * (departure d, arrival a) labels — keep (d, a) unless some (d′,
    * a′) has d′ ≥ d AND a′ ≤ a. Dominance composes: any extension of a
    * dominated label (edge ts ≥ a₂ ≥ a₁) is feasible from its
    * dominator with the same arrival and a no-earlier departure, so
    * pruning is exact, and an evicted label can never re-enter (its
    * dominator is only ever replaced by transitively-stronger labels).
    * Each feasible (id, d, a) triple therefore enters the frontier at
    * most once — the label-correcting loop terminates on the finite
    * label space, in practice after temporal-hop-diameter rounds.
    *
    * Scale shape: per round one frontier⨝edges shuffle-hash join whose
    * output is map-side min-combined at (id, d) grain, one per-VERTEX
    * window prune (partitions are single vertices; frame = the Pareto
    * set, bounded by the vertex's distinct incident timestamps — never
    * a global sort), and one co-partitioned anti-join for the new
    * frontier. Label volume per vertex ≤ min(distinct seed-side
    * departure times, distinct arrival timestamps) — on event streams
    * with coarse time grain this is small; a pathological
    * every-edge-unique-ts hub pays its in-degree, the inherent size of
    * the exact answer (Wu et al. §4).
    *
    * @param temporalEdges (src, dst, ts), ts integral
    * @param seeds one column `id` — the source set (dedup'd here)
    * @param startTime departures before this instant are forbidden
    * @return (id, duration) — seeds at 0; a non-seed vertex appears
    *         iff temporally reachable, with the min elapsed time
    */
  def fastestDuration(spark: SparkSession,
                      temporalEdges: DataFrame,
                      seeds: DataFrame,
                      startTime: Long,
                      numPartitions: Int = 32,
                      maxIter: Int = 512): DataFrame = Superstep.scope(spark) {
    val e = Superstep.freshCheckpoint(
      temporalEdges.select(col("src"), col("dst"), col("ts").cast("long"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    // Pareto prune: per (id, d) keep min a, then per id in descending-d
    // order keep a label iff its arrival beats every larger-departure
    // arrival strictly (equal arrivals → the later departure wins)
    def pareto(labels: DataFrame): DataFrame = {
      val byD = labels.groupBy(col("id"), col("d")).agg(min(col("a")).as("a"))
      val w = Window.partitionBy(col("id")).orderBy(col("d").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      byD.withColumn("bestA", min(col("a")).over(w))
        .filter(col("bestA").isNull || col("a") < col("bestA"))
        .drop("bestA")
    }

    val sd = Superstep.freshCheckpoint(
      seeds.select(col("id")).distinct()
        .repartition(numPartitions, col("id")), eager = true)

    // round 0: one hop out of the seeds — departure = the first edge's
    // ts (the whole point: the path's clock starts at its first edge)
    val hop0 = sd.join(e.hint("shuffle_hash"), sd("id") === e("src"))
      .filter(col("ts") >= startTime)
      .select(e("dst").as("id"), col("ts").as("d"), col("ts").as("a"))
    var state = Superstep.freshCheckpoint(
      pareto(hop0).repartition(numPartitions, col("id")), eager = true)
    var frontier = state
    var frontierSize = frontier.count()
    var iter = 0
    val gc = new Superstep.CheckpointGC(spark)

    while (frontierSize > 0 && iter < maxIter) {
      val candidates = frontier
        .join(e.hint("shuffle_hash"), frontier("id") === e("src"))
        .filter(col("ts") >= col("a")) // the temporal gate
        .select(e("dst").as("id"), col("d"), col("ts").as("a"))
        .groupBy(col("id"), col("d"))
        .agg(min(col("a")).as("a"))
      val merged = Superstep.freshCheckpoint(
        pareto(state.unionByName(candidates))
          .repartition(numPartitions, col("id")), eager = true)
      val improved = Superstep.freshCheckpoint(
        merged.join(state.hint("shuffle_hash"), Seq("id", "d", "a"),
          "left_anti"), eager = false)
      frontierSize = improved.count() // materializes the lazy checkpoint
      state = merged
      frontier = improved
      gc.tick(state, frontier)
      iter += 1
    }
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"temporal relaxation still improving after $maxIter rounds — raise maxIter")

    Superstep.freshCheckpoint(
      state.select(col("id"), (col("a") - col("d")).as("duration"))
        .unionByName(sd.select(col("id"), lit(0L).as("duration")))
        .groupBy(col("id")).agg(min(col("duration")).as("duration")),
      eager = true)
  }

  /** Exact diameter BOUNDS by the double-sweep heuristic (Magnien–
    * Latapy–Habib): BFS from a deterministic seed, re-BFS from its
    * farthest vertex u — ecc(u) lower-bounds the diameter (often
    * tight on real graphs), 2·ecc(u) upper-bounds it. The exact
    * complement of Hyperball's sketched effective diameter: three
    * full-graph readouts = two BFS runs + two lexicographic argmaxes,
    * all on the existing Pregel frontier machinery (every (edge,
    * sweep) pays one message). Disconnected inputs: the sweeps stay
    * inside the seed's component, so the bounds are per-component —
    * run on the giant component (CC first) for the global claim.
    *
    * @param seed BFS start (default: the minimum vertex id)
    * @return one row (seed, u, ecc_u, lower, upper): u = the farthest
    *   vertex from the seed (ties → min id), ecc_u = eccentricity of
    *   u, lower = ecc_u, upper = 2·ecc_u
    */
  def diameterBounds(spark: SparkSession,
                     symEdges: DataFrame,
                     numPartitions: Int = 32,
                     seed: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val s0 = seed.getOrElse(
      symEdges.agg(min(col("src"))).head().getLong(0))
    val d1 = run(spark, symEdges, Seq(s0), numPartitions)
    val u = d1.orderBy(desc("dist"), asc("id")).limit(1)
      .select("id").head().getLong(0)
    val d2 = run(spark, symEdges, Seq(u), numPartitions)
    val ecc = d2.agg(max(col("dist"))).head().getLong(0)
    import spark.implicits._
    Seq((s0, u, ecc, ecc, 2 * ecc))
      .toDF("seed", "u", "ecc_u", "lower", "upper")
  }

  /** Graph Voronoi cells: every vertex assigned to its NEAREST
    * landmark (ties → smallest landmark id) — proximity-based
    * sharding / seed-expansion cluster assignment, and the discrete
    * Voronoi diagram behind landmark routing schemes. One
    * map-side-combinable lexicographic argmin over the [[run]]
    * distance table; vertices unreachable from every landmark are
    * absent (same contract as [[run]]).
    *
    * @return (id, landmark, dist)
    */
  def nearestLandmark(spark: SparkSession,
                      symEdges: DataFrame,
                      landmarks: Seq[Long],
                      numPartitions: Int = 32): DataFrame =
    run(spark, symEdges, landmarks, numPartitions)
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("landmark"))).as("m"))
      .select(col("id"), col("m.landmark").as("landmark"),
        col("m.dist").as("dist"))

  /** Exact distance distribution over a landmark sample — the
    * ANF-style readout (Palmer–Gibbons–Faloutsos) whose interpolated
    * 90%-quantile is the standard "effective diameter" of a web
    * graph. nf(t) counts (landmark, vertex) pairs within distance t,
    * landmark self-pairs at t = 0 included; with landmarks = a
    * uniform vertex sample this estimates the global neighborhood
    * function, and [[Hyperball]] is the sketch path to the same curve
    * when no exact per-pair BFS is affordable.
    *
    * Budget: the [[run]] frontier expansion + one dist-grain
    * map-side-combinable count; the cumulative window runs over the
    * ≤ diameter+1-row histogram — never over data (the sweep-cut
    * K-row-frame discipline).
    *
    * @return (t, cnt, nf) — pairs AT distance t and within t, one row
    *         per occupied distance, ascending
    */
  def distanceDistribution(spark: SparkSession,
                           symEdges: DataFrame,
                           landmarks: Seq[Long],
                           numPartitions: Int = 32): DataFrame = {
    val d = run(spark, symEdges, landmarks, numPartitions)
    d.groupBy(col("dist").as("t")).agg(count(lit(1)).as("cnt"))
      .withColumn("nf", sum(col("cnt")).over(
        Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("t"), col("cnt"), col("nf"))
  }

  /** Interpolated effective diameter from a (t, nf) curve (ascending
    * t): the radius within which fraction q of all reachable pairs
    * lies. Same interpolation as [[Hyperball.Result.effectiveDiameter]],
    * generalized to non-contiguous t values.
    */
  def effectiveDiameter(curve: Seq[(Long, Long)], q: Double = 0.9): Double = {
    require(q > 0 && q <= 1, s"quantile q must be in (0, 1], got $q")
    require(curve.nonEmpty, "empty distance curve")
    val target = q * curve.last._2
    val i = curve.indexWhere(_._2 >= target)
    if (i <= 0) curve.head._1.toDouble
    else {
      val (t0, n0) = curve(i - 1); val (t1, n1) = curve(i)
      t0 + (target - n0) / (n1 - n0).toDouble * (t1 - t0)
    }
  }
}
