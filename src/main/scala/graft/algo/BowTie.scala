package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bow-tie decomposition of a directed graph (Broder et al., "Graph
  * structure in the Web", WWW 2000) — THE canonical macro-structure
  * analysis of a web-scale link graph, and the natural read-out over
  * this engine's repo-entity edge table: which entities sit in the
  * mutually-reachable core, which only feed it, which only drain it.
  *
  * Every vertex is assigned exactly one region:
  *
  *   - CORE         the largest strongly connected component
  *   - IN           reaches CORE, not in it
  *   - OUT          reachable from CORE, not in it
  *   - TUBE         reachable from IN AND reaches OUT, avoiding CORE
  *   - TENDRIL_IN   reachable from IN, does not reach OUT
  *   - TENDRIL_OUT  reaches OUT, not reachable from IN
  *   - OTHER        in CORE's weak component but none of the above
  *                  (e.g. a vertex whose only edges point INTO a
  *                  tendril — Broder's paper folds these into the
  *                  tendril mass; kept separate here so every label
  *                  is sharply defined)
  *   - DISCONNECTED outside CORE's weak component entirely
  *
  * Soundness of the set algebra: fwd(CORE) ∩ bwd(CORE) = CORE exactly
  * (mutual reachability with a core member IS membership in the core
  * SCC), so IN = bwd − CORE and OUT = fwd − CORE are disjoint, and the
  * tube/tendril split only examines vertices outside CORE ∪ IN ∪ OUT
  * (a rest-vertex reachable from IN that reached CORE would BE in IN,
  * so the gates are mutually exclusive by construction).
  *
  * Scale shape: one SCC run (graft.algo.Scc), four set-reachability
  * BFS sweeps (each superstep = one frontier⨝edges shuffle-hash join
  * feeding a map-side partial distinct, then a skinny anti-join — the
  * PageRank-superstep exchange budget), one undirected CC run for the
  * weak component, and vertex-scale set algebra. The forward and
  * backward edge tables are each checkpointed once, partitioned on
  * their probe key, and shared across the sweeps that walk them. Two
  * driver-side single-row lookups (the core label, its weak-component
  * label); everything else stays distributed.
  */
object BowTie {

  /** One reachability superstep: the frontier's unseen out-neighbors.
    * With `edges` partitioned on src and frontier/state on id, the
    * only exchange is the distinct, which is map-side partial, so a hub
    * frontier ships at most one row per (partition, vertex) — the join
    * and the anti-join are co-partitioned (PlanSpec gates this).
    */
  private[graft] def expand(edges: DataFrame,
                            frontier: DataFrame,
                            state: DataFrame): DataFrame =
    frontier
      .join(edges.hint("shuffle_hash"), frontier("id") === edges("src"))
      .select(edges("dst").as("id")).distinct()
      .join(state, Seq("id"), "left_anti")

  /** All vertices reachable from `seeds` along src→dst edges, seeds
    * included: [[expand]] run on [[Superstep.frontier]], which owns
    * the state and frontier checkpoints, the per-round count and the
    * `maxIter` stop. `edges` must already be deduplicated,
    * self-loop-free and hash-partitioned on `src` (the callers
    * checkpoint one such table per direction and share it across
    * sweeps). An empty seed set returns an empty frame without
    * touching the edge table.
    */
  private[graft] def reachableFrom(spark: SparkSession,
                                   edges: DataFrame,
                                   seeds: DataFrame,
                                   numPartitions: Int = 32,
                                   maxIter: Int = 1024): DataFrame =
    Superstep.scope(spark) {
      Superstep.frontier(spark,
        seeds.select(col("id")).distinct().repartition(numPartitions, col("id")),
        maxIter, "reachability")(expand(edges, _, _))._1
    }

  /** @param edges directed (src, dst); duplicates and self-loops
    *              tolerated (dropped here)
    * @return (id, region) for every edge endpoint, region one of
    *         CORE, IN, OUT, TUBE, TENDRIL_IN, TENDRIL_OUT, OTHER,
    *         DISCONNECTED. Largest-SCC ties break toward the smaller
    *         component label, so the output is deterministic.
    */
  def decompose(spark: SparkSession,
                edges: DataFrame,
                numPartitions: Int = 32,
                maxIter: Int = 1024): DataFrame = Superstep.scope(spark) {
    def chk(df: DataFrame): DataFrame = Superstep.freshCheckpoint(df, eager = true)

    val fwdE = chk(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(numPartitions, col("src")))
    val bwdE = chk(fwdE.select(col("dst").as("src"), col("src").as("dst"))
      .repartition(numPartitions, col("src")))
    val verts = chk(fwdE.select(col("src").as("id"))
      .unionAll(fwdE.select(col("dst").as("id"))).distinct()
      .repartition(numPartitions, col("id")))

    if (verts.isEmpty) verts.select(col("id"), lit("CORE").as("region")).limit(0)
    else decomposeNonEmpty(spark, fwdE, bwdE, verts, numPartitions, maxIter)
  }

  private def decomposeNonEmpty(spark: SparkSession,
                                fwdE: DataFrame,
                                bwdE: DataFrame,
                                verts: DataFrame,
                                numPartitions: Int,
                                maxIter: Int): DataFrame = {
    def chk(df: DataFrame): DataFrame = Superstep.freshCheckpoint(df, eager = true)

    // ── core = largest SCC (ties → smallest label, deterministic) ──
    val scc = chk(Scc.run(spark, fwdE, numPartitions, maxIter))
    val coreLabel = scc.groupBy(col("scc")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc").asc)
      .limit(1).collect()(0).getLong(0)
    val core = chk(scc.filter(col("scc") === coreLabel).select(col("id")))

    // ── IN / OUT: one forward + one backward sweep from the core ──
    val fwd = reachableFrom(spark, fwdE, core, numPartitions, maxIter)
    val bwd = reachableFrom(spark, bwdE, core, numPartitions, maxIter)
    val outS = chk(fwd.join(core, Seq("id"), "left_anti"))
    val inS = chk(bwd.join(core, Seq("id"), "left_anti"))

    // rest = everything outside CORE ∪ IN ∪ OUT
    val known = chk(fwd.unionByName(bwd).distinct())
    val rest = chk(verts.join(known, Seq("id"), "left_anti"))

    // ── tubes and tendrils: sweeps from IN (forward) / OUT (backward)
    //    restricted to the rest set ──
    val fwdIn = chk(reachableFrom(spark, fwdE, inS, numPartitions, maxIter)
      .join(rest, Seq("id"), "left_semi"))
    val bwdOut = chk(reachableFrom(spark, bwdE, outS, numPartitions, maxIter)
      .join(rest, Seq("id"), "left_semi"))
    val tube = chk(fwdIn.join(bwdOut, Seq("id"), "left_semi"))
    val tendrilIn = chk(fwdIn.join(bwdOut, Seq("id"), "left_anti"))
    val tendrilOut = chk(bwdOut.join(fwdIn, Seq("id"), "left_anti"))

    // ── leftovers split by CORE's weak component ──
    val wcc = chk(ConnectedComponents.run(spark, fwdE, Some(verts), numPartitions))
    val coreWcc = wcc.filter(col("id") === coreLabel)
      .select(col("component")).collect()(0).getLong(0)
    val touched = chk(known
      .unionByName(tube).unionByName(tendrilIn).unionByName(tendrilOut)
      .distinct())
    val leftover = verts.join(touched, Seq("id"), "left_anti")
      .join(wcc, Seq("id"))
      .select(col("id"), when(col("component") === coreWcc, lit("OTHER"))
        .otherwise(lit("DISCONNECTED")).as("region"))

    Superstep.freshCheckpoint(
      core.select(col("id"), lit("CORE").as("region"))
        .unionByName(inS.select(col("id"), lit("IN").as("region")))
        .unionByName(outS.select(col("id"), lit("OUT").as("region")))
        .unionByName(tube.select(col("id"), lit("TUBE").as("region")))
        .unionByName(tendrilIn.select(col("id"), lit("TENDRIL_IN").as("region")))
        .unionByName(tendrilOut.select(col("id"), lit("TENDRIL_OUT").as("region")))
        .unionByName(leftover), eager = true)
  }

  /** Region census — the headline table of the Broder paper. */
  def summary(regions: DataFrame): DataFrame =
    regions.groupBy(col("region")).agg(count(lit(1)).as("n"))
}
