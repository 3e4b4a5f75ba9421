package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Monotone threshold cascade (bootstrap percolation / deterministic
  * linear-threshold diffusion): from a seed set, a vertex activates
  * the first round its count of ACTIVE neighbors reaches a threshold —
  * absolute k ("k-bootstrap percolation") or a degree fraction
  * num/den (the deterministic linear-threshold model with uniform
  * edge weight 1/deg, Kempe–Kleinberg–Tardos). Classic link-graph
  * uses: influence/meme spread over a follower graph, failure-cascade
  * reach, dense-seed-set quality (a community whose interior cascades
  * from few seeds is cohesive).
  *
  * Scale shape — the reason this is NOT "recount active neighbors
  * every round": activation is monotone, so the engine keeps a
  * per-vertex running count and each round sends +1 messages from the
  * NEWLY activated frontier only. Every edge fires exactly once over
  * the whole run (when its source activates), so total exchange
  * volume is O(E) REGARDLESS of round count — a recompute form pays
  * O(E·rounds). Per round: one frontier⨝edges shuffle-hash join +
  * map-side partial count + two skinny co-partitioned state joins.
  * Thresholds are exact integer arithmetic (need = ⌈deg·num/den⌉ via
  * BIGINT ceil-division), so activation is bit-stable across engines
  * and partitionings.
  *
  * Reference analogue: community cohesion diagnostics over the
  * semantic graph (community_detection.py:133-181 writes labels; the
  * cascade is the dynamic-process probe of the same structure).
  */
object Cascade {

  /** Absolute-threshold cascade: activate at ≥ k active neighbors.
    *
    * @param symEdges symmetrized edges (src, dst)
    * @param seeds    (id) seed vertices, active at round 0
    * @param k        activation threshold (k = 1 ≡ BFS: round =
    *                 hop distance from the seed set)
    * @return (id, round) for every vertex that ever activates
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          seeds: DataFrame,
          k: Int,
          maxRounds: Int = 50,
          numPartitions: Int = 32): DataFrame =
    runThreshold(spark, symEdges, seeds, lit(k.toLong), maxRounds,
      numPartitions)

  /** Fractional-threshold cascade: activate at ≥ ⌈deg·num/den⌉ active
    * neighbors (linear-threshold model, uniform weights). Integer
    * ceil-division keeps both engines exact.
    */
  def runFraction(spark: SparkSession,
                  symEdges: DataFrame,
                  seeds: DataFrame,
                  num: Long,
                  den: Long,
                  maxRounds: Int = 50,
                  numPartitions: Int = 32): DataFrame = {
    require(num > 0 && den > 0, "threshold fraction must be positive")
    // `div` = exact BIGINT floor-division (the `/` operator is
    // fractional in Spark SQL and would round through a double)
    runThreshold(spark, symEdges, seeds,
      expr(s"(deg * $num + ${den - 1}) div $den"), maxRounds, numPartitions)
  }

  /** @param needExpr threshold as an expression over (id, deg) —
    *                 evaluated once per vertex, exact BIGINT
    */
  private def runThreshold(spark: SparkSession,
                           symEdges: DataFrame,
                           seeds: DataFrame,
                           needExpr: Column,
                           maxRounds: Int,
                           numPartitions: Int): DataFrame =
    Superstep.scope(spark) {
      val e = Superstep.freshCheckpoint(
        symEdges.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .repartition(numPartitions, col("src")), eager = true)

      // per-vertex state: degree, threshold, running active-neighbor
      // count, activation round (null = inactive)
      val sd = seeds.select(col("id")).distinct()
        .withColumn("seed", lit(true))
      var state = Superstep.freshCheckpoint(
        e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .withColumn("need", needExpr.cast("long"))
          .join(sd.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), col("need"), lit(0L).as("cnt"),
            when(col("seed"), lit(0)).as("round"))
          .repartition(numPartitions, col("id")), eager = true)

      // frontier = the newly activated vertices; seeds open round 0.
      // Off-graph seeds (no edges) are reported at the end but send
      // nothing.
      var frontier = Superstep.freshCheckpoint(
        state.filter(col("round") === 0).select(col("id")), eager = true)

      val gc = new Superstep.CheckpointGC(spark)
      var r = 0
      var frontierSize = frontier.count()
      while (frontierSize > 0 && r < maxRounds) {
        r += 1
        // +1 per edge out of the frontier — each edge fires exactly
        // once over the whole run
        val adds = frontier.join(e.hint("shuffle_hash"),
            frontier("id") === e("src"))
          .groupBy(e("dst").as("id")).agg(count(lit(1)).as("add"))
        val next = Superstep.freshCheckpoint(
          state.join(adds.hint("shuffle_hash"), Seq("id"), "left")
            .select(col("id"), col("need"),
              (col("cnt") + coalesce(col("add"), lit(0L))).as("cnt"),
              when(col("round").isNotNull, col("round"))
                .when(col("cnt") + coalesce(col("add"), lit(0L)) >= col("need"),
                  lit(r))
                .as("round")), eager = true)
        frontier = Superstep.freshCheckpoint(
          next.filter(col("round") === r).select(col("id")), eager = true)
        state = next
        frontierSize = frontier.count()
        gc.tick(state, frontier)
      }

      val active = state.filter(col("round").isNotNull)
        .select(col("id"), col("round"))
      // seeds with no edges never enter `state` (it is degree-derived)
      Superstep.freshCheckpoint(
        active.unionByName(
          sd.join(state.select(col("id")), Seq("id"), "left_anti")
            .select(col("id"), lit(0).as("round"))), eager = true)
    }
}
