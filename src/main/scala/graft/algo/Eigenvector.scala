package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eigenvector centrality by power iteration — the undirected
  * companion to [[Hits]] and the undamped companion to [[PageRank]]:
  * a vertex is central in proportion to the centrality of its
  * neighbours, i.e. the principal eigenvector of the adjacency
  * matrix (Bonacich 1987). On the entity/repo link graph this ranks
  * vertices by recursive endorsement without PageRank's teleport
  * floor, so isolated-but-interlinked cores rise to the top.
  *
  * Per iteration (mirrored exactly by the SQL twin):
  *   xraw(v) = Σ_{u ~ v} w(u,v) · x(u);   x = xraw / ‖xraw‖₂.
  * Vertices with no surviving in-mass keep a row (xraw = 0) via a
  * left join against the vertex set. Convergence when Σ|Δx| < tol;
  * `tol = 0` runs exactly `maxIter` iterations with no per-round
  * convergence action (the oracle mode). sqrt is IEEE-correctly
  * rounded in both engines, so the normalizer is cross-engine exact
  * given the same xraw sums.
  *
  * Scale shape: one [[Hits]] phase per iteration — edges are
  * hash-partitioned on the probe key once up front; each round is
  * one edges⨝state shuffle-hash join feeding a map-side partial sum
  * on the other endpoint, a co-partitioned left join back onto the
  * vertex set, and a one-row L2 aggregate (1 action/iteration, +1
  * for the Δ check when tol > 0). The state frame is vertex-sized;
  * nothing edge-scale is ever materialized.
  */
object Eigenvector {

  final case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  /** @param edges undirected edges given as a symmetric directed pair
    *              list (both (u,v) and (v,u) present — use
    *              [[graft.graph.GraphOps.symmetrize]]); an optional
    *              `weight` column is honoured, default 1.0
    * @return scores (id, eig), unit L2 norm
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int = 32,
          tol: Double = 0.0,
          maxIter: Int = 20): Result = Superstep.scope(spark) {

    val w =
      if (edges.columns.contains("weight")) col("weight").cast("double")
      else lit(1.0)
    val e = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst"), w.as("w"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val verts = Superstep.freshCheckpoint(
      e.select(col("src").as("id")).distinct()
        .repartition(numPartitions, col("id")), eager = true)

    val (state, iters, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(verts.select(col("id"), lit(1.0).as("x")), eager = true),
      maxIter) { st =>
      val inSum = e
        .join(st.hint("shuffle_hash"), e("src") === st("id"))
        .groupBy(e("dst").as("id")).agg(sum(col("w") * col("x")).as("xraw"))
      val xr = Superstep.freshCheckpoint(
        verts.join(inSum, Seq("id"), "left")
          .select(col("id"), coalesce(col("xraw"), lit(0.0)).as("xraw")),
        eager = false)
      val n0 = xr.agg(sqrt(sum(col("xraw") * col("xraw")))).collect()(0).getDouble(0)
      val n = if (n0 > 0) n0 else 1.0 // all-zero vector: leave it at zero
      val next = Superstep.freshCheckpoint(
        xr.select(col("id"), (col("xraw") / n).as("x")), eager = false)
      if (tol <= 0) Superstep.Step(next)
      else {
        val delta = next
          .join(st.select(col("id"), col("x").as("x0")), Seq("id"))
          .agg(sum(abs(col("x") - col("x0")))).collect()(0).getDouble(0)
        Superstep.Step(next, delta < tol, Map("delta" -> delta))
      }
    }
    Result(state.select(col("id"), col("x").as("eig")), iters, converged)
  }
}
