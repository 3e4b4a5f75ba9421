package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Katz centrality (Katz 1953): k = Σ_{t≥1} αᵗ (Aᵀ)ᵗ 1 — every
  * incoming walk counts, damped by αᵗ per hop — via the fixed-point
  * iteration k ← α·Aᵀk + β. Unlike PageRank there is no out-degree
  * normalization (a hub passes its full score to every follower), and
  * unlike HITS no per-iteration renormalization, so the scores are a
  * direct walk-count series. Converges for α < 1/λ_max; callers pick
  * α ≤ 1/(max in-degree) for a cheap safe bound.
  *
  * Scale shape: ONE PageRank-superstep exchange per iteration — the
  * edges⨝state shuffle-hash join feeding a map-side partial sum on
  * dst, then a co-partitioned left join back onto the vertex set
  * (vertices with no in-edges hold k = β). `tol = 0` runs exactly
  * `maxIter` iterations with no per-round action (oracle mode);
  * otherwise one Σ|Δ| action per iteration decides convergence.
  */
object Katz {

  final case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int = 32,
          alpha: Double = 0.05,
          beta: Double = 1.0,
          tol: Double = 0.0,
          maxIter: Int = 20): Result = Superstep.withoutAQE(spark) {

    val e = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val verts = Superstep.freshCheckpoint(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .distinct().repartition(numPartitions, col("id")), eager = true)

    val (state, iters, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(verts.select(col("id"), lit(beta).as("k")), eager = true),
      maxIter, keep = 6) { st =>
      val inSum = e
        .join(st.hint("shuffle_hash"), e("src") === st("id"))
        .groupBy(e("dst").as("id")).agg(sum(col("k")).as("ksum"))
      val next = Superstep.freshCheckpoint(
        verts.join(inSum, Seq("id"), "left")
          .select(col("id"),
            (lit(alpha) * coalesce(col("ksum"), lit(0.0)) + lit(beta)).as("k")),
        eager = tol <= 0)
      if (tol <= 0) Superstep.Step(next)
      else {
        val delta = next
          .join(st.select(col("id"), col("k").as("k0")), Seq("id"))
          .agg(sum(abs(col("k") - col("k0")))).collect()(0).getDouble(0)
        Superstep.Step(next, delta < tol, Map("delta" -> delta))
      }
    }
    Superstep.freeCheckpoint(e)
    Superstep.freeCheckpoint(verts)
    Result(state, iters, converged)
  }
}
