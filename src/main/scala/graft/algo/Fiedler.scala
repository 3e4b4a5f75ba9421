package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fiedler vector and algebraic connectivity λ₂ by deflated power
  * iteration — the spectral read of "how well knit is this graph":
  * λ₂(L) near 0 means a sparse cut exists, and the Fiedler vector's
  * sign structure IS that cut (spectral bisection, the continuous
  * relaxation [[graft.graph.Partitioner]]'s multilevel combinatorics
  * approximate). Community boundary strength, graph-robustness and
  * mixing-time bounds all read off λ₂.
  *
  * Method: power-iterate M = cI − L (L = D − A unnormalized, c =
  * 2·d_max ≥ λ_max(L) so M ⪰ 0), deflating the known dominant
  * eigenvector (the constant vector, eigenvalue c) by centering each
  * round: x ← normalize(x − x̄), then x ← (c − d(v))·x(v) + Σ_{u∼v}
  * x(u). Converges to the Fiedler direction at rate (c−λ₃)/(c−λ₂).
  * λ₂ = Dirichlet energy of the final unit vector (the Rayleigh
  * quotient — computed over canonical pairs, each edge once).
  *
  * Scale shape: per round ONE edges⨝state shuffle-hash join with
  * map-side partial sum + one co-partitioned degree join (the
  * PageRank superstep budget) + two one-row aggregates (mean, norm —
  * the [[Hits]] action pattern). The twin unrolls the identical
  * recurrence; multi-term float sums agree to the 6dp round like the
  * eigenvector/HITS oracles.
  */
object Fiedler {

  final case class Result(vector: DataFrame, lambda2: Double, c: Long)

  /** @param symEdges symmetrized edges (both directions present)
    * @param iters fixed deflated power-iteration rounds (oracle mode)
    * @return vector (id, f) — unit L2 norm, mean exactly deflated;
    *         lambda2 = Rayleigh quotient of the final vector
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          iters: Int = 10): Result = Superstep.withoutAQE(spark) {
    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val deg = Superstep.freshCheckpoint(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .repartition(numPartitions, col("id")), eager = true)
    val n = deg.count()
    require(n >= 2, "Fiedler needs at least two vertices")
    val dmax = deg.agg(max(col("d"))).first().getLong(0)
    val c = 2L * dmax

    // deterministic non-constant seed: the sawtooth id arithmetic
    // (a degree seed would fuse automorphic halves, the PIC lesson)
    // the mean-deflated state (a lazy checkpoint the norm action
    // materializes) and its L2 norm
    def center(st: DataFrame): (DataFrame, Double) = {
      val mu = st.agg(sum(col("x"))).first().getDouble(0) / n
      val cen = st.select(col("id"), col("d"), (col("x") - mu).as("x"))
        .localCheckpoint(false)
      val nrm = cen.agg(sqrt(sum(col("x") * col("x")))).first().getDouble(0)
      require(nrm > 0, "seed collapsed onto the constant vector")
      (cen, nrm)
    }

    val (x, _, _) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        deg.select(col("id"), col("d"),
          (pmod(col("id"), lit(16L)) + lit(1L)).cast("double").as("x")),
        eager = true),
      iters, keep = 4) { cur =>
      val (cen, nrm) = center(cur)
      val y = cen.select(col("id"), col("d"), (col("x") / nrm).as("x"))
      val nbr = e
        .join(y.select(col("id").as("src"), col("x")).hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("x")).as("s"))
      Superstep.Step(Superstep.freshCheckpoint(
        y.join(nbr.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), col("d"),
            ((lit(c.toDouble) - col("d")) * col("x") +
              coalesce(col("s"), lit(0.0))).as("x"))
          .repartition(numPartitions, col("id")), eager = true))
    }
    val (cen, nrm) = center(x)
    val fin = Superstep.freshCheckpoint(
      cen.select(col("id"), (col("x") / nrm).as("f")), eager = true)

    // Rayleigh quotient over canonical pairs (each undirected edge once)
    val lambda2 = e.filter(col("src") < col("dst"))
      .join(fin.select(col("id").as("src"), col("f").as("fu"))
        .hint("shuffle_hash"), Seq("src"))
      .join(fin.select(col("id").as("dst"), col("f").as("fv"))
        .hint("shuffle_hash"), Seq("dst"))
      .agg(sum((col("fu") - col("fv")) * (col("fu") - col("fv"))))
      .first().getDouble(0)

    Seq(e, deg, x, cen).foreach(Superstep.freeCheckpoint)
    Result(fin, lambda2, c)
  }
}
