package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg, "Authoritative Sources in a
  * Hyperlinked Environment", 1999) — the directed companion to
  * [[PageRank]] for link analysis over the entity graph: authorities
  * are entities many strong hubs point AT, hubs are entities that
  * point at many strong authorities.
  *
  * Per iteration (textbook order, mirrored exactly by the SQL twin):
  *   araw(v) = Σ_{u→v} h(u);   a = araw / ‖araw‖₂;
  *   hraw(u) = Σ_{u→v} a(v);   h = hraw / ‖hraw‖₂.
  * Missing in-edges (resp. out-edges) give araw = 0 (resp. hraw = 0)
  * via a left join against the vertex set, so every vertex keeps a
  * row. Convergence when Σ(|Δh| + |Δa|) < tol; `tol = 0` runs exactly
  * `maxIter` iterations with NO per-round convergence action (the
  * oracle mode).
  *
  * Scale shape: identical to a PageRank superstep, twice — each phase
  * is one edges⨝state shuffle-hash join (edges hash-partitioned on
  * the probe key once, up front; only the skinny state re-shuffles)
  * feeding a map-side partial sum on the other endpoint, then a
  * co-partitioned left join back onto the vertex set. The ‖·‖₂
  * normalizers are scalar one-row aggregates collected to the driver
  * (2 actions per iteration; +1 for the Δ check when tol > 0).
  */
object Hits {

  final case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  /** @param edges directed (src, dst), duplicate-free
    * @return scores (id, hub, auth), unit L2 norm each
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int = 32,
          tol: Double = 0.0,
          maxIter: Int = 20): Result = Superstep.withoutAQE(spark) {

    val eSrc = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val eDst = Superstep.freshCheckpoint(
      eSrc.repartition(numPartitions, col("dst")), eager = true)
    val verts = Superstep.freshCheckpoint(
      eSrc.select(col("src").as("id"))
        .unionAll(eSrc.select(col("dst").as("id"))).distinct()
        .repartition(numPartitions, col("id")), eager = true)

    def l2(df: DataFrame, c: String): Double = {
      val n = df.agg(sqrt(sum(col(c) * col(c)))).collect()(0).getDouble(0)
      if (n > 0) n else 1.0 // all-zero vector: leave it at zero
    }
    val (state, iters, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        verts.select(col("id"), lit(1.0).as("h"), lit(1.0).as("a")), eager = true),
      maxIter, keep = 8) { st =>
      val inSum = eSrc
        .join(st.hint("shuffle_hash"), eSrc("src") === st("id"))
        .groupBy(eSrc("dst").as("id")).agg(sum(col("h")).as("araw"))
      val ar = Superstep.freshCheckpoint(
        verts.join(inSum, Seq("id"), "left")
          .select(col("id"), coalesce(col("araw"), lit(0.0)).as("araw")),
        eager = false)
      val na = l2(ar, "araw") // materializes ar
      val auth = ar.select(col("id"), (col("araw") / na).as("a"))
      val outSum = eDst
        .join(auth.hint("shuffle_hash"), eDst("dst") === auth("id"))
        .groupBy(eDst("src").as("id")).agg(sum(col("a")).as("hraw"))
      val hr = Superstep.freshCheckpoint(
        verts.join(outSum, Seq("id"), "left")
          .select(col("id"), coalesce(col("hraw"), lit(0.0)).as("hraw")),
        eager = false)
      val nh = l2(hr, "hraw") // materializes hr
      // lazy: the Δ check (tol > 0) or the next round materializes it
      val next = Superstep.freshCheckpoint(
        hr.select(col("id"), (col("hraw") / nh).as("h"))
          .join(auth, Seq("id")), eager = false)
      if (tol <= 0) Superstep.Step(next)
      else {
        val delta = next
          .join(st.select(col("id"), col("h").as("h0"), col("a").as("a0")),
            Seq("id"))
          .agg(sum(abs(col("h") - col("h0")) + abs(col("a") - col("a0"))))
          .collect()(0).getDouble(0)
        Superstep.Step(next, delta < tol, Map("delta" -> delta))
      }
    }
    Superstep.freeCheckpoint(eSrc)
    Superstep.freeCheckpoint(eDst)
    Superstep.freeCheckpoint(verts)
    Result(state.select(col("id"), col("h").as("hub"), col("a").as("auth")),
      iters, converged)
  }
}
