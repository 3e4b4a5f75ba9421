package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SALSA — the Stochastic Approach for Link-Structure Analysis
  * (Lempel & Moran 2000): [[Hits]] with both steps degree-normalized,
  * i.e. the stationary distributions of the two alternating random
  * walks on the bipartite hub/authority support graph. Famously the
  * recommender core of Twitter's Who-To-Follow (Gupta et al., WWW
  * 2013); on the repo-entity graph it ranks "entities a random
  * back-and-forth browse lands on", which is robust to the tightly-
  * knit-community distortion that plain HITS suffers from.
  *
  * Per iteration (mirrored exactly by the SQL twin), with
  * inv_in(v) = 1/indeg(v), inv_out(u) = 1/outdeg(u):
  *
  *   authority chain (back, then forward):
  *     t(u)  = Σ_{u→v} a(v) · inv_in(v)
  *     a'(w) = Σ_{u→w} t(u) · inv_out(u),  then a' /= Σ a'  (L1)
  *   hub chain (forward, then back):
  *     s(v)  = Σ_{u→v} h(u) · inv_out(u)
  *     h'(u) = Σ_{u→v} s(v) · inv_in(v),   then h' /= Σ h'  (L1)
  *
  * Every vertex keeps a row (raw = 0 when a walk can't reach it) via
  * left joins against the vertex set. `tol = 0` runs exactly
  * `maxIter` iterations with no per-round convergence action (the
  * oracle mode). All arithmetic is IEEE +,·,/ — no libm — so the
  * DuckDB twin agrees to rounding.
  *
  * Scale shape: the inverse degrees are folded into the edge table
  * ONCE up front (two vertex-keyed joins at build time), so each
  * half-step is exactly a [[Hits]] phase: one
  * edges⨝state shuffle-hash join feeding a map-side partial sum on
  * the other endpoint, a co-partitioned left join onto the vertex
  * set, and a one-row L1 normalizer (2 actions/iteration, +1 for the
  * Δ check when tol > 0). State stays vertex-sized throughout.
  */
object Salsa {

  final case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  /** @param edges directed (src, dst), duplicate-free
    * @return scores (id, hub, auth), each summing to 1 over vertices
    *         reachable by the respective chain
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int = 32,
          tol: Double = 0.0,
          maxIter: Int = 20): Result = Superstep.scope(spark) {

    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val outd = e0.groupBy(col("src").as("id"))
      .agg((lit(1.0) / count(lit(1))).as("inv_out"))
    val ind = e0.groupBy(col("dst").as("id"))
      .agg((lit(1.0) / count(lit(1))).as("inv_in"))
    // fold both inverse degrees onto each edge once; everything after
    // this touches only (src, dst, inv_out, inv_in)
    val enriched = e0
      .join(outd, e0("src") === outd("id")).drop("id")
      .join(ind, e0("dst") === ind("id")).drop("id")
    val eSrc = Superstep.freshCheckpoint(
      enriched.repartition(numPartitions, col("src")), eager = true)
    val eDst = Superstep.freshCheckpoint(
      eSrc.repartition(numPartitions, col("dst")), eager = true)
    val verts = Superstep.freshCheckpoint(
      e0.select(col("src").as("id"))
        .unionAll(e0.select(col("dst").as("id"))).distinct()
        .repartition(numPartitions, col("id")), eager = true)

    def l1(df: DataFrame, c: String): Double = {
      val n = df.agg(sum(col(c))).collect()(0).getDouble(0)
      if (n > 0) n else 1.0
    }
    val (state, iters, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        verts.select(col("id"), lit(1.0).as("h"), lit(1.0).as("a")), eager = true),
      maxIter) { st =>
      // authority chain: gather a·inv_in back over each edge, scatter
      // forward scaled by inv_out
      val t = eDst
        .join(st.hint("shuffle_hash"), eDst("dst") === st("id"))
        .groupBy(eDst("src").as("u"))
        .agg(sum(col("a") * eDst("inv_in")).as("t"))
      val aRaw = eSrc
        .join(t.hint("shuffle_hash"), eSrc("src") === t("u"))
        .groupBy(eSrc("dst").as("id"))
        .agg(sum(col("t") * eSrc("inv_out")).as("araw"))
      val ar = Superstep.freshCheckpoint(
        verts.join(aRaw, Seq("id"), "left")
          .select(col("id"), coalesce(col("araw"), lit(0.0)).as("araw")),
        eager = false)
      val na = l1(ar, "araw") // materializes ar
      val auth = ar.select(col("id"), (col("araw") / na).as("a"))
      // hub chain: gather h·inv_out forward over each edge, scatter
      // back scaled by inv_in
      val sS = eSrc
        .join(st.hint("shuffle_hash"), eSrc("src") === st("id"))
        .groupBy(eSrc("dst").as("v"))
        .agg(sum(col("h") * eSrc("inv_out")).as("s"))
      val hRaw = eDst
        .join(sS.hint("shuffle_hash"), eDst("dst") === sS("v"))
        .groupBy(eDst("src").as("id"))
        .agg(sum(col("s") * eDst("inv_in")).as("hraw"))
      val hr = Superstep.freshCheckpoint(
        verts.join(hRaw, Seq("id"), "left")
          .select(col("id"), coalesce(col("hraw"), lit(0.0)).as("hraw")),
        eager = false)
      val nh = l1(hr, "hraw") // materializes hr
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
    Result(state.select(col("id"), col("h").as("hub"), col("a").as("auth")),
      iters, converged)
  }
}
