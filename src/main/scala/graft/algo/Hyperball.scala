package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{kmv_merge, mix64}

/** HyperBall-style neighborhood function → centralities (Boldi–Vigna,
  * "In-Core Computation of Geometric Centralities with HyperBall"; the
  * web-graph way to get closeness/harmonic centrality without all-pairs
  * BFS). Per vertex, iterate a mergeable distinct-count sketch of the
  * ball B(v, t): B(v, t+1) = B(v, t) ∪ ⋃_{(v,u)∈E} B(u, t). The
  * per-round count increment Δ_t = |B(v,t)| − |B(v,t−1)| is exactly the
  * number of vertices at distance t, which accumulates every geometric
  * centrality in one pass:
  *
  *   reachable(v) = Σ Δ_t,   sum_dist(v) = Σ t·Δ_t,
  *   harmonic(v)  = Σ Δ_t/t,  closeness(v) = (reachable−1)/sum_dist.
  *
  * Sketch: KMV (k minimum values of a bijective 64-bit hash) instead
  * of the paper's HyperLogLog — same mergeability and O(k) size, but
  * with the property the oracle needs: while a ball holds < k distinct
  * vertices the sketch IS the ball (the estimator returns its exact
  * size), so small-scale runs with k above the largest ball are
  * bit-exact against a BFS twin, and the same code degrades to a
  * (k−1)/u_(k) estimate (±1/√(k−2) relative) past k. The hash being a
  * bijection means no spurious collisions below saturation.
  *
  * Scale shape (per round, like one PageRank iteration):
  *  - ONE edge-sized join edges⨝state on dst — exchange-free, both
  *    sides hash-partitioned on the key (edges once, up front);
  *  - ONE grouping exchange for the sketch union, partial-aggregated
  *    map-side by [[graft.functions.KmvMerge]] to ≤ k longs per
  *    (partition, vertex) — a high-degree hub receives O(parts·k),
  *    never O(degree·k);
  *  - ONE skinny co-partitioned join against the previous counters and
  *    ONE action (the Δ-sum convergence check, which also materializes
  *    the round's lazy checkpoint).
  * Rounds = graph diameter. State is O(V·k) longs. Termination is
  * exact: sketches grow monotonically within a finite set, so Δ
  * reaches 0.0 bit-wise, at the latest one round after every ball
  * stops growing.
  *
  * Stands in for the reference's graph-radius/centrality diagnostics
  * over the entity graph (graph/analytics.py degree/centrality
  * summaries) at sizes where exact all-pairs is impossible.
  */
object Hyperball {

  /** Ball-size column from a KMV sketch: exact `size` below k, else
    * the (k−1)/u_(k) order-statistic estimate, where u_(k) is the kth
    * minimum mapped from signed-long order onto (0,1).
    */
  def kmvCount(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        ((element_at(sk, k).cast("double") + 9.223372036854776e18) /
          1.8446744073709552e19))

  /** @param perVertex (id, nf, sum_dist, harmonic, ecc) — nf =
    *                  ball-size estimate (exact integral double below
    *                  saturation), sum_dist = Σ dist to reachable
    *                  vertices, harmonic = Σ 1/dist, ecc = the last
    *                  radius at which the ball grew = the vertex's
    *                  eccentricity within its component (exact below
    *                  saturation, a lower bound past it); the max over
    *                  vertices is the component diameter, the min the
    *                  radius
    * @param nf the global neighborhood function: nf(t) = Σ_v |B(v,t)|
    *           = number of (ordered) vertex pairs within distance t,
    *           self-pairs included; nf(0) = |V|, one entry per radius
    *           up to the last GROWING round (the distance distribution
    *           of the graph, HyperBall's headline output)
    */
  final case class Result(perVertex: DataFrame, nf: Seq[Double]) {
    /** Interpolated effective diameter: the radius within which a
      * fraction q of all reachable pairs lies (Boldi–Vigna; q = 0.9
      * is the standard "90% effective diameter").
      */
    def effectiveDiameter(q: Double = 0.9): Double = {
      require(q > 0 && q <= 1, s"quantile q must be in (0, 1], got $q")
      val target = q * nf.last
      val i = nf.indexWhere(_ >= target)
      if (i <= 0) 0.0
      else i - 1 + (target - nf(i - 1)) / (nf(i) - nf(i - 1))
    }
  }

  /** @param symEdges symmetrized edges (both directions present)
    * @param k sketch size: exact below k reachable, ±1/√(k−2) beyond
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          k: Int = 256,
          numPartitions: Int = 32,
          maxIter: Int = 128): Result = Superstep.scope(spark) {

    val edges = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("dst")), eager = true)

    val verts = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val init = Superstep.freshCheckpoint(
      verts.repartition(numPartitions, col("id"))
        .select(col("id"), array(mix64(col("id"))).as("sk"),
          lit(1.0).as("nf"), lit(0.0).as("sum_dist"), lit(0.0).as("harmonic"),
          lit(0L).as("ecc")),
      eager = true)

    // nf(0) = |V|: the eager init checkpoint makes this count cheap,
    // and each growing round appends its Δ-sum — the convergence
    // action doubles as the distance-distribution collector, so round
    // t runs while the series holds nf(0) … nf(t−1)
    val nfSeries = scala.collection.mutable.ArrayBuffer(init.count().toDouble)
    val (state, _, converged) = Superstep.iterate(spark, init, maxIter) { state =>
      val t = nfSeries.size.toDouble
      // pull every neighbor's sketch; the map-side partial KmvMerge
      // bounds the grouping exchange to ≤ k longs per (partition, id)
      val msgs = edges
        .join(state.hint("shuffle_hash"), edges("dst") === state("id"))
        .select(edges("src").as("id"), col("sk"))
      val merged = msgs
        .unionByName(state.select(col("id"), col("sk")))
        .groupBy("id").agg(kmv_merge(col("sk"), k).as("sk"))
      val next = merged
        .join(state.select(col("id"), col("nf").as("nf0"),
          col("sum_dist").as("sd0"), col("harmonic").as("h0"),
          col("ecc").as("e0")), Seq("id"))
        .withColumn("nf", kmvCount(col("sk"), k))
        // monotone: merging only shrinks the kth minimum, so Δ ≥ 0
        .withColumn("delta", col("nf") - col("nf0"))
        .select(col("id"), col("sk"), col("nf"),
          (col("sd0") + col("delta") * lit(t)).as("sum_dist"),
          (col("h0") + col("delta") / lit(t)).as("harmonic"),
          when(col("delta") > 0, lit(t.toLong)).otherwise(col("e0")).as("ecc"),
          col("delta"))
      val chk = Superstep.freshCheckpoint(next, eager = false)
      // the single per-round action: materializes the checkpoint and
      // decides convergence (sketches stop changing → Δ exactly 0)
      val dSum = chk.agg(sum(col("delta")).as("d")).collect()(0).getDouble(0)
      val growing = dSum > 0.0
      if (growing) nfSeries += nfSeries.last + dSum
      Superstep.Step(chk, converged = !growing)
    }
    if (!converged)
      throw new IllegalStateException(
        s"HyperBall still expanding after $maxIter rounds — raise maxIter")
    Result(state.select(col("id"), col("nf"), col("sum_dist"), col("harmonic"),
        col("ecc")),
      nfSeries.toSeq)
  }
}
