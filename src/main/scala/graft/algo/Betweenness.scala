package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Landmark-sampled betweenness centrality (Brandes 2001, the
  * k-source approximation of Brandes–Pich 2007): for each source s in
  * a small landmark set, count shortest paths σ_s(v) level-by-level on
  * the BFS DAG, then accumulate dependencies backward
  *
  *   δ_s(v) = Σ_{w: v ∈ preds(w)} σ_s(v)/σ_s(w) · (1 + δ_s(w)),
  *
  * and report bc(v) = Σ_s δ_s(v) (v ≠ s). Exact betweenness is Θ(V·E)
  * — the landmark sample is THE standard web-scale form; scale the
  * landmark set, not the algorithm.
  *
  * Scale shape: the forward pass is [[ShortestPaths]] plus a map-side
  * partial SUM of σ (every (edge, landmark) crosses the wire exactly
  * once over the run); the backward pass walks distance levels top
  * down, and each DAG edge (always between consecutive BFS levels)
  * carries exactly one message over the whole pass — again |E|·|L|
  * total, partially aggregated per (pred, landmark). State is skinny
  * (id, landmark, dist, σ, δ). Rounds = 2 × landmark eccentricity.
  *
  * σ is exact BIGINT in both engines (path counts can grow
  * exponentially with distance; ANSI overflow would fail loudly, not
  * silently — switch σ to double only for graphs where path counts
  * exceed 2⁶³, accepting last-ulp drift). δ is double; per-level sums
  * group identically in the SQL twin, so 6dp rounding seals parity.
  */
object Betweenness {

  private final case class Forward(edges: DataFrame, state: DataFrame,
                                   maxDist: Int)

  /** Forward Brandes pass: BFS levels with exact BIGINT σ path counts
    * from every source. Leaves `edges` and the final σ `state`
    * checkpointed; callers free both when done.
    */
  private def forward(spark: SparkSession,
                      symEdges: DataFrame,
                      sources: Seq[Long],
                      numPartitions: Int,
                      maxIter: Int): Forward = {
    require(sources.nonEmpty, "Betweenness needs at least one source")
    import spark.implicits._

    val edges = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    val init = sources.distinct.toDF("landmark")
      .select(col("landmark").as("id"), col("landmark"),
        lit(0).as("dist"), lit(1L).as("sigma"))
    var state = Superstep.freshCheckpoint(init, eager = true)
    var frontier = state
    var frontierN = frontier.count()
    var depth = 0
    val gc = new Superstep.CheckpointGC(spark)
    while (frontierN > 0 && depth < maxIter) {
      depth += 1
      // σ(v) = Σ σ(u) over BFS-DAG preds u — all of them live in the
      // PREVIOUS frontier (every DAG edge spans consecutive levels),
      // so the partial sum is complete in one exchange
      val cand = frontier
        .join(edges.hint("shuffle_hash"), frontier("id") === edges("src"))
        .groupBy(edges("dst").as("id"), col("landmark"))
        .agg(sum(col("sigma")).as("sigma"))
        .withColumn("dist", lit(depth))
      val next = Superstep.freshCheckpoint(
        cand.join(state.select(col("id"), col("landmark")),
          Seq("id", "landmark"), "left_anti")
          .select(col("id"), col("landmark"), col("dist"), col("sigma")),
        eager = false)
      frontierN = next.count()
      if (frontierN > 0) {
        state = Superstep.freshCheckpoint(state.unionByName(next), eager = true)
      }
      frontier = next
      gc.tick(state, frontier)
    }
    require(frontierN == 0,
      s"betweenness forward pass still live after $maxIter rounds")
    Forward(edges, state, depth - 1)
  }

  /** @param symEdges symmetrized edges (both directions present)
    * @param sources small landmark set (the sample)
    * @return (id, betweenness) over vertices reachable from ≥1 source,
    *         sources themselves included (with their δ from OTHER
    *         sources only, per Brandes' v ≠ s convention)
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          sources: Seq[Long],
          numPartitions: Int = 32,
          maxIter: Int = 256): DataFrame = Superstep.scope(spark) {
    val fwd = forward(spark, symEdges, sources, numPartitions, maxIter)
    val edges = fwd.edges
    val state = fwd.state
    val maxDist = fwd.maxDist

    // ── backward: dependency accumulation by descending level ──
    // δ at the deepest level is 0; each level's δ feeds exactly the
    // level above through the DAG edges between them
    var delta = Superstep.freshCheckpoint(
      state.filter(col("dist") === maxDist)
        .select(col("id"), col("landmark"), lit(0.0).as("delta")),
      eager = true)
    var acc = delta // all (id, landmark, delta) rows finalized so far
    val gc = new Superstep.CheckpointGC(spark)
    var d = maxDist
    while (d > 0) {
      val lower = state.filter(col("dist") === d)
        .join(delta, Seq("id", "landmark"))
        .select(col("id").as("w"), col("landmark"),
          col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = lower
        .join(edges.hint("shuffle_hash"), lower("w") === edges("dst"))
        .select(edges("src").as("id"), col("landmark"), col("sw"), col("dw"))
        .join(state.filter(col("dist") === d - 1)
          .select(col("id"), col("landmark"), col("sigma")),
          Seq("id", "landmark"))
        .groupBy(col("id"), col("landmark"))
        .agg(sum(col("sigma").cast("double") / col("sw") *
          (lit(1.0) + col("dw"))).as("delta"))
      val level = Superstep.freshCheckpoint(
        state.filter(col("dist") === d - 1)
          .select(col("id"), col("landmark"))
          .join(contrib, Seq("id", "landmark"), "left")
          .select(col("id"), col("landmark"),
            coalesce(col("delta"), lit(0.0)).as("delta")),
        eager = true)
      acc = Superstep.freshCheckpoint(acc.unionByName(level), eager = true)
      delta = level
      gc.tick(delta, acc)
      d -= 1
    }

    // v ≠ s: drop each landmark's own (dist 0) row, sum over landmarks
    Superstep.freshCheckpoint(
      acc.join(state.filter(col("dist") === 0)
        .select(col("id"), col("landmark")), Seq("id", "landmark"), "left_anti")
        .groupBy(col("id"))
        .agg(sum(col("delta")).as("betweenness")), eager = true)
  }

  /** Per-EDGE betweenness (Brandes' edge variant — the Girvan–Newman
    * splitting signal: the bridges shortest paths funnel through):
    * during the backward pass, the flow over DAG edge (u, w) from
    * source s is σ_s(u)/σ_s(w) · (1 + δ_s(w)) — exactly the terms the
    * vertex δ aggregates — so the per-edge score falls out of the SAME
    * sweep by keeping the edge key on the contribution rows before the
    * vertex-grain sum. Reported per canonical undirected pair, summed
    * over sources.
    *
    * Scale shape: identical to [[run]] plus one canonical-pair
    * aggregate at the end; the per-level flow frame is checkpointed
    * once and feeds BOTH the vertex δ (grouped to (id, landmark)) and
    * the edge accumulator (re-materialized per level, like the vertex
    * path's `acc`, so the GC can reclaim superseded level frames).
    * Every DAG edge still carries exactly one message per source over
    * the whole pass.
    *
    * @return (u, v, betweenness) for every edge on ≥1 sampled shortest
    *         path, u < v
    */
  def edgeScores(spark: SparkSession,
                 symEdges: DataFrame,
                 sources: Seq[Long],
                 numPartitions: Int = 32,
                 maxIter: Int = 256): DataFrame = Superstep.scope(spark) {
    val fwd = forward(spark, symEdges, sources, numPartitions, maxIter)
    val edges = fwd.edges
    val state = fwd.state
    val maxDist = fwd.maxDist

    var delta = Superstep.freshCheckpoint(
      state.filter(col("dist") === maxDist)
        .select(col("id"), col("landmark"), lit(0.0).as("delta")),
      eager = true)
    var edgeAcc: Option[DataFrame] = None
    val gc = new Superstep.CheckpointGC(spark)
    var d = maxDist
    while (d > 0) {
      val lower = state.filter(col("dist") === d)
        .join(delta, Seq("id", "landmark"))
        .select(col("id").as("w"), col("landmark"),
          col("sigma").as("sw"), col("delta").as("dw"))
      // one row per (DAG edge, landmark): the flow term itself
      val perEdge = Superstep.freshCheckpoint(
        lower
          .join(edges.hint("shuffle_hash"), lower("w") === edges("dst"))
          .select(edges("src").as("id"), col("w"), col("landmark"),
            col("sw"), col("dw"))
          .join(state.filter(col("dist") === d - 1)
            .select(col("id"), col("landmark"), col("sigma")),
            Seq("id", "landmark"))
          .select(col("id"), col("w"), col("landmark"),
            (col("sigma").cast("double") / col("sw") *
              (lit(1.0) + col("dw"))).as("flow")), eager = true)
      val contrib = perEdge.groupBy(col("id"), col("landmark"))
        .agg(sum(col("flow")).as("delta"))
      val level = Superstep.freshCheckpoint(
        state.filter(col("dist") === d - 1)
          .select(col("id"), col("landmark"))
          .join(contrib, Seq("id", "landmark"), "left")
          .select(col("id"), col("landmark"),
            coalesce(col("delta"), lit(0.0)).as("delta")),
        eager = true)
      val lvlEdges = perEdge.select(
        least(col("id"), col("w")).as("u"),
        greatest(col("id"), col("w")).as("v"), col("flow"))
      edgeAcc = Some(Superstep.freshCheckpoint(
        edgeAcc.map(_.unionByName(lvlEdges)).getOrElse(lvlEdges),
        eager = true))
      delta = level
      gc.tick(delta +: edgeAcc.toSeq: _*)
      d -= 1
    }
    Superstep.freshCheckpoint(
      edgeAcc.map(_.groupBy(col("u"), col("v"))
          .agg(sum(col("flow")).as("betweenness")))
        .getOrElse(state.limit(0).select(
          col("id").as("u"), col("id").as("v"),
          lit(0.0).as("betweenness"))), eager = true)
  }
}
