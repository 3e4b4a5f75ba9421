package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) — G-5, mandated by the north rule. Converges in
  * O(log²  n) rounds on any graph (in practice a handful), unlike
  * min-label flooding which needs O(diameter) rounds on path-like
  * graphs — the right choice for 10^12-file scale.
  *
  * Each star reads its input through one hash exchange on `src`: the
  * per-vertex neighbor minimum is `min(dst) OVER (PARTITION BY src)`
  * evaluated in place on the rows it labels, not a groupBy(min) joined
  * back onto the same rows, so a round plans three shuffles (src, src,
  * and the final (src, dst) distinct). No collect_list: a vertex's rows
  * sit in Spark's window buffer, which spills to disk past its
  * in-memory threshold, so a high-degree hub costs disk, not heap.
  * Component label = min vertex id of the component ("exact up to
  * relabeling" canonical form per the north rule).
  */
object ConnectedComponents {

  private val bySrc = Window.partitionBy(col("src"))

  /** One large-star round: every neighbor v > u links to
    * m = min(Γ(u) ∪ {u}). Exposed, like [[smallStar]], for PlanSpec.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("m", least(col("src"), min(col("dst")).over(bySrc)))
      .filter(col("dst") > col("src")) // after the window: m sees all of Γ(u)
      .select(col("dst").as("src"), col("m").as("dst"))
    // dst > src ≥ m, so no self-loop; no distinct here: small-star's
    // final distinct restores set semantics, saving one shuffle per round

  /** One small-star round: orient u > v; u and every smaller neighbor
    * link to m = min(Γ⁻(u) ∪ {u}). Each oriented row yields both of its
    * links, (v, m) and (u, m), in one pass; the distinct folds the
    * repeated (u, m) and drops the rest of the duplicates.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame =
    e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .withColumn("m", min(col("dst")).over(bySrc))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("l"))
      .select(col("l.src"), col("l.dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      expr("bit_xor(xxhash64(src, dst))")).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** @param edges undirected edge list (either orientation, self-loops ok)
    * @param vertices optional full vertex set (id) so isolated vertices
    *                 get their own component
    * @param numPartitions unread: the star rounds' exchanges use
    *                 `spark.sql.shuffle.partitions`. Kept in the
    *                 signature because callers pass `maxIter` after it
    *                 positionally
    * @return (id, component) with component = min member id
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          vertices: Option[DataFrame] = None,
          numPartitions: Int = 32,
          maxIter: Int = 50,
          ckpt: Option[Superstep] = None): DataFrame = Superstep.scope(spark) {

    // the start state's checksum is taken by the first round
    var prevSum: Option[(Long, Long)] = None
    val (e, _, converged) = Superstep.iterate(spark,
      // no upfront distinct/repartition: the first large-star round
      // shuffles by src anyway and small-star's distinct restores set
      // semantics — two edge-scale shuffles saved
      // freshCheckpoint, not bare localCheckpoint: large-star reads its
      // input twice (the union), so inherited origin stats would keep
      // growing round over round (see CheckpointStats)
      Superstep.freshCheckpoint(
        edges.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")), eager = true),
      maxIter, ckpt = ckpt) { cur =>
      val prev = prevSum.getOrElse(checksum(cur))
      val next = Superstep.freshCheckpoint(
        smallStar(largeStar(cur)), eager = false) // lazy: checksum materializes
      val s = checksum(next)
      prevSum = Some(s)
      Superstep.Step(next, s == prev, Map("edges" -> s._1.toDouble))
    }
    // a half-converged star forest splits components: never return it
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds — raise maxIter")

    // star edges: (member, root); roots and isolated vertices map to self
    val members = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = e.select(col("dst").as("id")).distinct()
      .withColumn("component", col("id"))
    val fromEdges = members.unionByName(roots)
    vertices match {
      case None => fromEdges
      case Some(v) =>
        val isolated = v.select(col("id"))
          .join(fromEdges.select("id"), Seq("id"), "left_anti")
          .withColumn("component", col("id"))
        fromEdges.unionByName(isolated)
    }
  }

  /** Incremental connected components after an ADDITIVE snapshot
    * delta (the companion to `GraphOps.snapshotDiff` + warm-start
    * PageRank): instead of re-running over the full historic edge set,
    * contract the prior graph to its (id → component) star edges —
    * each old component collapses to |members| edges regardless of how
    * many of the 10^12 historic edges built it — and run the standard
    * large-star/small-star loop over stars ∪ deltaEdges.
    *
    * Correct for ANY prior labeling whose component label is a member
    * id (ours is the min member id): the stars reproduce exactly the
    * old connectivity classes, so components of stars ∪ Δ equal
    * components of G_old ∪ Δ, and the min-id canonical label is the
    * min over genuine member ids. Edge DELETIONS are not supported
    * (connectivity is not decremental under contraction) — recompute
    * from scratch when the diff contains removals.
    *
    * Scale shape: input is |V_old| star edges + |Δ| delta edges — the
    * historic edge volume never re-enters the job. The star graph has
    * diameter ≤ 2 per old component, so the loop converges in O(log²)
    * rounds of the MERGED component structure, typically 2-3 rounds
    * when deltas are sparse.
    *
    * @param prevLabels (id, component) from a prior [[run]]
    * @param deltaEdges edges NEW since the prior run (either
    *                   orientation; overlap with old edges is harmless,
    *                   it only adds redundant connectivity)
    * @param numPartitions passed on to [[run]], which does not read it
    *                   (exchanges use `spark.sql.shuffle.partitions`)
    * @return (id, component) over all prior vertices plus delta
    *         endpoints, component = min member id — identical to a
    *         fresh [[run]] over the full updated graph
    */
  def incremental(spark: SparkSession,
                  prevLabels: DataFrame,
                  deltaEdges: DataFrame,
                  numPartitions: Int = 32,
                  maxIter: Int = 50): DataFrame = {
    val stars = prevLabels.select(col("id").as("src"), col("component").as("dst"))
    val delta = deltaEdges.select(col("src"), col("dst"))
    // prior vertex set rides along so unchanged singletons keep their
    // self-component (run() drops the root self-loops from the stars)
    val verts = prevLabels.select(col("id"))
      .unionAll(delta.select(col("src").as("id")))
      .unionAll(delta.select(col("dst").as("id")))
      .distinct()
    run(spark, stars.unionAll(delta), Some(verts), numPartitions, maxIter)
  }
}
