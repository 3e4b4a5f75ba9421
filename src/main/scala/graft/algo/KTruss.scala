package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss decomposition: iteratively delete every edge in fewer than
  * k−2 triangles until stable. The truss is the edge-level density
  * filter one step up from [[KCore]] (every k-truss is a subgraph of
  * the (k−1)-core): it keeps only cohesive, triangle-reinforced
  * structure — the communities-within-communities signal a link-graph
  * layer uses for tight cluster seeds.
  *
  * Per round, edge support comes from the same degree-orientation used
  * by [[Triangles]] (Suri & Vassilvitskii 2011): orient edges low→high
  * (degree, id), out-lists stay O(√m), each triangle {u,v,w} is found
  * once as w ∈ N⁺(u) ∩ N⁺(v) via codegen'd `array_intersect`, and
  * credits its three EDGES (vs `Triangles.perVertex`'s three corners).
  *
  * Scale shape per round: adjacency groupBy + two shuffle-hash joins +
  * one explode whose output is the CURRENT triangle count, then a
  * map-side-combinable per-edge sum and a semi-join — the triangle
  * enumeration dominates exactly as in G-6, shrinking monotonically as
  * rounds peel. Deterministic set algebra end-to-end: the DuckDB twin
  * (`ktruss_sql_graph`) unrolls the rounds bit-for-bit.
  */
object KTruss {

  /** Per-edge triangle support of an undirected (u<v distinct) pair
    * set: (a, b, support), rows only for edges in ≥1 triangle.
    */
  private[graft] def edgeSupport(pairs: DataFrame, numPartitions: Int): DataFrame = {
    val tri = Triangles.enumerate(pairs, numPartitions)
    tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** @param symEdges symmetrized undirected edges (both directions)
    * @return the k-truss as (src, dst, support): unique u<v pairs with
    *   their within-truss triangle support (≥ k−2 by construction for
    *   k ≥ 3; support 0 rows survive only for k ≤ 2)
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          k: Int,
          numPartitions: Int = 32,
          maxIter: Int = 100): DataFrame = Superstep.scope(spark) {
    require(k >= 2, s"k-truss needs k >= 2, got $k")

    var cur = Superstep.freshCheckpoint(
      symEdges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct(), eager = true)
    var size = cur.count()
    var changed = k > 2 // a 2-truss is the input itself
    var iter = 0
    // the last round's support table: at loop exit it was computed
    // over an edge set identical to the stable truss, so the final
    // (dominant-cost) enumeration need not run again
    var lastSup: DataFrame = null
    val gc = new Superstep.CheckpointGC(spark)

    while (changed && iter < maxIter) {
      val sup = Superstep.freshCheckpoint(
        edgeSupport(cur, numPartitions), eager = false)
      val strong = sup.filter(col("support") >= k - 2)
        .select(col("a").as("src"), col("b").as("dst"))
      val next = Superstep.freshCheckpoint(
        cur.join(strong.hint("shuffle_hash"), Seq("src", "dst"), "left_semi"),
        eager = false)
      val nextSize = next.count() // materializes the lazy checkpoints
      gc.tick(next, sup)
      changed = nextSize != size
      cur = next; size = nextSize; lastSup = sup; iter += 1
    }
    if (changed) throw new IllegalStateException(
      s"k-truss peeling did not stabilize within $maxIter rounds — raise maxIter")
    val finalSup = if (lastSup != null) lastSup else edgeSupport(cur, numPartitions)
    cur.join(
        finalSup.select(col("a").as("src"), col("b").as("dst"), col("support")),
        Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }
}
