package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k = 3 clique percolation (Palla–Derényi–Farkas–Vicsek 2005):
  * OVERLAPPING communities = connected components of the clique graph
  * whose nodes are triangles and whose adjacency is "share an edge"
  * (k−1 = 2 vertices). A vertex belongs to every community one of its
  * triangles lands in — the overlap web-graph communities actually
  * have (a bridge entity sits in several topical clusters at once),
  * which partition methods (LPA/Louvain) structurally cannot express.
  *
  * Scale shape — why k = 3 percolation is linear in triangles: each
  * triangle contributes exactly THREE clique-graph edges (one per
  * corner edge-pair), so the adjacency never materializes the
  * C(t_e, 2) per-edge blowup the k ≥ 4 variants face; clique-graph
  * connectivity rides the existing O(log² n) small-star/large-star
  * [[ConnectedComponents]]. Triangle NODES get surrogate ids from
  * `monotonically_increasing_id` over the canonical EDGE table (64-bit
  * safe at any scale, collision-free by construction); determinism is
  * restored after the CC by re-labeling every community with its
  * lexicographically smallest member edge (cu, cv) — the surrogate
  * assignment is invisible in the output, any partitioning or task
  * order yields identical rows.
  *
  * Reference analogue: community_detection.py materializes one
  * partition per entity; percolation is the overlapping sibling over
  * the same co-mention structure.
  */
object CliquePercolation {

  /** @param undirectedPairs one row per undirected edge (orientation
    *                        free; canonicalized and dedup'd here)
    * @return (id, cu, cv) — vertex membership rows, one per community
    *         the vertex's triangles reach; (cu, cv) is the community's
    *         minimum member edge. Vertices in no triangle are absent
    *         (percolation defines communities on cliques only).
    */
  def run(spark: SparkSession,
          undirectedPairs: DataFrame,
          numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    val pairs = undirectedPairs
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // surrogate edge ids: any assignment works — the final re-label
    // by min member edge erases it
    val eids = Superstep.freshCheckpoint(
      pairs.withColumn("eid", monotonically_increasing_id())
        .repartition(numPartitions, col("u"), col("v")), eager = true)

    val tri = Superstep.freshCheckpoint(
      Triangles.enumerate(
        eids.select(col("u").as("src"), col("v").as("dst")), numPartitions),
      eager = true)

    // the three corner pairs, re-canonicalized (enumerate orients by
    // degree), each resolved to its eid
    def eidOf(t: DataFrame, a: String, b: String, alias: String): DataFrame =
      t.join(eids.select(col("u"), col("v"), col("eid").as(alias))
          .hint("shuffle_hash"),
        least(col(a), col(b)) === col("u") &&
          greatest(col(a), col(b)) === col("v"))
        .drop("u", "v")
    val t3 = eidOf(eidOf(eidOf(
      tri.select(col("u").as("x"), col("v").as("y"), col("w").as("z")),
      "x", "y", "e1"), "x", "z", "e2"), "y", "z", "e3")
      .select(col("e1"), col("e2"), col("e3"))

    // clique-graph adjacency: exactly 3 edges per triangle
    val adj = t3.select(col("e1").as("src"), col("e2").as("dst"))
      .unionByName(t3.select(col("e1").as("src"), col("e3").as("dst")))
      .unionByName(t3.select(col("e2").as("src"), col("e3").as("dst")))

    val cc = ConnectedComponents.run(spark, adj, None, numPartitions)

    // deterministic labels: min member edge per component…
    val members = cc.join(eids.hint("shuffle_hash"),
      cc("id") === eids("eid"))
    val labels = members.groupBy(col("component"))
      .agg(min(struct(col("u"), col("v"))).as("m"))
      .select(col("component"), col("m.u").as("cu"), col("m.v").as("cv"))

    // …then vertex memberships from the member edges' endpoints
    Superstep.freshCheckpoint(
      members.join(labels.hint("shuffle_hash"), Seq("component"))
        .select(explode(array(col("u"), col("v"))).as("id"),
          col("cu"), col("cv"))
        .distinct(), eager = true)
  }
}
