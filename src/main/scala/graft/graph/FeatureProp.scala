package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.Superstep

/** Neighborhood feature aggregation — the GraphSAGE/GCN data-prep
  * primitive: layer ℓ's value at v is the sum of layer ℓ−1 over v's
  * neighbors (layer 0 = the input feature). Two layers of sums give
  * every vertex its 1-hop and 2-hop-walk feature mass; means are
  * derived columns (sum / degree) so the aggregation itself stays in
  * EXACT integer arithmetic — multi-term float sums are the one thing
  * that breaks cross-engine parity (see the Katz α lesson), while a
  * single division of identical integers is bit-identical everywhere.
  *
  * Scale shape: one PageRank-superstep exchange per layer (edges⨝
  * state shuffle-hash join, map-side partial SUM on dst, left join
  * back onto the vertex set). Features stay long; at 2⁶³ risk switch
  * to DecimalType(38,0) — same plan.
  */
object FeatureProp {

  /** @param symEdges symmetrized edges (both directions present)
    * @param features (id, f: long) — missing vertices default to 0
    * @param layers number of neighbor-sum layers ≥ 1
    * @return (id, degree, f, s1..s{layers}, mean1) where s_ℓ is the
    *         ℓ-layer neighbor sum and mean1 = s1/degree at 6dp
    */
  def neighborSums(spark: SparkSession,
                   symEdges: DataFrame,
                   features: DataFrame,
                   layers: Int = 2,
                   numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    require(layers >= 1, "need at least one aggregation layer")
    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val verts = e.select(col("src").as("id")).distinct()
      .join(features.select(col("id"), col("f")), Seq("id"), "left")
      .select(col("id"), coalesce(col("f"), lit(0L)).as("f"))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

    // state columns (id, degree, f, s1, …): layer l reads the last one
    val (acc, _, _) = Superstep.iterate(spark, Superstep.freshCheckpoint(
      verts.join(deg, Seq("id")).select(col("id"), col("degree"), col("f")),
      eager = true), layers) { acc =>
      val prev = acc.columns.last
      val l = acc.columns.length - 2
      val sums = e
        .join(acc.select(col("id"), col(prev)).hint("shuffle_hash"),
          e("src") === col("id"))
        .groupBy(e("dst").as("id")).agg(sum(col(prev)).as(s"s$l"))
      Superstep.Step(Superstep.freshCheckpoint(
        acc.join(sums, Seq("id"), "left")
          .withColumn(s"s$l", coalesce(col(s"s$l"), lit(0L))), eager = true))
    }
    acc.withColumn("mean1", round(col("s1").cast("double") / col("degree"), 6))
  }

  /** Graph-signal smoothness — the Dirichlet energy of a vertex
    * feature, decomposed per vertex: local_var(v) = Σ_{u∼v}
    * (x_v − x_u)², the quadratic form x'Lx restricted to v's edges
    * (global energy = Σ_v local_var / 2). The homophily probe for a
    * feature column before spending on propagation or GNN training —
    * a signal with low energy is already explained by the graph, a
    * vertex whose `smoothness` = local_var/degree towers over its
    * peers disagrees with its whole neighborhood (label-noise /
    * anomaly read).
    *
    * All-integer aggregation (the neighborSums discipline): diffs and
    * squares stay in BIGINT — exact for |x| < 2³¹ — and the one fp
    * division per vertex happens after the aggregate. Budget: two
    * vertex-keyed shuffle-hash feature joins onto the canonical pair
    * table, one ≤2-row-per-edge explode, one map-side-combinable
    * vertex-grain sum.
    *
    * @param undirectedPairs one row per undirected edge, src < dst
    * @param features (id, x: long) — missing vertices default to 0
    * @return (id, degree, local_var, smoothness)
    */
  def dirichlet(spark: SparkSession,
                undirectedPairs: DataFrame,
                features: DataFrame,
                numPartitions: Int = 32): DataFrame = {
    val f = features.select(col("id"), col("x"))
    val perEdge = undirectedPairs.select(col("src"), col("dst"))
      .join(f.select(col("id").as("src"), col("x").as("xu"))
        .hint("shuffle_hash"), Seq("src"), "left")
      .join(f.select(col("id").as("dst"), col("x").as("xv"))
        .hint("shuffle_hash"), Seq("dst"), "left")
      .select(col("src"), col("dst"),
        (coalesce(col("xu"), lit(0L)) - coalesce(col("xv"), lit(0L)))
          .as("diff"))
      .select(col("src"), col("dst"), (col("diff") * col("diff")).as("d2"))
    perEdge
      .select(explode(array(col("src"), col("dst"))).as("id"), col("d2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"), sum(col("d2")).as("local_var"))
      .withColumn("smoothness",
        col("local_var").cast("double") / col("degree"))
  }
}
