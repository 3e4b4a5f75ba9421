package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Topological layering of a DAG (Kahn 1962 peeling): layer(v) = the
  * round at which v loses its last remaining in-edge = the LONGEST
  * path length from any source to v. The link-graph scheduling
  * primitive over the [[Scc.condensation]] output: layer k is the set
  * of components whose every dependency lives in layers < k, so the
  * layers are the maximal batches a dependency-ordered rebuild /
  * recrawl / recompute can run in parallel.
  *
  * Per round: ONE distinct-projection of the surviving edges' dst side
  * (which vertices still have an in-edge — map-side combinable), one
  * anti-join to pick the sources, and one semi-join to drop their
  * out-edges. Rounds = DAG depth, inherent to the dependency order
  * (same bound as BFS rounds = diameter); each round strictly shrinks
  * the live set. The loop is [[Superstep.peel]]: the live vertices
  * and their out-edges are the live value, each round's sources the
  * winners.
  *
  * Cycles cannot be layered: a round where no live vertex is a source
  * means every survivor sits on a cycle — that fails loud with the
  * survivor count rather than returning a partial layering (run
  * [[Scc]] first and layer the condensation).
  */
object Topology {

  /** @param edges directed DAG edges (src → dst = dst depends on src)
    * @param vertices optional one-column `id` universe; ids with no
    *                 edge at all are sources and land in layer 0
    * @return (id, layer) for EVERY vertex, layer 0 = the sources
    */
  def layers(spark: SparkSession,
             edges: DataFrame,
             vertices: Option[DataFrame] = None,
             numPartitions: Int = 32,
             maxIter: Int = 100000): DataFrame =
    Superstep.scope(spark) {
      Superstep.peel(spark, {
        val e = Superstep.freshCheckpoint(
          edges.select(col("src"), col("dst"))
            .filter(col("src") =!= col("dst"))
            .repartition(numPartitions, col("src")), eager = true)
        val fromEdges = e.select(col("src").as("id"))
          .unionAll(e.select(col("dst").as("id"))).distinct()
        (Superstep.freshCheckpoint(
          vertices.map(_.select(col("id")).unionAll(fromEdges).distinct())
            .getOrElse(fromEdges), eager = true), e)
      }, maxIter, "topological layering",
        "not a DAG — every survivor sits on a cycle; run Scc.condensation first") {
        case ((live, e), r) =>
          // a live vertex with no surviving in-edge is a source this
          // round; e is maintained live-only on the src side and a dst
          // endpoint can never have been peeled before its edge
          val hasIn = e.select(col("dst").as("id")).distinct()
          val sources = Superstep.freshCheckpoint(
            live.join(hasIn.hint("shuffle_hash"), Seq("id"), "left_anti"),
            eager = true)
          val nextLive = Superstep.freshCheckpoint(
            live.join(sources.hint("shuffle_hash"), Seq("id"), "left_anti"),
            eager = true)
          val nextE = Superstep.freshCheckpoint(
            e.join(nextLive.select(col("id").as("src")).hint("shuffle_hash"),
              Seq("src"), "left_semi"), eager = true)
          (sources.withColumn("layer", lit(r - 1L)), (nextLive, nextE))
      }
    }
}
