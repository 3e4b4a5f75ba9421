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
  * the live set. Checkpoint ownership is [[Mis]]-style: eager
  * successor, then free the predecessor; per-round layer frames stay
  * pinned until the final union is checkpointed.
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
      val gc = new Superstep.CheckpointGC(spark)
      val base = edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
      var e = Superstep.freshCheckpoint(
        base.repartition(numPartitions, col("src")), eager = true)
      val fromEdges = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
      var live = Superstep.freshCheckpoint(
        vertices.map(_.select(col("id")).unionAll(fromEdges).distinct())
          .getOrElse(fromEdges), eager = true)

      var liveCount = live.count()
      var out: DataFrame = null // lazily reads every layer's sources
      var layer = -1L

      while (liveCount > 0 && layer + 1 < maxIter) {
        layer += 1
        // a live vertex with no surviving in-edge is a source this
        // round; e is maintained live-only on the src side and a dst
        // endpoint can never have been peeled before its edge
        val hasIn = e.select(col("dst").as("id")).distinct()
        val sources = Superstep.freshCheckpoint(
          live.join(hasIn.hint("shuffle_hash"), Seq("id"), "left_anti"),
          eager = true)
        val won = sources.withColumn("layer", lit(layer))
        out = if (out == null) won else out.unionAll(won)

        val nextLive = Superstep.freshCheckpoint(
          live.join(sources.hint("shuffle_hash"), Seq("id"), "left_anti"),
          eager = true)
        val nextE = Superstep.freshCheckpoint(
          e.join(nextLive.select(col("id").as("src")).hint("shuffle_hash"),
            Seq("src"), "left_semi"), eager = true)
        live = nextLive; e = nextE
        gc.tick(live, e, out)
        val nextCount = live.count()
        require(nextCount < liveCount,
          s"not a DAG: $nextCount vertices remain after layer $layer with " +
            "no source among them (every survivor sits on a cycle) — run " +
            "Scc.condensation first")
        liveCount = nextCount
      }
      require(liveCount == 0,
        s"topological layering did not settle within $maxIter rounds")
      val res = out.localCheckpoint(false)
      res.count()
      res
    }
}
