package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete every
  * vertex whose (symmetric) degree is below k until the edge set is
  * stable; what survives is the maximal subgraph where every vertex
  * has ≥ k neighbors — the classic density filter a link-graph layer
  * runs before community detection or embedding (pruning the long
  * power-law tail that contributes volume but no structure).
  *
  * Deterministic and engine-replayable: each round is pure set
  * algebra (degree count → threshold → two semi-joins), so a DuckDB
  * twin unrolls the rounds bit-for-bit (`kcore_sql_graph`).
  *
  * Scale shape: per round ONE map-side-combinable degree aggregation
  * over the surviving edges plus two semi-joins against the skinny
  * alive set — the same exchange budget as a CC star round. Rounds
  * are bounded by the peeling depth (≤ max coreness; single digits on
  * power-law graphs), each round's edge set shrinks monotonically,
  * and per-round `freshCheckpoint` + [[Superstep.iterate]] keep planning and
  * storage flat exactly as in [[ConnectedComponents]].
  */
object KCore {

  /** @param symEdges symmetrized undirected edges (both directions)
    * @return (id, core_deg) for vertices in the k-core, core_deg =
    *   degree counted WITHIN the core (≥ k by construction)
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          k: Int,
          numPartitions: Int = 32,
          maxIter: Int = 100): DataFrame = Superstep.withoutAQE(spark) {

    val start = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")), eager = true)
    var size = start.count()
    val (e, _, stable) = Superstep.iterate(spark, start, maxIter) { cur =>
      val alive = cur.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("id"))
      val next = Superstep.freshCheckpoint(
        cur.join(alive.select(col("id").as("src")).hint("shuffle_hash"),
            Seq("src"), "left_semi")
          .join(alive.select(col("id").as("dst")).hint("shuffle_hash"),
            Seq("dst"), "left_semi"), eager = false)
      val nextSize = next.count() // materializes the lazy checkpoint
      val same = nextSize == size
      size = nextSize
      Superstep.Step(next, same)
    }
    // a silently truncated peel would present sub-k degrees as the
    // k-core — fail loudly instead (sibling algos report `converged`)
    require(stable,
      s"k-core peeling did not stabilize within $maxIter rounds — raise maxIter")
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Weighted s-core (Eidsaa–Almaas 2013): the k-core generalization
    * for weighted graphs — repeatedly delete every vertex whose total
    * incident STRENGTH (Σ edge weights) falls below `s` until stable.
    * On a semantic graph whose weights are co-mention counts, the
    * s-core keeps entities with enough total evidence mass, not just
    * enough distinct neighbors. Same per-round budget as [[run]]: one
    * map-side-combinable strength aggregation + two semi-joins.
    * Integer weights keep every comparison exact (the fixture and the
    * semantic graph both use BIGINT weights); the DuckDB twin
    * (`score_sql_graph`) unrolls the rounds bit-for-bit.
    *
    * @param symWeighted symmetrized weighted edges (src, dst, weight),
    *   both directions present
    * @return (id, core_strength) for vertices in the s-core, strength
    *   counted WITHIN the core (≥ s by construction)
    */
  def sCore(spark: SparkSession,
            symWeighted: DataFrame,
            s: Long,
            numPartitions: Int = 32,
            maxIter: Int = 100): DataFrame = Superstep.withoutAQE(spark) {

    val start = Superstep.freshCheckpoint(
      symWeighted.select(col("src"), col("dst"), col("weight"))
        .filter(col("src") =!= col("dst")), eager = true)
    var size = start.count()
    val (e, _, stable) = Superstep.iterate(spark, start, maxIter) { cur =>
      val alive = cur.groupBy(col("src").as("id"))
        .agg(sum(col("weight")).as("st"))
        .filter(col("st") >= s).select(col("id"))
      val next = Superstep.freshCheckpoint(
        cur.join(alive.select(col("id").as("src")).hint("shuffle_hash"),
            Seq("src"), "left_semi")
          .join(alive.select(col("id").as("dst")).hint("shuffle_hash"),
            Seq("dst"), "left_semi"), eager = false)
      val nextSize = next.count()
      val same = nextSize == size
      size = nextSize
      Superstep.Step(next, same)
    }
    require(stable,
      s"s-core peeling did not stabilize within $maxIter rounds — raise maxIter")
    e.groupBy(col("src").as("id")).agg(sum(col("weight")).as("core_strength"))
  }
}
