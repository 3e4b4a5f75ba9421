package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimRank (Jeh & Widom, KDD 2002) restricted to co-citation candidate
  * pairs — "two objects are similar if they are referenced by similar
  * objects", the structural-context similarity the link graph's
  * common-neighbor scores ([[graft.graph.LinkScores]]) only
  * approximate at depth 1.
  *
  *   s(a,a) = 1
  *   s_k(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s_{k-1}(i,j)
  *
  * All-pairs SimRank is Θ(n²) state — a non-starter at web scale — so
  * this is the standard pruned power iteration: scores are computed
  * ONLY for the candidate pair set P = {(a,b) : a < b, a and b share
  * an in-neighbor, indeg ≤ `maxInDegree` on both sides, via wedge
  * centers with outdeg ≤ `maxCenterOutDegree`}, and s_{k-1} of any
  * pair outside P is treated as 0 (the diagonal s(i,i) = 1 is always
  * honoured). Pairs only co-similar through ≥2-hop context are
  * therefore under-scored — an explicit, documented recall trade
  * (Jeh & Widom §4's pruning), never a silent one; the caps mirror
  * the wedge discipline of `LinkScores.recommend`.
  *
  * Scale shape: P is vertex-wedge-bounded (Σ over capped centers of
  * C(outdeg, 2)); each iteration expands P through the two in-edge
  * joins — ≤ maxInDegree² rows per pair, the hard bound the indeg cap
  * buys — then one pair-keyed lookup join against the previous scores
  * and one map-side-combinable sum per pair. State stays |P|-sized;
  * every join is a shuffle-hash on a key the frame is already
  * partitioned by. One eager checkpoint per iteration, no other
  * actions. Arithmetic is IEEE +,·,/ only (C = 0.75 is dyadic), so
  * the DuckDB twin agrees to rounding.
  */
object SimRank {

  final case class Result(scores: DataFrame, iterations: Int)

  /** @param edges directed (src, dst); self-loops dropped, duplicates collapsed
    * @return scores (a, b, s) over the candidate pair set, a < b
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          c: Double = 0.75,
          maxIter: Int = 5,
          numPartitions: Int = 32,
          maxInDegree: Long = 64,
          maxCenterOutDegree: Long = 256): Result = Superstep.scope(spark) {

    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()

    val ind = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("ind"))
    val outd = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outd"))

    // wedge legs: in-edges whose target is indeg-capped, from
    // outdeg-capped centers
    val legs = e
      .join(ind.filter(col("ind") <= maxInDegree), e("dst") === ind("id"))
      .select(col("src").as("center"), col("dst").as("v"), col("ind"))
      .join(outd.filter(col("outd") <= maxCenterOutDegree)
        .select(col("id").as("center")).hint("shuffle_hash"),
        Seq("center"), "left_semi")
      .repartition(numPartitions, col("center"))

    val pairs = Superstep.freshCheckpoint(
      legs.as("l").join(legs.as("r"),
          col("l.center") === col("r.center") && col("l.v") < col("r.v"))
        .select(col("l.v").as("a"), col("r.v").as("b"),
          col("l.ind").as("ia"), col("r.ind").as("ib"))
        .distinct()
        .repartition(numPartitions, col("a"), col("b")), eager = true)

    // full in-edge lists: contributions come from ALL in-neighbors of
    // a capped pair endpoint (the endpoint's own cap bounds the list)
    val inE = Superstep.freshCheckpoint(
      e.select(col("dst").as("v"), col("src").as("n"))
        .repartition(numPartitions, col("v")), eager = true)

    val (scores, iters, _) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        pairs.select(col("a"), col("b"), lit(0.0).as("s")), eager = true),
      maxIter) { prev =>
      val withI = pairs
        .join(inE.select(col("v").as("a"), col("n").as("i")).hint("shuffle_hash"),
          Seq("a"))
      val withIJ = withI
        .join(inE.select(col("v").as("b"), col("n").as("j")).hint("shuffle_hash"),
          Seq("b"))
        .select(col("a"), col("b"), col("ia"), col("ib"),
          least(col("i"), col("j")).as("lo"),
          greatest(col("i"), col("j")).as("hi"),
          (col("i") === col("j")).as("diag"))
      val looked = withIJ
        .join(prev.select(col("a").as("lo"), col("b").as("hi"),
          col("s").as("sprev")).hint("shuffle_hash"), Seq("lo", "hi"), "left")
        .select(col("a"), col("b"), col("ia"), col("ib"),
          when(col("diag"), lit(1.0))
            .otherwise(coalesce(col("sprev"), lit(0.0))).as("shat"))
      Superstep.Step(Superstep.freshCheckpoint(
        looked.groupBy(col("a"), col("b"), col("ia"), col("ib"))
          .agg(sum(col("shat")).as("t"))
          .select(col("a"), col("b"),
            (lit(c) / (col("ia") * col("ib")) * col("t")).as("s")),
        eager = true))
    }
    Result(scores, iters)
  }
}
