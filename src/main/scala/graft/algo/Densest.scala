package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Densest-subgraph extraction by greedy degree peeling (Charikar 2000;
  * the MapReduce form of Bahmani–Kumar–Vassilvitskii, VLDB 2012): per
  * round, drop every vertex whose degree is ≤ 2(1+ε) times the current
  * average density m/n, remember each round's (m, n), and return the
  * round with the best density — a 2(1+ε)-approximation of the densest
  * subgraph in O(log_{1+ε} n) rounds. The classic "find the spam farm /
  * mutual-citation core" primitive of link analysis.
  *
  * Determinism: the peel predicate is the exact comparison
  * deg·pDen·n > 2·pNum·m evaluated in DECIMAL(38,0) (deg·n passes 2⁶³
  * at 10¹²-vertex scale), densities are compared as exact rationals
  * (BigInt cross-multiply, ties → earliest round), and the membership
  * of the winning round is reconstructed from per-vertex removal tags
  * (a vertex removed in round r was alive at the start of every round
  * ≤ r) — no replay, no floats anywhere.
  *
  * Scale shape per round: one map-side-combinable degree aggregation,
  * one 1-row (Σdeg, n) action, two semi-joins of the edge set against
  * the skinny keep set (the [[KCore]] round budget), and one
  * vertex-sized tag append. The tag table totals ≤ |V| rows across ALL
  * rounds — each vertex is removed exactly once.
  */
object Densest {

  /** @param members the winning round's vertex set (id column)
    * @param edges edge count m of the winning subgraph
    * @param vertices vertex count n of the winning subgraph
    * @param round winning round index (0 = the input graph)
    */
  final case class Result(members: DataFrame, edges: Long, vertices: Long,
                          round: Int) {
    def density: Double = if (vertices == 0) 0.0 else edges.toDouble / vertices
  }

  /** @param symEdges undirected edges (either orientation; deduped to
    *   canonical u<v pairs internally)
    * @param pNum numerator of the exact rational (1+ε) factor
    * @param pDen denominator; default 5/4 → ε = 1/4, a
    *   2.5-approximation in ~log₁.₂₅ n rounds
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          pNum: Long = 5,
          pDen: Long = 4,
          numPartitions: Int = 32,
          maxIter: Int = 200): Result = Superstep.scope(spark) {
    require(pNum > pDen && pDen > 0,
      s"need (1+eps) = pNum/pDen > 1, got $pNum/$pDen")

    var e = Superstep.freshCheckpoint(
      symEdges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .repartition(numPartitions, col("u")), eager = true)

    val gc = new Superstep.CheckpointGC(spark)
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var tags: DataFrame = null // (id, removed_round), ≤ |V| rows total
    var round = 0
    var done = false
    while (!done && round < maxIter) {
      val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
      val mn = deg.agg(sum(col("d")).as("dd"), count(lit(1)).as("n")).collect()(0)
      if (mn.isNullAt(1) || mn.getLong(1) == 0) done = true
      else {
        val m = mn.getLong(0) / 2
        val n = mn.getLong(1)
        stats += ((round, m, n))
        // keep iff deg·pDen·n > 2·pNum·m — exact in DECIMAL(38,0)
        val rhs = BigDecimal(2) * BigDecimal(pNum) * BigDecimal(m)
        val kept = deg.filter(
          col("d").cast("decimal(38,0)")
            * lit(BigDecimal(pDen) * BigDecimal(n)) > lit(rhs))
          .select(col("id"))
        val removed = deg.join(kept, Seq("id"), "left_anti")
          .select(col("id"), lit(round).as("removed_round"))
        tags = Superstep.freshCheckpoint(
          if (tags == null) removed else tags.unionAll(removed), eager = true)
        val next = Superstep.freshCheckpoint(
          e.join(kept.withColumnRenamed("id", "u").hint("shuffle_hash"),
              Seq("u"), "left_semi")
            .join(kept.withColumnRenamed("id", "v").hint("shuffle_hash"),
              Seq("v"), "left_semi"), eager = false)
        if (next.count() == 0) {
          // kept vertices whose edges all died: alive through every
          // round so far, but an edgeless tail can never win — tag
          // them past the last scored round and stop
          tags = Superstep.freshCheckpoint(
            tags.unionAll(kept.select(col("id"),
              lit(round + 1).as("removed_round"))), eager = true)
          done = true
        }
        gc.tick(next, tags)
        e = next; round += 1
      }
    }
    if (!done) throw new IllegalStateException(
      s"densest-subgraph peel did not finish within $maxIter rounds — raise maxIter")

    if (stats.isEmpty) Result(spark.range(0).select(col("id")), 0L, 0L, 0)
    else {
      // exact rational argmax; reduceLeft keeps the EARLIER round on ties
      val (wr, wm, wn) = stats.reduceLeft { (a, b) =>
        if (BigInt(a._2) * BigInt(b._3) >= BigInt(b._2) * BigInt(a._3)) a else b
      }
      val members = Superstep.freshCheckpoint(
        tags.filter(col("removed_round") >= wr).select(col("id")), eager = true)
      Result(members, wm, wn, wr)
    }
  }
}
