package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximal independent set and greedy coloring by deterministic
  * priority (Luby 1986 / Jones–Plassmann 1993): a live vertex enters
  * the set when its priority key is a strict local minimum among its
  * LIVE neighbors; winners (MIS mode: plus their neighborhoods) retire
  * and the next round runs on what is left. The scheduling primitive a
  * link-graph layer needs for conflict-free parallel work: MIS picks a
  * spaced-out landmark/seed set, the coloring partitions vertices into
  * independent batches (two adjacent entities never share a color, so
  * a color class can be mutated/relabeled in one conflict-free pass).
  *
  * Determinism contract: the priority is a double quadratic scramble
  * mod P = 2³¹−1 (`q1 = v'(v'+3) mod P`, `q2 = q1(q1+7) mod P`, with
  * `v' = v mod P`) composed with an id tie-break into ONE exact BIGINT,
  * `key(v) = q2·2³¹ + (v mod 2³¹)` < 2⁶² — every operand stays below
  * 2⁶³ so the rounds replay bit-for-bit in any 64-bit engine (the
  * DuckDB twins replay them). Two keys collide only for ids congruent
  * mod P·2³¹ ≈ 2⁶²·¹; a colliding ADJACENT pair would stall (neither is
  * a strict minimum), which the round-progress `require` turns into a
  * loud failure — swap the scramble for `mix64` + a struct tie-break if
  * the id space is adversarial.
  *
  * Scale shape, per round: ONE map-side-combinable min-aggregation over
  * the surviving edges (the neighbor-min), one skinny left join, and
  * semi/anti joins against the shrinking live set — a CC-star exchange
  * budget. The priority is computed arithmetically FROM the endpoint
  * id, so no key table ever joins onto the edges. Expected O(log n)
  * rounds with scrambled priorities; each round's edge set shrinks
  * monotonically. The loop is [[Superstep.peel]] over the live
  * vertices and their edges.
  */
object Mis {

  private val P = 2147483647L // 2^31 - 1
  private val IdSpan = 2147483648L // 2^31

  /** The exact-BIGINT priority key, replayable cross-engine. TWO
    * quadratic passes deliberately: a LINEAR scramble has p(v+d) − p(v)
    * constant per jump d, so the arithmetic-progression edges of a
    * structured graph carry monotone priority chains and the round
    * count degenerates, and even ONE quadratic pass keeps enough
    * low-degree structure to stall (measured on the 1.5 k-vertex
    * fixture: 40 MIS rounds / 118 colors with one pass, 6 / 20 with
    * two — the O(log n) regime). Every multiplication is of two values
    * < 2³¹, so every operand stays below 2⁶² — exact in any engine's
    * 64-bit integers (DuckDB BIGINT errors on overflow rather than
    * wrapping, so this bound is load-bearing for the oracle).
    */
  def key(v: Column): Column = {
    val vp = pmod(v, lit(P))
    val q1 = pmod(vp * (vp + lit(3L)), lit(P))
    val q2 = pmod(q1 * (q1 + lit(7L)), lit(P))
    q2 * IdSpan + pmod(v, lit(IdSpan))
  }

  /** Maximal independent set. Returns (id, round) for MIS MEMBERS:
    * round = the superstep at which the vertex won. Every non-member
    * is adjacent to a member (maximality); no two members are adjacent
    * (independence).
    *
    * @param symEdges symmetrized undirected edges (both directions)
    * @param vertices optional one-column `id` universe; ids with no
    *                 edge at all are trivially independent and join
    *                 the MIS in round 1
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          vertices: Option[DataFrame] = None,
          numPartitions: Int = 32,
          maxIter: Int = 200): DataFrame =
    rounds(spark, symEdges, vertices, numPartitions, maxIter,
      removeNeighbors = true)

  /** Greedy coloring on the same schedule: each round's winners form an
    * independent set and take the round index as their color, but only
    * the winners retire (their neighbors stay live for later rounds).
    * Returns (id, color) for EVERY vertex; adjacent vertices never
    * share a color. Rounds (= colors) are bounded by the degeneracy-
    * ordered chromatic bound rather than log n — still small on
    * power-law graphs, and each round strictly shrinks the live set.
    */
  def coloring(spark: SparkSession,
               symEdges: DataFrame,
               vertices: Option[DataFrame] = None,
               numPartitions: Int = 32,
               maxIter: Int = 400): DataFrame =
    rounds(spark, symEdges, vertices, numPartitions, maxIter,
      removeNeighbors = false)
      .withColumnRenamed("round", "color")

  private def rounds(spark: SparkSession,
                     symEdges: DataFrame,
                     vertices: Option[DataFrame],
                     numPartitions: Int,
                     maxIter: Int,
                     removeNeighbors: Boolean): DataFrame =
    Superstep.scope(spark) {
      Superstep.peel(spark, {
        val e = Superstep.freshCheckpoint(
          symEdges.select(col("src"), col("dst"))
            .filter(col("src") =!= col("dst"))
            .repartition(numPartitions, col("src")), eager = true)
        val fromEdges = e.select(col("src").as("id")).distinct()
        (Superstep.freshCheckpoint(
          vertices.map(_.select(col("id")).unionAll(fromEdges).distinct())
            .getOrElse(fromEdges), eager = true), e)
      }, maxIter, if (removeNeighbors) "MIS" else "greedy coloring",
        // ties between adjacent survivors would stall forever
        "adjacent priority-key collision — use a wider key for this id space") {
        case ((live, e), r) =>
          // min neighbor key over the LIVE graph — e is maintained
          // live-only, so this is one agg, no key join
          val nbrMin = e.groupBy(col("src").as("id"))
            .agg(min(key(col("dst"))).as("mn"))
          val sel = Superstep.freshCheckpoint(
            live.join(nbrMin.hint("shuffle_hash"), Seq("id"), "left")
              .filter(col("mn").isNull || key(col("id")) < col("mn"))
              .select(col("id")), eager = true)

          // no distinct on the neighborhood list: it only feeds the
          // left_anti below, which is insensitive to right-side
          // duplicates — deduping would cost an extra edge-scale exchange
          val removed =
            if (removeNeighbors)
              sel.unionAll(
                e.join(sel.select(col("id").as("src")).hint("shuffle_hash"),
                  Seq("src"), "left_semi").select(col("dst").as("id")))
            else sel
          val nextLive = Superstep.freshCheckpoint(
            live.join(removed.hint("shuffle_hash"), Seq("id"), "left_anti"),
            eager = true)
          val nextE = Superstep.freshCheckpoint(
            e.join(nextLive.select(col("id").as("src")).hint("shuffle_hash"),
                Seq("src"), "left_semi")
              .join(nextLive.select(col("id").as("dst")).hint("shuffle_hash"),
                Seq("dst"), "left_semi"), eager = true)
          (sel.withColumn("round", lit(r.toLong)), (nextLive, nextE))
      }
    }
}
