package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.Superstep

/** DeepWalk-style random-walk corpus generation (Perozzi et al. 2014):
  * `walksPerVertex` fixed-length uniform walks from each start vertex,
  * the training-data primitive for skip-gram graph embeddings over the
  * entity graph.
  *
  * Determinism contract: the step-t choice out of vertex v on walk w is
  * `((v mod P)·31 + (w mod P)·131 + t·257) mod P mod degree(v)` into
  * v's dst-sorted adjacency (P = 2³¹−1). A congruential mix rather
  * than an avalanche hash, deliberately: every operand stays below
  * 2⁴¹ so the arithmetic is exact in ANY engine's 64-bit integers —
  * the walks replay row-for-row in the DuckDB twin, in a property
  * test, or in a downstream Python consumer. Swap [[choice]] for
  * `mix64`-based mixing when statistical quality matters more than
  * cross-engine replay.
  *
  * Scale shape, per step (L steps total):
  *  - ONE skinny equi-join state⨝degrees on the current vertex to
  *    compute the choice rank;
  *  - ONE equi-join on BOTH keys (src, rank) against the rank-indexed
  *    adjacency — output exactly one row per live walk. Joining on
  *    the rank (not filtering post-join) is the skew defense: a
  *    million-follower hub matches each arriving walk against ONE
  *    adjacency row, never fanning out degree-wide.
  * The rank-indexed adjacency (src, rank, dst, deg) is built once with
  * a per-src `row_number` window — the same one-off sort a CSR pack
  * would do — and reused read-only by every step.
  *
  * Walks that reach a vertex with no outgoing edge (possible only on
  * directed input; never on a symmetrized graph) stop early: their
  * rows simply end at that step.
  */
object RandomWalks {

  private val P = 2147483647L // 2^31-1

  /** The deterministic step choice — exact in 64-bit for ANY long
    * vertex id (pmod maps into [0, P) before the small-constant
    * multiplies, so every operand stays below 2^41; a raw
    * `id·walksPerVertex` walk id would overflow on hashed ids).
    */
  def choice(cur: Column, start: Column, replica: Column, step: Int,
             deg: Column): Column =
    pmod(pmod(cur, lit(P)) * 31 + pmod(start, lit(P)) * 131 +
      replica * 8191 + lit(step.toLong) * 257, lit(P)) % deg

  /** @param edges directed edges to walk along (pass a symmetrized
    *              table for undirected walks)
    * @param starts one column `id` of walk start vertices
    * @return (start, replica, path) — walk identity is the (start,
    *         replica) pair (overflow-safe for hashed 64-bit ids);
    *         path is the array<long> visit sequence INCLUDING the
    *         start, length ≤ walkLength+1
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          starts: DataFrame,
          walksPerVertex: Int = 2,
          walkLength: Int = 8,
          numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    require(walksPerVertex > 0 && walkLength > 0)

    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    // one-off rank index: v's neighbors numbered 0..deg-1 in dst order
    val ranked = Superstep.freshCheckpoint(
      e.select(col("src"), col("dst"),
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("deg"))
        .repartition(numPartitions, col("src")), eager = true)
    val degs = Superstep.freshCheckpoint(
      ranked.groupBy(col("src").as("id")).agg(first(col("deg")).as("deg"))
        .repartition(numPartitions, col("id")), eager = true)

    var state = Superstep.freshCheckpoint(
      starts.select(col("id"))
        .crossJoin(spark.range(walksPerVertex).select(col("id").as("replica")))
        .select(col("id").as("start"), col("replica"),
          array(col("id")).as("path"), col("id").as("cur")),
      eager = true)
    var finished = state.filter(lit(false))

    // `finished` lazily references every step's state frame: naming it
    // keeps them until the final materialization
    val gc = new Superstep.CheckpointGC(spark)
    var t = 0
    while (t < walkLength) {
      val withPick = state
        .join(degs.hint("shuffle_hash"), state("cur") === degs("id"), "left")
        .select(col("start"), col("replica"), col("path"), col("cur"),
          when(col("deg").isNull, lit(null))
            .otherwise(choice(col("cur"), col("start"), col("replica"), t,
              col("deg")))
            .as("pick"))
      // dead ends (directed input only) retire into `finished`
      finished = finished.unionByName(
        withPick.filter(col("pick").isNull)
          .select(col("start"), col("replica"), col("path"), col("cur")))
      val stepped = withPick.filter(col("pick").isNotNull)
        .join(ranked.hint("shuffle_hash"),
          col("cur") === ranked("src") && col("pick") === ranked("rank"))
        .select(col("start"), col("replica"),
          concat(col("path"), array(ranked("dst"))).as("path"),
          ranked("dst").as("cur"))
      state = Superstep.freshCheckpoint(stepped, eager = true)
      gc.tick(state, finished)
      t += 1
    }
    Superstep.freshCheckpoint(
      state.unionByName(finished)
        .select(col("start"), col("replica"), col("path")),
      eager = true)
  }

  /** The biased-walk acceptance draw for attempt `a` of edge choice
    * `t` — same exact-64-bit contract as [[choice]], independent
    * constants.
    */
  def acceptDraw(cur: Column, start: Column, replica: Column, m: Int): Column =
    pmod(pmod(cur, lit(P)) * 37 + pmod(start, lit(P)) * 149 +
      replica * 4099 + col("t") * 263 + col("att") * 12373, lit(P)) % m

  private def rankDraw(cur: Column, start: Column, replica: Column,
                       deg: Column): Column =
    pmod(pmod(cur, lit(P)) * 31 + pmod(start, lit(P)) * 131 +
      replica * 8191 + col("t") * 257 + col("att") * 12289, lit(P)) % deg

  /** node2vec-STYLE biased walks by rejection sampling (the KnightKing
    * scheme, Yang et al. 2019) — the exact-alias-table alternative
    * that needs no O(Σ_edges deg) per-edge tables: draw a uniform
    * neighbor with the same (src, rank) equi-join as [[run]], classify
    * it against the previous vertex (back / triangle / far ≅ 1/p / 1 /
    * 1/q as INTEGER weights wRet / wTri / wFar), and accept with
    * probability weight/max-weight via a second deterministic draw;
    * rejected walks retry with the attempt counter salting both draws.
    * Expected attempts per step ≤ M/min-weight (all weights ≥ 1
    * required, which also guarantees termination); the first hop is
    * uniform, as in the paper.
    *
    * Everything is exact 64-bit integer arithmetic, so the
    * accept/reject stream — not just the result — replays in the
    * DuckDB twin. Per ROUND (not per step) the work is one skinny
    * degree join, one (src, rank) equi-join, and one canonical-pair
    * left join for the triangle test: hub fan-out stays bounded
    * exactly as in [[run]]. Requires symmetrized input (walks must
    * never dead-end mid-rejection).
    */
  def biased(spark: SparkSession,
             symEdges: DataFrame,
             starts: DataFrame,
             walksPerVertex: Int = 2,
             walkLength: Int = 8,
             wRet: Int = 1,
             wTri: Int = 2,
             wFar: Int = 1,
             numPartitions: Int = 32,
             maxRounds: Int = 512): DataFrame = Superstep.scope(spark) {
    require(walksPerVertex > 0 && walkLength > 0)
    require(wRet >= 1 && wTri >= 1 && wFar >= 1,
      "integer weights must be >= 1 (zero would let rejection loop forever)")
    val m = math.max(wRet, math.max(wTri, wFar))

    val e = symEdges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    val ranked = Superstep.freshCheckpoint(
      e.select(col("src"), col("dst"),
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("deg"))
        .repartition(numPartitions, col("src")), eager = true)
    val degs = Superstep.freshCheckpoint(
      ranked.groupBy(col("src").as("id")).agg(first(col("deg")).as("deg"))
        .repartition(numPartitions, col("id")), eager = true)
    val und = Superstep.freshCheckpoint(
      e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
        .repartition(numPartitions, col("u")), eager = true)

    // state: t = edges taken so far, att = rejected attempts at this t
    var state = Superstep.freshCheckpoint(
      starts.select(col("id"))
        .crossJoin(spark.range(walksPerVertex).select(col("id").as("replica")))
        .select(col("id").as("start"), col("replica"),
          array(col("id")).as("path"), col("id").as("prev"),
          col("id").as("cur"), lit(0L).as("t"), lit(0L).as("att")),
      eager = true)

    val gc = new Superstep.CheckpointGC(spark)
    var round = 0
    var pending = state.filter(col("t") < walkLength).count()
    while (pending > 0 && round < maxRounds) {
      val live = state.filter(col("t") < walkLength)
      val done = state.filter(col("t") >= walkLength)
      val cand = live
        .join(degs.hint("shuffle_hash"), live("cur") === degs("id"))
        .withColumn("pick",
          rankDraw(col("cur"), col("start"), col("replica"), col("deg")))
        .join(ranked.hint("shuffle_hash"),
          col("cur") === ranked("src") && col("pick") === ranked("rank"))
        .select(col("start"), col("replica"), col("path"), col("prev"),
          col("cur"), col("t"), col("att"), ranked("dst").as("x"))
      val classified = cand
        .join(und.hint("shuffle_hash"),
          least(col("prev"), col("x")) === und("u") &&
            greatest(col("prev"), col("x")) === und("v"), "left")
        .select(col("start"), col("replica"), col("path"), col("prev"),
          col("cur"), col("t"), col("att"), col("x"),
          when(col("x") === col("prev"), lit(wRet))
            .when(und("u").isNotNull, lit(wTri))
            .otherwise(lit(wFar)).as("w"))
      val stepped = classified.withColumn("ok",
        col("t") === 0 || // first hop: uniform, always accept
          acceptDraw(col("cur"), col("start"), col("replica"), m) < col("w"))
        .select(col("start"), col("replica"),
          when(col("ok"), concat(col("path"), array(col("x"))))
            .otherwise(col("path")).as("path"),
          when(col("ok"), col("cur")).otherwise(col("prev")).as("prev"),
          when(col("ok"), col("x")).otherwise(col("cur")).as("cur"),
          when(col("ok"), col("t") + 1).otherwise(col("t")).as("t"),
          when(col("ok"), lit(0L)).otherwise(col("att") + 1).as("att"))
      val next = Superstep.freshCheckpoint(
        done.unionByName(stepped), eager = false)
      pending = next.filter(col("t") < walkLength).count()
      state = next
      gc.tick(state)
      round += 1
    }
    if (pending > 0) throw new IllegalStateException(
      s"biased walks still rejecting after $maxRounds rounds — raise maxRounds")
    Superstep.freshCheckpoint(
      state.select(col("start"), col("replica"), col("path")), eager = true)
  }

  /** Skip-gram training pairs from a walk corpus — the (center,
    * context) co-occurrence counts word2vec-over-DeepWalk trains on:
    * every ordered position pair at distance 1..`window` within each
    * walk (both directions, the symmetric-context convention of
    * Perozzi et al. 2014 §4.2).
    *
    * Scale shape: pair generation is a pure per-row array HOF over the
    * `path` column — NOT the naive exploded self-join on walk id,
    * which would shuffle the exploded corpus twice to rediscover
    * within-row adjacency the row already holds. Per walk of length L
    * the HOF emits ≤ 2·w·L pairs map-side; the ONLY exchange is the
    * final (center, context) groupBy, map-side combinable, whose key
    * space is bounded by the ≤window-hop co-reachability of the graph
    * — not by the corpus size — so the reduce side stays small even
    * when walksPerVertex is cranked for embedding quality.
    *
    * @param walks  output of [[run]] or [[biased]]: (start, replica,
    *               path array<long>)
    * @return (center, context, cnt) exact counts
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window > 0)
    // (c, i) -> contexts at |j - i| ∈ [1, window], clipped to the path
    val pairs = expr(
      s"""flatten(transform(path, (c, i) ->
            transform(
              filter(sequence(greatest(0, i - $window),
                              least(size(path) - 1, i + $window)),
                     j -> j != i),
              j -> struct(c AS center, path[j] AS context))))""")
    walks.select(explode(pairs).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }
}
