package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximal matching by deterministic edge priority (the Israeli–Itai
  * 1986 shape with fixed keys): a live edge joins the matching when
  * its key is the strict minimum among ALL live edges at BOTH of its
  * endpoints; matched vertices retire with every incident edge, and
  * the next round runs on what is left. The globally-min live edge
  * always wins, so every round makes progress; expected O(log m)
  * rounds with scrambled keys. Completes the symmetry-breaking family
  * next to [[Mis]]: a maximal matching is a conflict-free set of
  * PAIRS (edge-disjoint work units), and its endpoint set is the
  * classic 2-approximation of minimum vertex cover — the cheapest
  * "touch every edge" monitor/seed set a link graph has.
  *
  * Determinism contract: the edge key seeds the [[Mis.key]]
  * double-quadratic scramble with `(u·2³¹ + v) mod (2³¹−1)` (u < v
  * canonical), every operand < 2⁶² — exact in any 64-bit engine, so
  * the DuckDB twin replays the rounds bit-for-bit. Two ADJACENT live
  * edges colliding on the full key would stall; the round-progress
  * `require` turns that into a loud failure (same contract as Mis).
  *
  * Scale shape, per round: ONE map-side-combinable min-aggregation
  * over both endpoint projections of the live edges (the per-vertex
  * incident minimum), one join of the live edges against that skinny
  * (vertex, min) table on each side, and one semi-join to drop the
  * matched vertices' incident edges. No windows, no key tables — the
  * key is computed arithmetically from the endpoints.
  */
object Matching {

  private val P = 2147483647L // 2^31 - 1
  private val IdSpan = 2147483648L // 2^31

  /** Exact-BIGINT edge key over the canonical (u < v) pair. Every
    * multiplication reduces its operands first — raw ids can be
    * full-range xxhash64 longs, and ANSI mode makes `u * 31` a crash,
    * not a wrap.
    */
  def edgeKey(u: Column, v: Column): Column =
    Mis.key(pmod(pmod(u, lit(P)) * IdSpan + pmod(v, lit(P)), lit(P)) * IdSpan
      + pmod(pmod(u, lit(IdSpan)) * lit(31L) + pmod(v, lit(IdSpan)),
        lit(IdSpan)))

  /** @param symEdges undirected edges (any direction mix; canonicalized
    *                 to distinct u<v pairs, self-loops dropped)
    * @return matched edges (u, v, round): no two rows share a vertex
    *         (matching), and every input edge touches some matched
    *         vertex (maximality)
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 200): DataFrame = Superstep.scope(spark) {
    Superstep.peel(spark, Superstep.freshCheckpoint(
        symEdges.select(
            least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .filter(col("u") =!= col("v")).distinct()
          .withColumn("k", edgeKey(col("u"), col("v")))
          .repartition(numPartitions, col("u")), eager = true),
      maxIter, "matching",
      "adjacent edge-key collision — widen the key for this id space") { (e, r) =>
      // per-vertex minimum incident key — one two-sided projection,
      // map-side min-combined before the (vertex) exchange
      val vmin = e.select(col("u").as("vid"), col("k"))
        .unionAll(e.select(col("v").as("vid"), col("k")))
        .groupBy(col("vid")).agg(min(col("k")).as("mn"))
      // `k <= mu` ⟺ `k = mu` (mu is a min over a set containing k) —
      // the inequality keeps the join keys at the vertex id alone;
      // the equality form is folded into a composite (k, u) join key
      // by Catalyst, re-exchanging the EDGE side every round
      val winners = Superstep.freshCheckpoint(
        e.join(vmin.select(col("vid").as("u"), col("mn").as("mu"))
            .hint("shuffle_hash"), Seq("u"))
          .join(vmin.select(col("vid").as("v"), col("mn").as("mv"))
            .hint("shuffle_hash"), Seq("v"))
          .filter(col("k") <= col("mu") && col("k") <= col("mv"))
          .select(col("u"), col("v")), eager = true)
      (winners.withColumn("round", lit(r.toLong)), retire(e, winners))
    }
  }

  /** The live edges minus every edge incident to a matched vertex,
    * eagerly checkpointed: matched vertices retire with every incident
    * edge. Duplicates in the retire list are fine (anti-join right side).
    */
  private def retire(e: DataFrame, winners: DataFrame): DataFrame = {
    val matched = winners.select(col("u").as("vid"))
      .unionAll(winners.select(col("v").as("vid")))
    Superstep.freshCheckpoint(
      e.join(matched.select(col("vid").as("u")).hint("shuffle_hash"),
          Seq("u"), "left_anti")
        .join(matched.select(col("vid").as("v")).hint("shuffle_hash"),
          Seq("v"), "left_anti"), eager = true)
  }

  /** Locally-heaviest maximal matching (Preis 1999; Manne–Bisseling
    * 2007 parallel local-max): an edge joins the matching when it is
    * the top incident edge at BOTH endpoints under the total order
    * (weight DESC, scrambled key ASC). Greedy-by-weight analysis gives
    * the classic ½-approximation of MAXIMUM weight matching: when an
    * edge e retires, its matched neighbor e' was locally heaviest
    * as long as e was live, so w(e') ≥ w(e), and each matched edge absorbs
    * at most two OPT edges.
    *
    * Progress: among the max-weight live edges, the one with the
    * globally minimal key is locally-heaviest and key-minimal at both
    * endpoints, so every round matches ≥ 1 edge. Unlike the unweighted
    * peel, adversarial weight gradients (a monotone-weight path) can
    * serialize rounds — the expected O(log m) regime needs weights
    * without long monotone chains; a chain longer than `maxIter`
    * rounds throws `IllegalStateException` ("raise maxIter").
    *
    * Scale shape, per round: TWO map-side-combinable per-vertex aggs
    * instead of one — the incident max-WEIGHT over the live edges,
    * then the incident min-KEY over only the weight-locally-heaviest
    * candidates (a much smaller set). Both stay skinny (vertex, long);
    * no struct comparators cross the exchange, so the rounds replay in
    * integer SQL cross-engine.
    *
    * @param weightedEdges (src, dst, weight) — canonicalized to
    *                      distinct u<v pairs (max weight on conflict),
    *                      integer weights, self-loops dropped
    * @return (u, v, w, round), vertex-disjoint and maximal
    */
  def runWeighted(spark: SparkSession,
                  weightedEdges: DataFrame,
                  numPartitions: Int = 32,
                  maxIter: Int = 200): DataFrame = Superstep.scope(spark) {
    Superstep.peel(spark, Superstep.freshCheckpoint(
        weightedEdges.select(
            least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"),
            col("weight").cast("long").as("w"))
          .filter(col("u") =!= col("v"))
          .groupBy(col("u"), col("v")).agg(max(col("w")).as("w"))
          .withColumn("k", edgeKey(col("u"), col("v")))
          .repartition(numPartitions, col("u")), eager = true),
      maxIter, "weighted matching", "adjacent edge-key collision") { (e, r) =>
      // stage 1: per-vertex max incident weight over the live edges
      val vmax = e.select(col("u").as("vid"), col("w"))
        .unionAll(e.select(col("v").as("vid"), col("w")))
        .groupBy(col("vid")).agg(max(col("w")).as("mw"))
      // the candidate set feeds BOTH the key tie-break agg and the
      // winner join — materialize it once per round or the two
      // edge-scale joins above it run twice
      val cand = Superstep.freshCheckpoint(e
        .join(vmax.select(col("vid").as("u"), col("mw").as("mu"))
          .hint("shuffle_hash"), Seq("u"))
        .join(vmax.select(col("vid").as("v"), col("mw").as("mv"))
          .hint("shuffle_hash"), Seq("v"))
        // `w >= mu` ⟺ `w = mu` (mu is a max over a set containing w);
        // see the inequality note in [[run]] — keeps vertex-id join keys
        .filter(col("w") >= col("mu") && col("w") >= col("mv"))
        .select(col("u"), col("v"), col("w"), col("k")), eager = true)
      // stage 2: key tie-break among the weight-candidates only
      val kmin = cand.select(col("u").as("vid"), col("k"))
        .unionAll(cand.select(col("v").as("vid"), col("k")))
        .groupBy(col("vid")).agg(min(col("k")).as("mn"))
      val winners = Superstep.freshCheckpoint(
        cand
          .join(kmin.select(col("vid").as("u"), col("mn").as("ku"))
            .hint("shuffle_hash"), Seq("u"))
          .join(kmin.select(col("vid").as("v"), col("mn").as("kv"))
            .hint("shuffle_hash"), Seq("v"))
          .filter(col("k") <= col("ku") && col("k") <= col("kv"))
          .select(col("u"), col("v"), col("w")), eager = true)
      (winners.withColumn("round", lit(r.toLong)), retire(e, winners))
    }
  }

  /** One multilevel COARSENING step (Hendrickson–Leland 1995; the
    * METIS matching-contraction shape): contract a locally-heaviest
    * matching — each matched pair fuses into one coarse vertex (the
    * smaller endpoint id), unmatched vertices carry over, and coarse
    * edges sum the fine weights with intra-pair edges dropped.
    * Matching maximality bounds the shrink: every edge touches a
    * matched vertex, so on graphs without isolated vertices at least
    * |M| of the vertices disappear per level. Contracting the
    * HEAVIEST local edges first keeps heavy weight off the coarse cut
    * — the invariant multilevel partitioners rely on. Iterate for a
    * coarsening hierarchy; compose the mappings like Louvain's levels.
    *
    * Scale shape: the matching (above) + two vertex-keyed mapping
    * joins of the edge table + one canonical-pair groupBy — the same
    * budget as one Borůvka contraction round.
    *
    * @return (mapping (id, coarse_id) for every endpoint,
    *         coarse (src, dst, weight) canonical src<dst, self-loops
    *         dropped, weights summed)
    */
  /** @param strongOnly contract a matched pair ONLY when its weight
    *        reaches the weaker endpoint's maximum incident weight in
    *        the INPUT graph (`w ≥ least(vmax(u), vmax(v))`) — the AMG
    *        "strong connection" gate. Late matching rounds pair up
    *        LEFTOVER vertices along whatever edge is still live, which
    *        can be a light bridge between heavy regions; ungated
    *        contraction then fuses across the very cut a partitioner
    *        needs to find (multilevel partitioners tolerate this
    *        because refinement undoes it — a refinement-free pipeline
    *        like [[graft.graph.Partitioner.bisect]] must gate instead).
    *        Gated pairs stay uncontracted, so the shrink guarantee
    *        weakens from |M| to the gated-pair count.
    */
  def coarsen(spark: SparkSession,
              weightedEdges: DataFrame,
              numPartitions: Int = 32,
              strongOnly: Boolean = false): (DataFrame, DataFrame) = Superstep.scope(spark) {
    val m0 = runWeighted(spark, weightedEdges, numPartitions)
    val m = if (!strongOnly) m0 else {
      val vmax = weightedEdges
        .select(col("src").as("vid"), col("weight").cast("long").as("w0"))
        .unionAll(weightedEdges
          .select(col("dst").as("vid"), col("weight").cast("long").as("w0")))
        .groupBy(col("vid")).agg(max(col("w0")).as("mw"))
      m0.join(vmax.select(col("vid").as("u"), col("mw").as("mu"))
          .hint("shuffle_hash"), Seq("u"))
        .join(vmax.select(col("vid").as("v"), col("mw").as("mv"))
          .hint("shuffle_hash"), Seq("v"))
        .filter(col("w") >= least(col("mu"), col("mv")))
        .select(col("u"), col("v"), col("w"), col("round"))
    }
    // matched pairs map to the canonical (smaller) endpoint: u < v by
    // construction, so u → u and v → u
    val pairMap = m.select(col("u").as("id"), col("u").as("c"))
      .unionAll(m.select(col("v").as("id"), col("u").as("c")))
    val vertices = weightedEdges
      .select(col("src").as("id")).unionAll(weightedEdges.select(col("dst").as("id")))
      .distinct()
    // eager: read twice below, and the matching checkpoint it is built
    // from can then be freed on exit
    val mapping = Superstep.freshCheckpoint(vertices
      .join(pairMap.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("coarse_id")),
      eager = true)
    val coarse = weightedEdges
      .join(mapping.select(col("id").as("src"), col("coarse_id").as("cs"))
        .hint("shuffle_hash"), Seq("src"))
      .join(mapping.select(col("id").as("dst"), col("coarse_id").as("cd"))
        .hint("shuffle_hash"), Seq("dst"))
      .filter(col("cs") =!= col("cd"))
      .groupBy(least(col("cs"), col("cd")).as("src"),
        greatest(col("cs"), col("cd")).as("dst"))
      .agg(sum(col("weight").cast("long")).as("weight"))
    (mapping, coarse)
  }

  /** 2-approximation of minimum vertex cover: both endpoints of a
    * maximal matching (every edge touches a matched vertex by
    * maximality; any cover needs ≥ one endpoint per matched edge, so
    * |cover| ≤ 2·OPT). Returns one (id) row per cover vertex.
    */
  def vertexCover(spark: SparkSession,
                  symEdges: DataFrame,
                  numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    val m = run(spark, symEdges, numPartitions)
    val cover = m.select(col("u").as("id"))
      .unionAll(m.select(col("v").as("id"))).distinct()
      .localCheckpoint(false)
    cover.count()
    cover
  }
}
