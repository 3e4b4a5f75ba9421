package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weisfeiler–Leman (1-WL) color refinement — the canonical structural
  * fingerprint of the link graph: start from the degree partition and
  * repeatedly hash every vertex's (own color, multiset of neighbor
  * colors) until the partition stabilizes. Two vertices that 1-WL
  * assigns different colors are provably NOT structurally equivalent;
  * equal colors mean "same role as far as any message-passing model
  * can see" — the workhorse behind structural dedup of near-identical
  * subgraphs (mirrored sites, templated repo families), role discovery
  * (hub / bridge / leaf strata), and GNN expressivity analysis (1-WL
  * bounds what any GraphSAGE-style aggregation can distinguish).
  *
  * Multiset hashing without collecting: a vertex's neighbor multiset
  * is folded into a COMMUTATIVE sum of per-neighbor mixes, so the
  * per-round message aggregation is an ordinary map-side-combinable
  * `sum` — no `collect_list`, no per-hub array whose size is the hub's
  * degree (the naive sorted-list WL dies on a 10⁸-degree hub). Two
  * independent modular channels c = (c₁, c₂), each
  *
  *   c′ᵢ = (uᵢ·cᵢ + Σ_{w∈N(v)} (aᵢ·cᵢ(w) + bᵢ) + vᵢ)  mod pᵢ
  *
  * with pᵢ the two largest primes below 2³¹. A single channel collides
  * at birthday scale √p ≈ 46 k colors; the pair has an effective key
  * space of p₁·p₂ ≈ 2⁶², safe past 10⁹ distinct roles. All arithmetic
  * is exact: constants < 2²⁰ keep every product below 2⁵¹, and the
  * neighbor sum accumulates in DECIMAL(38,0) before the mod, so no
  * intermediate overflows at ANY degree (ANSI mode throws rather than
  * wraps — a wraparound hash would also be engine-specific). A DuckDB
  * twin replays the identical integer recurrence.
  *
  * Per round: one edges⨝state shuffle-hash join + map-side partial
  * decimal sums + one co-partitioned state join — exactly the PageRank
  * superstep exchange budget. Rounds needed = the graph's WL stable
  * depth (≤ diameter; tiny in practice — web graphs stabilize in
  * single digits).
  *
  * Reference analogue: the normalize pipeline's structural dedup
  * intent (normalizer.py:207-323 groups by literal name; WL is the
  * structure-grain sibling that groups by neighborhood shape).
  */
object Wl {

  /** Largest primes below 2³¹ — the two channel moduli. */
  val P1 = 2147483629L
  val P2 = 2147483587L

  // channel mixing constants (small public primes, < 2^20 so every
  // a·c product stays below 2^51 — exact in BIGINT and in IEEE-free
  // integer SQL)
  private val A1 = 1000003L; private val B1 = 17L
  private val U1 = 999983L; private val V1 = 101L
  private val A2 = 1000033L; private val B2 = 29L
  private val U2 = 999979L; private val V2 = 131L

  /** Run `rounds` of 1-WL color refinement over the symmetrized edge
    * table.
    *
    * @param symEdges symmetrized edges (src, dst) — WL is defined on
    *                 the undirected neighborhood; pass a directed
    *                 graph through [[graft.graph.GraphOps.symmetrize]]
    *                 first (or run twice on in-/out-edges for the
    *                 directed variant)
    * @param rounds   refinement rounds; the partition refines
    *                 monotonically and stabilizes at the graph's WL
    *                 depth
    * @return (id, c1, c2, color) — color = c1·p₂ + c2 combines the
    *         channels into one BIGINT class key (< 2⁶², exact)
    */
  def refine(spark: SparkSession,
             symEdges: DataFrame,
             rounds: Int,
             numPartitions: Int = 32): DataFrame =
    Superstep.scope(spark) {
      require(rounds >= 0, "rounds must be >= 0")
      val e = Superstep.freshCheckpoint(
        symEdges.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .repartition(numPartitions, col("src")), eager = true)

      // color₀ = the degree partition (both channels start equal; they
      // diverge immediately through the distinct channel constants)
      val (state, _, _) = Superstep.iterate(spark,
        Superstep.freshCheckpoint(
          e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
            .select(col("id"),
              pmod(col("d"), lit(P1)).as("c1"),
              pmod(col("d"), lit(P2)).as("c2"))
            .repartition(numPartitions, col("id")), eager = true),
        rounds) { cur =>
        // per-neighbor mix, then a commutative decimal sum per vertex
        // (map-side partial agg; DECIMAL(38,0) cannot overflow below
        // 10^38 ≈ 2^126 — no ANSI trap at any hub degree)
        val msgs = cur.join(e.hint("shuffle_hash"), cur("id") === e("src"))
          .select(e("dst").as("id"),
            (col("c1") * A1 + B1).cast("decimal(38,0)").as("g1"),
            (col("c2") * A2 + B2).cast("decimal(38,0)").as("g2"))
        val sums = msgs.groupBy(col("id")).agg(
          (sum(col("g1")) % P1).cast("long").as("s1"),
          (sum(col("g2")) % P2).cast("long").as("s2"))
        // every vertex in the state has ≥1 neighbor by construction, so
        // the join is inner and total
        Superstep.Step(Superstep.freshCheckpoint(
          cur.join(sums.hint("shuffle_hash"), Seq("id"))
            .select(col("id"),
              pmod(col("c1") * U1 + col("s1") + V1, lit(P1)).as("c1"),
              pmod(col("c2") * U2 + col("s2") + V2, lit(P2)).as("c2")),
          eager = true))
      }

      Superstep.freshCheckpoint(
        state.select(col("id"), col("c1"), col("c2"),
          (col("c1") * P2 + col("c2")).as("color")), eager = true)
    }

  /** Stable-partition summary: one row per color class with its size —
    * the WL "role census" (class count is the refinement granularity;
    * it stops growing once the partition is stable).
    */
  def colorClasses(colors: DataFrame): DataFrame =
    colors.groupBy(col("color"))
      .agg(count(lit(1)).as("size"), min(col("id")).as("rep"))

  /** Quotient (super-)graph by WL color class: one super-vertex per
    * color, super-edge (ca ≤ cb) with multiplicity = undirected edges
    * between the classes (within-class edges become a loop row). The
    * structural-compression read of the refinement — templated page
    * families (mirrors, boilerplate repo scaffolds) collapse to one
    * super-vertex each, and downstream algorithms can run on the
    * quotient at a fraction of the size. Two vertex-keyed label joins
    * + one class-grain aggregate; output is |classes|²-bounded but in
    * practice tracks the role count, not |E|.
    *
    * @param colors (id, …, color) from [[refine]]
    * @param undirectedPairs one row per undirected edge
    * @return (ca, cb, edges), ca ≤ cb
    */
  def quotient(colors: DataFrame, undirectedPairs: DataFrame): DataFrame = {
    val cl = colors.select(col("id"), col("color"))
    undirectedPairs
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .join(cl.select(col("id").as("u"), col("color").as("colU"))
        .hint("shuffle_hash"), Seq("u"))
      .join(cl.select(col("id").as("v"), col("color").as("colV"))
        .hint("shuffle_hash"), Seq("v"))
      .select(least(col("colU"), col("colV")).as("ca"),
        greatest(col("colU"), col("colV")).as("cb"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("edges"))
  }
}
