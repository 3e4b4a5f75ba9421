package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed greedy graph coloring — Jones–Plassmann (1993) with a
  * largest-degree-first priority, the classic symmetry-breaking
  * primitive for scheduling conflicting updates over a link graph
  * (edge-disjoint maintenance batches, register-style slot assignment
  * for co-hosted crawl shards, parallel Gauss–Seidel orderings).
  *
  * Priority is the lexicographic triple (⌊log₂ deg⌋, mix(id), id) — a
  * total order (id is unique), deterministic and engine-replayable:
  * mix is the 31-bit Knuth multiplicative hash both engines compute
  * in exact BIGINT arithmetic, and the degree enters COARSENED to its
  * bit length. The coarsening is load-bearing for round count: under
  * a strict (deg, …) order a power-law graph's many distinct degrees
  * chain into deep sequential dependencies (measured: the 0.98 M-edge
  * entity graph failed to converge in 100 rounds), while within a
  * shared log₂ bucket the mix is random, restoring Jones–Plassmann's
  * O(log n)-rounds argument per bucket with only O(log Δ) buckets —
  * and hubs still color before the rim. Each round, every uncolored
  * vertex whose priority exceeds ALL its uncolored neighbors' takes
  * the minimum color absent from its already-colored neighborhood
  * (mex). Two adjacent vertices can never win the same round (one's
  * priority bounds the other's), so the coloring is proper by
  * construction; the max-priority uncolored vertex always wins, so
  * every round colors ≥1 vertex.
  *
  * Scale shape (the LPA/PageRank superstep budget):
  *  - one edges⨝state shuffle-hash join per round (edges partitioned
  *    once on src and cached; the skinny state re-shuffles);
  *  - one map-side-combinable aggregation per round: the uncolored-
  *    neighbor priority MAX and the colored-neighbor DISTINCT color
  *    set. Σ_v |colorset(v)| ≤ Σ_v deg(v) = 2m, so the aggregate is
  *    never larger than the join input, and largest-degree-first
  *    colors hubs in the earliest rounds while the palette is small;
  *  - one skinny left-join update + one count action (convergence).
  *  - mex is a per-row sorted-array fold over that bounded set — no
  *    window, no collect to the driver.
  */
object Coloring {

  final case class Result(colors: DataFrame, rounds: Int, converged: Boolean)

  /** 31-bit multiplicative mixer, exact in BIGINT on both engines:
    * ((id mod 2³¹) · 2654435761) mod 2³¹.
    */
  def mix(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(2654435761L), lit(2147483648L))

  /** Minimum excluded value of a distinct color set: fold over the
    * sorted array — acc advances past each color equal to it.
    */
  def mexOf(used: Column): Column =
    aggregate(array_sort(coalesce(used, array().cast("array<int>"))),
      lit(0), (acc, c) => when(c === acc, acc + 1).otherwise(acc))

  /** Jones–Plassmann coloring of the undirected graph.
    *
    * Round count is NOT O(log n): JP's parallel depth is the longest
    * strictly-decreasing priority path, ≈ e·d̄ on a uniform graph of
    * mean degree d̄ (measured 103 rounds at d̄ = 40) and ≥ ω(G) on any
    * graph (a clique colors one vertex per round). The loop therefore
    * CONTRACTS the active edge set every `contractEvery` rounds —
    * only messages INTO still-uncolored vertices matter, so edges
    * with a colored dst are dropped (one amortized edge-scale
    * semi-join, the CC star-contraction discipline); late rounds run
    * over the geometrically-shrinking frontier instead of rescanning
    * every edge ~d̄·e times.
    *
    * @param symEdges symmetrized edges (both directions present)
    * @param vertices optional (id, …) table: isolated ids still get a
    *   color (0, round 1)
    * @param maxRounds cap; `converged=false` if vertices remain
    *   uncolored (their color is null in the output — the fixed-round
    *   form the SQL twin replays)
    * @param contractEvery rebuild the active edge set each N rounds
    * @param checkEvery count the uncolored frontier every N rounds:
    *   the rounds in between run as stages of ONE job (the lazy state
    *   checkpoints materialize together at the next count), cutting
    *   driver round-trips N× on long schedules. State semantics are
    *   bit-identical for any value — only convergence DETECTION is
    *   batched, so the loop may run up to N−1 no-op rounds past the
    *   fixed point and `rounds` reports that padded count.
    * @return (id, color) with color ∈ [0, Δ]
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          maxRounds: Int = 50,
          vertices: Option[DataFrame] = None,
          contractEvery: Int = 8,
          checkEvery: Int = 1): Result = Superstep.scope(spark) {

    var e = symEdges.select(col("src"), col("dst"))
      .repartition(numPartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e0 = e

    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val endpointIds = deg.select(col("id"), col("deg"))
    val allIds = vertices
      .map(v => v.select(col("id")).distinct()
        .join(endpointIds, Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
      .getOrElse(endpointIds)

    // exact ⌊log₂ deg⌋ via bit length (floor(log2) is a cross-engine
    // fp trap — the degreeHistogram discipline); deg 0 → bucket 0
    var state = allIds
      .select(col("id"),
        (length(conv(col("deg"), 10, 2)) - 1).cast("long").as("buck"),
        mix(col("id")).as("mix"),
        lit(null).cast("int").as("color"))
      .repartition(numPartitions, col("id"))
      .localCheckpoint(true)

    var round = 0
    var remaining = -1L
    val gc = new Superstep.CheckpointGC(spark)
    while (round < maxRounds && remaining != 0L) {
      val msgs = e
        .join(state.select(col("id").as("src"), col("buck"), col("mix"),
          col("color")).hint("shuffle_hash"), Seq("src"))
      val agg = msgs.groupBy(col("dst").as("id"))
        .agg(
          max(when(col("color").isNull,
            struct(col("buck").as("d"), col("mix").as("m"),
              col("src").as("i")))).as("maxp"),
          collect_set(col("color")).as("used"))

      val next = state.join(agg.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("buck"), col("mix"),
          when(col("color").isNotNull, col("color"))
            .when(col("maxp").isNull ||
                  struct(col("buck").as("d"), col("mix").as("m"),
                    col("id").as("i")) > col("maxp"),
              mexOf(col("used")))
            .otherwise(lit(null).cast("int")).as("color"))
        .localCheckpoint(false) // lazy: materialized by the count below

      state = next
      round += 1
      if (round % checkEvery == 0 || round == maxRounds) {
        remaining = next.filter(col("color").isNull).count()
        gc.tick(state, e)
      }

      if (remaining != 0L && round % contractEvery == 0) {
        // keep only messages into uncolored vertices; the contracted
        // set shrinks with the frontier, so the amortized cost is one
        // scan of a geometrically-decreasing table. Eager checkpoint:
        // every later round reads it, so it must not keep the state
        // chain it was built from reachable.
        val contracted = e.join(
            state.filter(col("color").isNull)
              .select(col("id").as("dst")).hint("shuffle_hash"),
            Seq("dst"), "left_semi")
          .repartition(numPartitions, col("src"))
          .localCheckpoint(true)
        if (e eq e0) e0.unpersist()
        e = contracted
      }
    }
    if (e eq e0) e0.unpersist()
    Result(state.select(col("id"), col("color")), round, remaining == 0L)
  }
}
