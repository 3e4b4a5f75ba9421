package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Louvain-style local-move refinement of a community partition — the
  * modularity-ascent half of the reference's Leiden detection
  * (community_detection.py:46-118 runs leidenalg, whose inner loop is
  * exactly this greedy node-move phase) applied on top of the G-2 LPA
  * stand-in. [[LabelPropagation]] optimizes label agreement, not
  * modularity; one refinement pass moves each vertex to the neighboring
  * community with the highest modularity gain, which measurably raises
  * Newman modularity over the raw LPA partition.
  *
  * Synchronous, deterministic, partition-count-independent schedule:
  *
  *   - candidate communities of vertex i = communities of its
  *     neighbors ∪ its own community A;
  *   - integer score S(C) = 2m·k_{i,C} − k_i·(Σtot(C) − [C=A]·k_i),
  *     the modularity gain ΔQ·(2m)² shifted by a per-vertex constant —
  *     argmax over C of S is argmax of ΔQ, and EXACT integer arithmetic
  *     makes the argmax reproducible in any engine (the DuckDB oracle
  *     replays it bit-for-bit; no float tie ambiguity);
  *   - ties: the current community wins, then the minimum community id;
  *   - DIRECTION GATING: round r applies only moves toward a SMALLER
  *     community id when r is even, only toward a LARGER one when r is
  *     odd. A synchronous all-vertex update can swap two adjacent
  *     vertices forever (each computes the other's stale community as
  *     best); under a monotone direction no within-round move cycle of
  *     any length exists (a swap needs one decrease and one increase
  *     in the same round; a rotation needs ids strictly decreasing
  *     around a cycle), every single move is admissible in one of the
  *     two alternating rounds, and the schedule stays deterministic —
  *     unlike the randomized vertex-fraction gating in distributed
  *     Louvain implementations. (An earlier id-parity gate failed to
  *     break swaps between SAME-parity neighbors: two adjacent even
  *     vertices could exchange singleton communities forever and could
  *     never pairwise merge.)
  *
  * Scale shape: per round one (src ⨝ labels) shuffle-hash join +
  * map-side-combinable groupBy for k_{i,C} (identical exchange volume
  * to an LPA superstep), one skinny groupBy for Σtot, and a skinny
  * argmax — no window over the edge table, no collect. Long scores
  * hold while 2m·max_k < 2^63 (≈ any graph with 2m·k_hub below 9.2e18;
  * past that, widen S to DecimalType(38,0) — same plan shape).
  */
object ModularityRefine {

  /** @param cleanup with `earlyStop=false` the loop's persisted edge /
    *   degree frames outlive the call (the caller owns the first
    *   action); invoke after materializing `labels` to release them.
    *   No-op in earlyStop mode.
    */
  final case class Result(labels: DataFrame, rounds: Int, converged: Boolean,
                          cleanup: () => Unit = () => ())

  /** @param symEdges symmetrized undirected edges (both directions). With
    *   `weighted=true` a BIGINT `w` column is required; a self-loop row
    *   (src=dst) must appear ONCE carrying TWICE its internal weight —
    *   exactly what [[Louvain.coarsen]]'s groupBy over both directions of
    *   the fine edges produces — so that k_i and 2m follow the Newman
    *   loop-counts-twice convention while the argmax stays integer-exact.
    * @param initial  (id, community) starting partition (e.g. LPA output)
    * @param earlyStop true (default): count moves per round and stop
    *   after two consecutive moveless half-sweeps — one driver action
    *   per round. false: run exactly maxRounds rounds as ONE lazy
    *   chain materialized by the caller's first action (no per-round
    *   job); bit-identical result (a moveless round is a no-op), meant
    *   for callers with their own outer convergence gate like
    *   [[Louvain]]'s shrink check. `converged` is reported false.
    * @return (id, community) — community = min member vertex id
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          initial: DataFrame,
          numPartitions: Int = 32,
          maxRounds: Int = 10,
          weighted: Boolean = false,
          earlyStop: Boolean = true,
          gammaNum: Long = 1L,
          gammaDen: Long = 1L): Result = Superstep.scope(spark) {
    // RB-configuration resolution γ = gammaNum/gammaDen (leidenalg's
    // RBConfigurationVertexPartition(resolution_parameter=γ),
    // community_detection.py:85-93): the move argmax compares
    // γDen·2m·k_{i,C} − γNum·k_i·(tot_C − δ) — a RATIONAL γ keeps the
    // score integer-exact (γ = 1 is bit-identical to the classic
    // modularity argmax). Higher γ → smaller communities. Keep
    // γNum·γDen small: the score's overflow headroom shrinks by
    // log₂(γNum·γDen) bits.
    require(gammaNum >= 1 && gammaDen >= 1 && gammaNum * gammaDen <= 1024,
      s"resolution must be a small positive rational, got $gammaNum/$gammaDen")

    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val wcol = if (weighted) col("w").cast("long") else lit(1L)
    val e = symEdges.select(col("src"), col("dst"), wcol.as("w"))
      .repartition(numPartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val deg = e.groupBy(col("src").as("id")).agg(sum(col("w")).as("k"))
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // = Σ k_i: each undirected edge appears twice (self-loops once, at 2w);
    // coalesce: sum over an EMPTY edge table is null, not 0
    val twoM = e.agg(coalesce(sum(col("w")), lit(0L))).first().getLong(0)

    var labels = Superstep.freshCheckpoint(
      initial.select(col("id"), col("community"))
        .repartition(numPartitions, col("id")), eager = true)
    var round = 0
    var stillRuns = 0 // consecutive moveless phases; 2 = both directions
    var converged = false
    val gc = new Superstep.CheckpointGC(spark)

    while (round < maxRounds && !converged) {
      // fresh lazy checkpoint (the changes count / caller's first
      // action materializes it): resets the inherited-stats chain that
      // otherwise grows exponentially with rounds
      val next = Superstep.freshCheckpoint(
        scoreRound(e, labels, deg, twoM, numPartitions, round % 2,
          gammaNum, gammaDen),
        eager = false)

      if (earlyStop) {
        val changes = next.filter(col("community") =!= col("prev")).count()
        gc.tick(next)
        // a moveless phase ends the ascent only once BOTH directions
        // were still back-to-back (nobody moved down AND nobody moved
        // up on the same state ⇒ every vertex's best is its current)
        stillRuns = if (changes == 0L) stillRuns + 1 else 0
        converged = stillRuns >= 2
      }
      labels = next.select("id", "community")
      round += 1
    }
    if (earlyStop) { e.unpersist(); deg.unpersist() }

    val canon = labels.groupBy(col("community").as("c")).agg(min(col("id")).as("nc"))
    val out = labels.join(canon, labels("community") === col("c"))
      .select(col("id"), col("nc").as("community"))
    val cleanup: () => Unit =
      if (earlyStop) () => ()
      else {
        // only what THIS call registered (e, deg, the per-round lazy
        // checkpoints) — frames the caller creates later must survive
        val mine = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
        () => Superstep.releaseIds(spark, mine.toSet)
      }
    Result(out, round, converged, cleanup)
  }

  /** One direction-gated local-move phase: (id, community, prev).
    * `phase` 0 admits only moves to a smaller community id, 1 only to
    * a larger one.
    * Exchange budget (asserted by PlanSpec): TWO O(E) exchanges — the
    * dst-side message shuffle and the partially-aggregated (id, cand)
    * groupBy — plus three skinny O(n) exchanges (ctot groupBy, state
    * re-key, winner argmax). `e`, `deg`, `labels` must already be
    * hash-partitioned by src / id / id so the src-side state join and
    * the labels ⨝ deg join stay exchange-free.
    */
  private[graft] def scoreRound(e: DataFrame,
                               labels: DataFrame,
                               deg: DataFrame,
                               twoM: Long,
                               numPartitions: Int,
                               phase: Int,
                               gammaNum: Long = 1L,
                               gammaDen: Long = 1L): DataFrame = {
    // per-vertex state (id, cur, k, tot_cur): labels ⨝ deg is
    // exchange-free (both hash-partitioned by id); the community-total
    // join costs two skinny O(n) exchanges (by cur and back by id)
    val ik = labels.join(deg.hint("shuffle_hash"), Seq("id"))
      .select(col("id"), col("community").as("cur"), col("k"))
    val ctot = ik.groupBy(col("cur").as("c")).agg(sum(col("k")).as("tot"))
    // lazy checkpoint: state has THREE consumers below (src side, dst
    // side, zero rows); without it each consumer re-executes the two
    // joins above (the exchanges dedupe via ReusedExchange, the
    // post-shuffle operators do not)
    val state = Superstep.freshCheckpoint(ik
      .join(ctot.hint("shuffle_hash"), col("cur") === col("c"))
      .select(col("id"), col("cur"), col("k"), col("tot").as("tcur"))
      .repartition(numPartitions, col("id")), eager = false)

    // ONE O(E) message exchange: source state rides along via the
    // exchange-free co-partitioned src join, the candidate community
    // AND its total arrive from the dst side — no post-aggregation
    // joins needed. Self-loops excluded from k_{i,C} (a supernode's
    // internal weight moves with it, constant across candidates, so
    // it cancels from the argmax); the zero row keeps i's own
    // community scoreable for singletons and A-less neighborhoods.
    val msg = e
      .join(state.select(col("id").as("src"), col("cur"), col("k"),
        col("tcur")).hint("shuffle_hash"), Seq("src"))
      .filter(col("src") =!= col("dst"))
      .join(state.select(col("id").as("dst"), col("cur").as("cand"),
        col("tcur").as("x")).hint("shuffle_hash"), Seq("dst"))
      .select(col("src").as("id"), col("cand"), col("w").as("kic"),
        col("k"), col("cur"), col("x").as("tcand"))
    val cand = msg
      .unionByName(state.select(col("id"), col("cur").as("cand"),
        lit(0L).as("kic"), col("k"), col("cur"), col("tcur").as("tcand")))
      .groupBy(col("id"), col("cand"))
      .agg(sum(col("kic")).as("kic"), max(col("k")).as("k"),
        max(col("cur")).as("cur"), max(col("tcand")).as("tot"))

    val scored = cand
      .select(col("id"), col("cand"),
        (lit(gammaDen) * lit(twoM) * col("kic") -
          lit(gammaNum) * col("k") * (col("tot") -
            when(col("cand") === col("cur"), col("k"))
              .otherwise(lit(0L)))).as("s"),
        when(col("cand") === col("cur"), lit(1L)).otherwise(lit(0L))
          .as("isa"))
    val winner = scored.groupBy(col("id"))
      .agg(max_by(col("cand"), struct(col("s"), col("isa"), -col("cand")))
        .as("best"))

    val admissible =
      if (phase == 0) col("best") < col("community")
      else col("best") > col("community")
    labels.join(winner.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        when(col("best").isNotNull && admissible, col("best"))
          .otherwise(col("community")).as("community"),
        col("community").as("prev"))
  }
}
