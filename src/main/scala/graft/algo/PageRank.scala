package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pregel-style PageRank as DataFrame joins/aggregations (G-4, mandated
  * by the north rule — the reference has no PageRank; semantics follow
  * the standard formulation: Page et al., "The PageRank Citation
  * Ranking", 1999).
  *
  * r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outDeg(u) + D_t/N )
  * with dangling mass D_t = Σ_{outDeg(u)=0} r_t(u). Ranks sum to 1 every
  * iteration; convergence when max|Δr| < tol (north rule allclose 1e-6).
  *
  * Scale design:
  *  - edges are hash-partitioned on `src` ONCE and cached; the per-
  *    iteration join re-shuffles only the (skinny) rank state, never the
  *    edge table;
  *  - the contribution aggregation is a partial (map-side) + final agg
  *    on `dst`, so skewed in-degree vertices combine locally before the
  *    shuffle;
  *  - AQE is disabled for the loop (see Superstep.withoutAQE, entered through Superstep.scope) so the
  *    checkpointed state keeps its known hash-partitioning and both
  *    per-iteration joins are exchange-free shuffle-hash joins;
  *  - state is localCheckpoint'ed each superstep (plan truncation) and
  *    durably checkpointed every `Superstep.every` supersteps with
  *    per-partition lineage; resume picks up the last complete one;
  *  - ONE action per iteration computes (maxDelta, danglingMass) together.
  */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int, converged: Boolean,
                          edgeCount: Long)

  /** @param edges directed (src, dst[, weight]), duplicate-free
    * @param numPartitions hash-partition width for state and edges
    * @param ckpt optional durable checkpoint/resume handle
    * @param weighted when true, contributions split proportionally to
    *                 the edge `weight` column (rank·w/Σw) instead of
    *                 uniformly (rank/outDeg); with all weights equal the
    *                 two are identical
    * @param seeds optional (id) table → PERSONALIZED PageRank: the
    *              teleport (and dangling) mass lands uniformly on the
    *              seed set instead of on every vertex, i.e. the rank
    *              update becomes (1−d)·s_i + d·(contrib + dangling·s_i)
    *              with s_i = 1/|S| on seeds, 0 elsewhere; ranks start
    *              at s. None keeps the exact global formula (and plan)
    *              unchanged. Not supported together with `ckpt`
    *              (resume would need s persisted in the state table).
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int,
          tol: Double = 1e-6,
          maxIter: Int = 100,
          damping: Double = 0.85,
          ckpt: Option[Superstep] = None,
          weighted: Boolean = false,
          seeds: Option[DataFrame] = None,
          init: Option[DataFrame] = None): Result = Superstep.scope(spark) {
    require(seeds.isEmpty || ckpt.isEmpty,
      "personalized PageRank does not support checkpoint/resume")
    require(init.isEmpty || (seeds.isEmpty && ckpt.isEmpty),
      "warm-start init is exclusive with personalization and checkpoint/resume")

    val wCol = if (weighted) col("weight").cast("double") else lit(1.0)
    // r6: pre-partitioned LAZY persist. The degree pass below is the
    // action that materializes it (one input scan, one src exchange,
    // one cache write — callers may pass arbitrarily expensive edge
    // queries, e.g. an uncheckpointed symmetrize, so the input must be
    // evaluated exactly once inside run()). When no hub crosses the
    // skew threshold — the common case — this frame IS the loop's
    // edge table and nothing else is built; when hubs exist the two
    // split sides read this cache and the pre-split copy is freed
    // before the loop (the r5 form kept it pinned for the whole run).
    val ePre = edges.select(col("src"), col("dst"), wCol.as("w"))
      .repartition(numPartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // vertex set + out-degrees in ONE edge-scale shuffle (vs the naive
    // distinct-union + groupBy + join = three): every endpoint emits a
    // skinny (id, w|0) row; sum gives the (weighted) out-degree,
    // dst-only vertices get 0. Source rows additionally carry a row
    // counter so the edge count falls out of the same pass (the old
    // standalone edge-scale count() action is gone).
    val degAll = ePre.select(col("src").as("id"), col("w").as("od"),
        lit(1L).as("rows"))
      .unionAll(ePre.select(col("dst").as("id"), lit(0.0).as("od"),
        lit(0L).as("rows")))
      .groupBy(col("id")).agg(sum(col("od")).as("outDeg"),
        sum(col("rows")).as("srcRows"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = {
      val r = degAll.agg(sum(col("srcRows"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    // ── skew split ──
    // A source vertex whose out-degree exceeds a partition's fair share
    // would make hash(src) partitioning lopsided. Such hubs are few
    // (power-law head): route their edges through a BROADCAST of just
    // the hub ranks, and keep the long tail on the co-partitioned
    // shuffle path. (Salting-by-replication would copy the whole rank
    // state saltFactor times; broadcasting ≤4096 hub ranks is cheaper
    // and exact.)
    val hotThreshold = math.max(edgeCount / math.max(numPartitions, 1), 10000L)
    val hotIds = degAll.filter(col("outDeg") >= hotThreshold)
      .orderBy(col("outDeg").desc).limit(4096)
      .select(col("id")).persist(StorageLevel.MEMORY_AND_DISK)
    val hasHot = hotIds.count() > 0
    // broadcast() hints (r6): the split joins run with AQE off, so the
    // ≤4096-row hot set must be pinned to a broadcast build explicitly
    // rather than trusting the static size estimate of a cached limit
    val e = if (!hasHot) ePre else
      ePre.join(broadcast(hotIds.withColumnRenamed("id", "src")),
          Seq("src"), "left_anti")
        .repartition(numPartitions, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val eHot = if (!hasHot) null else
      ePre.join(broadcast(hotIds.withColumnRenamed("id", "src")),
          Seq("src"), "left_semi")
        .repartition(numPartitions, col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    if (hasHot) { e.count(); eHot.count(); ePre.unpersist() }

    // one state row per vertex, fresh or resumed
    val n = degAll.count()

    // the fresh start state; never built when the loop resumes
    def fresh: DataFrame = {
      var state = degAll
        .select(col("id"), col("outDeg"),
          lit(Double.NaN).as("rank"), lit(Double.NaN).as("prev"))
        .repartition(numPartitions, col("id"))
      // personalization column s joins in ONCE and rides the state table;
      // the uniform path adds no column and keeps its exact expressions
      seeds.foreach { sd =>
        // evaluate the (possibly non-trivial) seed query ONCE; the tiny
        // checkpoint backs both the count and the state join
        val s = sd.select(col("id")).distinct().localCheckpoint(true)
        val seedCnt = s.count()
        require(seedCnt > 0, "personalized PageRank needs a non-empty seed set")
        // a seed id absent from the vertex set would silently deflate the
        // teleport distribution (Σs < 1) — or, all-isolated, "converge"
        // instantly to all-zero ranks. Fail loudly instead.
        val matched = s.join(state.select(col("id")), Seq("id"), "left_semi").count()
        require(matched == seedCnt,
          s"${seedCnt - matched} of $seedCnt seed ids are not graph vertices")
        state = state.join(s.withColumn("isSeed", lit(true)), Seq("id"), "left")
          .withColumn("s",
            when(col("isSeed"), lit(1.0 / seedCnt)).otherwise(lit(0.0)))
          .drop("isSeed")
          .repartition(numPartitions, col("id"))
      }
      val ranked = init match {
        case None =>
          state.withColumn("rank",
            if (seeds.isEmpty) lit(1.0 / n) else col("s"))
        case Some(r0) =>
          // warm start (incremental re-rank after a snapshot diff):
          // prior ranks seed the iteration, vertices new to this
          // snapshot default to 1/n, and the whole vector renormalizes
          // to unit mass so the recurrence semantics stay PageRank.
          // The total is a sum of driver-supplied ranks — one skinny
          // vertex-keyed join + a one-row aggregate, no edge-scale work.
          val i = r0.select(col("id"), col("rank").cast("double").as("r0"))
            .localCheckpoint(true)
          val joined = state.join(i.hint("shuffle_hash"), Seq("id"), "left")
            .withColumn("r0", coalesce(col("r0"), lit(1.0 / n)))
            .localCheckpoint(false)
          val tot = joined.agg(sum(col("r0"))).first().getDouble(0)
          require(tot > 0, "warm-start ranks must have positive total mass")
          joined.withColumn("rank", col("r0") / tot).drop("r0")
      }
      // LAZY checkpoints throughout the loop: the per-iteration stats
      // aggregation is the action that materializes them, so each
      // superstep runs ONE job (was two: eager checkpoint + agg)
      ranked.localCheckpoint(false)
    }

    def aggState(s: DataFrame): (Double, Double) = {
      val row = s.agg(
        max(abs(col("rank") - col("prev"))).as("delta"),
        sum(when(col("outDeg") === 0, col("rank")).otherwise(0.0)).as("dangling"))
        .first()
      (if (row.isNullAt(0)) Double.NaN else row.getDouble(0),
        if (row.isNullAt(1)) 0.0 else row.getDouble(1))
    }

    // the start state's dangling mass is measured by the first step
    var dangling: Option[Double] = None
    val (state, steps, converged) =
      Superstep.iterate(spark, fresh, maxIter, ckpt = ckpt) { st =>
        val dang = dangling.getOrElse(aggState(st)._2)
        // SHUFFLE_HASH hints: a sort-merge join would re-sort the (cached,
        // already co-partitioned) edge table and the state EVERY superstep;
        // hash joins stream them. Build side = the skinny rank slice.
        val rankSlice = st.filter(col("outDeg") > 0)
          .select(col("id").as("src"), (col("rank") / col("outDeg")).as("c"))
        val coldContrib = e
          .join(rankSlice.hint("shuffle_hash"), Seq("src"))
          .select(col("dst"), (col("c") * col("w")).as("c"))
        val allContrib = if (!hasHot) coldContrib else {
          val hotRanks = rankSlice.join(hotIds.withColumnRenamed("id", "src"),
            Seq("src"), "left_semi")
          coldContrib.unionAll(
            eHot.join(broadcast(hotRanks), Seq("src"))
              .select(col("dst"), (col("c") * col("w")).as("c")))
        }
        val contribs = allContrib
          .groupBy(col("dst").as("id"))
          .agg(sum(col("c")).as("contrib"))

        val rankExpr =
          if (seeds.isEmpty)
            lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + lit(dang / n))
          else
            lit(1.0 - damping) * col("s") +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
                lit(dang) * col("s"))
        val carry = if (seeds.isEmpty) Seq.empty else Seq(col("s"))
        val next = st
          .join(contribs.hint("shuffle_hash"), Seq("id"), "left")
          .select(Seq(col("id"), col("outDeg"), rankExpr.as("rank"),
            col("rank").as("prev")) ++ carry: _*)
          .localCheckpoint(false)

        val (delta, danglingNext) = aggState(next) // materializes the checkpoint
        dangling = Some(danglingNext)
        Superstep.Step(next, delta < tol,
          Map("delta" -> delta, "dangling" -> danglingNext))
      }

    degAll.unpersist()
    hotIds.unpersist()
    e.unpersist()
    if (hasHot) eHot.unpersist()
    Result(state.select(col("id"), col("rank")), steps, converged, edgeCount)
  }

  /** Batched personalized PageRank: one superstep loop computes PPR
    * for MANY seed sets at once — the GraphRAG "relevance to every
    * topic/community" pass, where looping [[run]] over S seed sets
    * would scan and join the edge table S times per iteration. State
    * is keyed (id, sid) and kept SPARSE: in PPR both the teleport and
    * the dangling mass go to the seed distribution, so a vertex
    * unreached from a seed set has rank EXACTLY 0 and simply has no
    * row — per-set state grows with the seed set's reachable ball,
    * not |V|·S.
    *
    * Per iteration: one edges⨝state shuffle-hash join feeding a
    * map-side partial (dst, sid) sum, one full-outer merge with the
    * (tiny, checkpointed) seed distribution, one broadcast of the
    * S-row dangling table, one co-partitioned degree join. Fixed
    * `iters` with no convergence action (the oracle mode, like
    * [[Hits]] at tol = 0).
    *
    * @param seedSets (sid, id) — every id must be a graph vertex
    * @return (sid, id, rank), only rows with rank > 0
    */
  def batchPersonalized(spark: SparkSession,
                        edges: DataFrame,
                        seedSets: DataFrame,
                        numPartitions: Int,
                        iters: Int = 5,
                        damping: Double = 0.85): DataFrame = Superstep.scope(spark) {
    val e = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val deg = Superstep.freshCheckpoint(
      e.select(col("src").as("id"), lit(1.0).as("od"))
        .unionAll(e.select(col("dst").as("id"), lit(0.0).as("od")))
        .groupBy(col("id")).agg(sum(col("od")).as("outDeg"))
        .repartition(numPartitions, col("id")), eager = true)

    val sd = seedSets.select(col("sid"), col("id")).distinct().localCheckpoint(true)
    val cnts = sd.groupBy(col("sid")).agg(count(lit(1)).as("m"))
    val seedDist = sd.join(broadcast(cnts), Seq("sid"))
      .select(col("sid"), col("id"), (lit(1.0) / col("m")).as("s"))
      .localCheckpoint(true)
    val missing = seedDist.join(deg, Seq("id"), "left_anti").count()
    require(missing == 0, s"$missing seed rows are not graph vertices")

    val start = seedDist.join(deg.hint("shuffle_hash"), Seq("id"))
      .select(col("id"), col("sid"), col("outDeg"), col("s").as("rank"))
      .repartition(numPartitions, col("id"))
    val (state, _, _) = Superstep.iterate(spark,
        Superstep.freshCheckpoint(start, eager = true), iters) { st =>
      val dgl = st.filter(col("outDeg") === 0)
        .groupBy(col("sid")).agg(sum(col("rank")).as("dang"))
      val contribs = e
        .join(st.filter(col("outDeg") > 0)
            .select(col("id").as("src"), col("sid"),
              (col("rank") / col("outDeg")).as("c"))
            .hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("id"), col("sid"))
        .agg(sum(col("c")).as("contrib"))
      // full-outer merge keeps seed rows alive with zero in-flow; the
      // expression mirrors the run()/oracle op order exactly
      val merged = contribs
        .join(seedDist.select(col("id"), col("sid"), col("s")),
          Seq("id", "sid"), "full_outer")
        .join(broadcast(dgl), Seq("sid"), "left")
        .select(col("id"), col("sid"),
          (lit(1.0 - damping) * coalesce(col("s"), lit(0.0)) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              coalesce(col("dang"), lit(0.0)) * coalesce(col("s"), lit(0.0))))
            .as("rank"))
      Superstep.Step(Superstep.freshCheckpoint(
        merged.join(deg.hint("shuffle_hash"), Seq("id"))
          .select(col("id"), col("sid"), col("outDeg"), col("rank"))
          .repartition(numPartitions, col("id")), eager = true))
    }
    state.select(col("sid"), col("id"), col("rank")).localCheckpoint(true)
  }

  /** Multi-class node classification from [[batchPersonalized]]:
    * label(v) = the seed set with the most PPR mass at v, ties to the
    * smaller sid — the calibrated multi-class sibling of
    * [[HittingTime.absorption]]'s binary harmonic classifier, and the
    * standard PPR-seeded semi-supervised labeling. One
    * map-side-combinable lexicographic argmax; vertices unreached by
    * every seed set have no row (label them however the application
    * defaults).
    *
    * @param batchRanks (sid, id, rank) from [[batchPersonalized]]
    * @return (id, label, rank) — rank = the winning PPR mass
    */
  def classify(batchRanks: DataFrame): DataFrame =
    batchRanks.groupBy(col("id"))
      .agg(max(struct(col("rank"), (-col("sid")).as("negSid"))).as("m"))
      .select(col("id"), (-col("m.negSid")).as("label"),
        col("m.rank").as("rank"))
}
