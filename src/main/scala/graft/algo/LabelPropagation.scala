package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label propagation — G-2: the north rule's stand-in for
  * the reference's Leiden community detection
  * (community_detection.py:46-118, leidenalg γ=1.0 seed=42).
  *
  * Deterministic schedule: every superstep each vertex adopts the MODE
  * of its neighbors' labels, ties broken to the MINIMUM label — pure DF
  * (`max_by(label, struct(cnt, -label))`, SURVEY.md §2.8); reproducible
  * at any partition count. Converges when no label changes (capped to
  * break bipartite 2-cycles). Community ids are canonicalized to the
  * min member vertex id ("exact up to relabeling").
  */
object LabelPropagation {

  final case class Result(labels: DataFrame, iterations: Int, converged: Boolean)

  /** One synchronous vote round over edges hash-partitioned on `src`
    * and (id, label) state hash-partitioned on `id`: (id, label, prev)
    * with `label` the new label. Exposed for PlanSpec.
    */
  private[graft] def vote(e: DataFrame, labels: DataFrame,
                          weightCol: Option[String]): DataFrame = {
    // SHUFFLE_HASH hints: SMJ would re-sort the cached co-partitioned
    // edge table and the skinny state EVERY superstep (cf. PageRank)
    val votes = e
      .join(labels.select(col("id").as("src"), col("label")).hint("shuffle_hash"),
        Seq("src"))
      .groupBy(col("dst"), col("label"))
      .agg(weightCol.map(w => sum(col(w)))
        .getOrElse(count(lit(1))).as("cnt"))
    val winner = votes.groupBy(col("dst").as("id"))
      .agg(max_by(col("label"), struct(col("cnt"), -col("label"))).as("newLabel"))
    labels.join(winner.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("newLabel"), col("label")).as("label"),
        col("label").as("prev"))
  }

  /** @param symEdges symmetrized undirected edges (both directions present)
    * @param vertices optional (id, …) vertex table: ids with no incident
    *   edge still get a (self-)community, matching the reference's
    *   assignment of every named node (community_detection.py:133).
    *   Without it, only edge endpoints are labeled (VERDICT r2 #9).
    * @param weightCol optional edge-weight column on `symEdges`: votes
    *   become weight SUMS instead of neighbor counts (the natural form
    *   on co-occurrence graphs, where a 50-co-mention neighbor should
    *   out-vote five 1-co-mention ones). Pass INTEGER weights for a
    *   deterministic tie-break — fp sums would make the (cnt, -label)
    *   comparison order-sensitive. Same per-round exchange budget: the
    *   weight rides the existing edges⨝state join.
    * @return (id, community) — community = min member id of the cluster
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 20,
          ckpt: Option[Superstep] = None,
          vertices: Option[DataFrame] = None,
          weightCol: Option[String] = None): Result = Superstep.scope(spark) {

    val e = symEdges.select(
        col("src") +: col("dst") +: weightCol.map(col).toSeq: _*)
      .repartition(numPartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (labels, steps, converged) = Superstep.iterate(spark, {
        val endpointIds = e.select(col("src").as("id")).distinct()
        val allIds = vertices
          .map(v => endpointIds.unionByName(v.select(col("id"))).distinct())
          .getOrElse(endpointIds)
        allIds
          .select(col("id"), col("id").as("label"))
          .repartition(numPartitions, col("id"))
          .localCheckpoint(true)
      }, maxIter, ckpt = ckpt) { cur =>
      val next = vote(e, cur, weightCol)
        .localCheckpoint(false) // lazy: the changes count materializes it
      val changes = next.filter(col("label") =!= col("prev")).count()
      Superstep.Step(next.select("id", "label"), changes == 0L,
        Map("changes" -> changes.toDouble))
    }
    e.unpersist()

    // canonicalize: community id = min member vertex id
    val canon = labels.groupBy(col("label")).agg(min(col("id")).as("community"))
    val out = labels.join(canon, Seq("label")).select(col("id"), col("community"))
    Result(out, steps, converged)
  }

  /** Seeded (semi-supervised) label spreading — Zhu–Ghahramani-style
    * hard-clamp propagation: seed vertices keep their class forever,
    * every other vertex synchronously adopts the MODE of its LABELED
    * neighbors (ties → minimum label; keeps its current label when no
    * neighbor is labeled yet). The node-classification primitive for
    * spreading a small hand-labeled set (entity types, spam flags,
    * language tags) over the link graph. Vertices unreachable from any
    * seed stay null.
    *
    * Runs a FIXED number of synchronous rounds (the synchronous
    * schedule can 2-cycle on bipartite frontiers, exactly like
    * unseeded LPA — callers pick rounds ≈ graph diameter). Same
    * per-round budget as [[run]]: one edges⨝state shuffle-hash join +
    * one vote aggregation + one skinny update join; deterministic and
    * engine-replayable (`lpa_seeded_sql_graph`).
    *
    * @param seeds (id, label) — the clamped class assignment
    * @return (id, label) for every vertex of the graph (nullable)
    */
  def seeded(spark: SparkSession,
             symEdges: DataFrame,
             seeds: DataFrame,
             rounds: Int,
             numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    val e = symEdges.select(col("src"), col("dst"))
      .repartition(numPartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("id"), col("label"))

    val (labels, _, _) = Superstep.iterate(spark,
      e.select(col("src").as("id")).distinct()
        .join(sd.withColumnRenamed("label", "seed_label"), Seq("id"), "left")
        .select(col("id"), col("seed_label"),
          col("seed_label").as("label"))
        .repartition(numPartitions, col("id"))
        .localCheckpoint(true), rounds) { cur =>
      val votes = e
        .join(cur.filter(col("label").isNotNull)
          .select(col("id").as("src"), col("label")).hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val winner = votes.groupBy(col("dst").as("id"))
        .agg(max_by(col("label"), struct(col("cnt"), -col("label")))
          .as("newLabel"))
      Superstep.Step(cur.join(winner.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("seed_label"),
          coalesce(col("seed_label"), col("newLabel"), col("label"))
            .as("label"))
        .localCheckpoint(true))
    }
    e.unpersist()
    labels.select(col("id"), col("label"))
  }
}
