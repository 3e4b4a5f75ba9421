package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Power iteration clustering (Lin & Cohen, ICML 2010) — the
  * spectral-clustering stand-in that never builds a spectrum: run a
  * few rounds of the row-normalized affinity walk W = D⁻¹A on an
  * L1-normalized vector and stop EARLY; the intermediate vector is a
  * 1-D embedding in which the dominant eigenvector mixture has not
  * yet collapsed, so cluster boundaries appear as the largest gaps in
  * the sorted values. k clusters = split at the k−1 largest gaps.
  *
  * Determinism discipline: the embedding is scaled by |V| (values
  * O(1) at any graph size), rounded to 6dp and CONVERTED TO INTEGER
  * micro-units before any comparison — gap sizes, gap ranking and
  * split thresholds are then exact BIGINT arithmetic, so the cluster
  * assignment is bit-stable across engines and partitionings (the
  * same round-then-compare discipline as TrustRank.spamMass).
  *
  * Scale shape: each round is one edges⨝state shuffle-hash join with
  * a map-side partial sum, one co-partitioned degree join, one
  * one-row L1 normalizer — exactly the Eigenvector/Katz superstep
  * budget. The gap split avoids the global-window sort killer: values
  * are RANGE-partitioned and sorted within partitions, in-partition
  * gaps come from a partitioned lag window, and the ≤P cross-boundary
  * gaps come from a P-row per-partition min/max aggregate collected
  * to the driver; the k−1 split thresholds broadcast back as a tiny
  * literal. Nothing vertex-scale ever single-partitions.
  */
object Pic {

  /** @param symEdges symmetrized affinity edges (src, dst); weight 1
    *                 per row (pass pre-expanded multi-edges for
    *                 integer affinities)
    * @param k target cluster count (≥ 2)
    * @param iters fixed power-iteration rounds (PIC wants FEW — the
    *              early-stop mixture is the embedding; 5 is the
    *              paper's operating range for well-separated blobs)
    * @return (id, emb, cluster): emb = |V|-scaled embedding value in
    *         integer micro-units; cluster ∈ 0..k−1 ordered by
    *         ascending embedding
    */
  /** @param seedMod modulus of the deterministic seed v0_i ∝
    *                 1 + (id mod seedMod): must not divide the natural
    *                 cluster granularity (a sawtooth whose period
    *                 differs from the cluster size gives the cluster
    *                 means the contrast random seeding provides in the
    *                 paper; seedMod ≈ 1.5× the expected cluster size
    *                 is a good default choice)
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          k: Int,
          iters: Int = 5,
          numPartitions: Int = 32,
          seedMod: Long = 97L): DataFrame = Superstep.scope(spark) {
    require(k >= 2, "PIC needs k >= 2")
    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)
    val deg = Superstep.freshCheckpoint(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("d"))
        .repartition(numPartitions, col("id")), eager = true)

    val n = deg.count()

    // v0_i ∝ 1 + (id mod seedMod): the paper seeds RANDOMLY — any
    // generic vector works, but a degree seeding preserves graph
    // automorphisms (two mirror-image cliques stay fused forever), so
    // the seed must break symmetry. Deterministic id arithmetic does,
    // replayably.
    val seeded = deg.select(col("id"),
      (lit(1.0) + pmod(col("id"), lit(seedMod)).cast("double")).as("s"))
    val s1 = seeded.agg(sum(col("s"))).first().getDouble(0)
    val (v, _, _) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        seeded.select(col("id"), (col("s") / s1).as("v")), eager = true),
      iters) { cur =>
      // u = D⁻¹ A v, then L1-normalize (all values stay positive)
      val msgs = cur.join(e.hint("shuffle_hash"), cur("id") === e("src"))
        .select(e("dst").as("id"), col("v").as("m"))
        .groupBy(col("id")).agg(sum(col("m")).as("s"))
      val u = msgs.join(deg, Seq("id")).select(col("id"), (col("s") / col("d")).as("u"))
      val l1 = u.agg(sum(abs(col("u")))).first().getDouble(0)
      Superstep.Step(Superstep.freshCheckpoint(
        u.select(col("id"), (col("u") / l1).as("v")), eager = true))
    }

    // integer micro-unit embedding: |V|-scaled, 6dp, exact BIGINT
    val emb = Superstep.freshCheckpoint(
      v.select(col("id"),
        round(col("v") * n.toDouble * 1e6, 0).cast("long").as("emb")), eager = true)

    // ── largest-gap split without a global window ──
    val ranged = emb.repartitionByRange(numPartitions, col("emb"), col("id"))
      .sortWithinPartitions(col("emb"), col("id"))
      .withColumn("part", spark_partition_id())
    val win = Window.partitionBy(col("part")).orderBy(col("emb"), col("id"))
    val inGaps = ranged
      .withColumn("prev", lag(col("emb"), 1).over(win))
      .filter(col("prev").isNotNull)
      .select((col("emb") - col("prev")).as("gap"), col("prev").as("lo"))
    // cross-partition boundary gaps: one row per non-empty partition
    val bounds = ranged.groupBy(col("part"))
      .agg(min(col("emb")).as("mn"), max(col("emb")).as("mx"))
      .orderBy(col("part")).collect()
    val boundary = bounds.sliding(2).collect {
      case Array(a, b) => (b.getLong(1) - a.getLong(2), a.getLong(2))
    }.toSeq
    val cand = inGaps.unionByName(
      spark.createDataFrame(boundary).toDF("gap", "lo"))
    // k−1 largest gaps; ties → leftmost split (deterministic)
    val thresholds = cand.orderBy(col("gap").desc, col("lo").asc)
      .limit(k - 1).select(col("lo")).collect().map(_.getLong(0)).sorted

    val clusterExpr = thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("emb") > t, 1).otherwise(0)
    }
    val out = emb.select(col("id"), col("emb"),
      clusterExpr.cast("int").as("cluster"))
    Superstep.freshCheckpoint(out, eager = true)
  }
}
