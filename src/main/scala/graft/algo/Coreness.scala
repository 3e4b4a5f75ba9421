package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full coreness (k-core number) decomposition by distributed h-index
  * refinement (Montresor, De Pellegrini, Miorandi, "Distributed k-core
  * decomposition", 2011; Lü et al. 2016 for the h-operator fixed
  * point): start from c₀(v) = deg(v) and repeatedly replace c(v) with
  * the h-index of its neighbors' current values; the sequence is
  * pointwise non-increasing and its fixed point is exactly the core
  * number. One run yields EVERY vertex's core number — the per-vertex
  * generalization of [[KCore]]'s fixed-k peel (coreness(v) ≥ k ⟺ v in
  * the k-core), the standard density/tier feature a link-graph layer
  * attaches to entities before community summarization.
  *
  * The h-index is computed WITHOUT collecting neighbor lists: per
  * round, neighbor values are histogrammed (groupBy (v, c) — edge-
  * scale, map-side combinable since equal values collapse), a
  * descending cumulative count over the ≤ (max coreness + 1) DISTINCT
  * values per vertex gives cnt≥(c), and h = max(min(c, cnt≥(c))) —
  * the classic identity. The window partition is bounded by the
  * number of distinct neighbor VALUES (≤ kmax + 1 = O(√m)), never by
  * the degree, so a 10⁸-degree hub costs a 10⁸-row aggregation but
  * only an O(√m) window frame — no per-vertex array materializes
  * anywhere.
  *
  * All-integer arithmetic, deterministic, engine-replayable: the
  * DuckDB twin (`coreness_sql_graph`) unrolls the rounds bit-for-bit.
  *
  * Scale shape per round: one edges⨝state shuffle-hash join (the CC/
  * PageRank superstep exchange), one histogram aggregation, one skinny
  * window + max. Rounds to convergence are bounded by the graph's
  * peeling depth in practice (single digits on power-law graphs);
  * `freshCheckpoint` + [[Superstep.iterate]] keep planning and storage flat.
  */
object Coreness {

  /** One h-index refinement round — exposed for the PlanSpec gate:
    * the histogram aggregation must be map-side partial and the only
    * window must partition by vertex over DISTINCT values (no
    * collect_list / per-vertex arrays anywhere in the plan).
    */
  private[graft] def hIndexRound(e: DataFrame, state: DataFrame): DataFrame = {
    val hist = e
      .join(state.select(col("id").as("src"), col("c")).hint("shuffle_hash"),
        Seq("src"))
      .groupBy(col("dst").as("id"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val ge = sum(col("cnt")).over(
      Window.partitionBy(col("id")).orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hist.select(col("id"), least(col("c"), ge).as("h"))
      .groupBy(col("id")).agg(max(col("h")).as("c"))
  }

  /** @param symEdges symmetrized undirected edges (both directions)
    * @return (id, coreness) for every non-isolated vertex
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 100): DataFrame = Superstep.scope(spark) {

    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")), eager = true)

    val (state, _, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        e.groupBy(col("src").as("id")).agg(count(lit(1)).as("c")), eager = true),
      maxIter) { cur =>
      // neighbor-value histogram: (vertex, value) → count. Equal values
      // collapse map-side, so the exchange is ≤ one row per (vertex,
      // distinct neighbor value) — far below edge scale on dense spots.
      // Then cnt≥(c) over the ≤ kmax+1 distinct values and the h-index
      // identity h = max(min(c, cnt≥(c))). Shape pinned by PlanSpec.
      val next = Superstep.freshCheckpoint(hIndexRound(e, cur),
        eager = false)
      val changed = next.join(cur.withColumnRenamed("c", "prev"), Seq("id"))
        .filter(col("c") =!= col("prev")).count()
      Superstep.Step(next, changed == 0)
    }
    if (!converged) throw new IllegalStateException(
      s"coreness refinement did not converge within $maxIter rounds — raise maxIter")
    state.select(col("id"), col("c").as("coreness"))
  }
}
