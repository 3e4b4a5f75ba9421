package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full per-edge trussness decomposition by the local h-index fixed
  * point (Sariyüce–Seshadhri–Pinar, "Local algorithms for hierarchical
  * dense subgraph discovery", VLDB 2018): τ(e) is the largest k such
  * that e belongs to the k-truss. Start from τ₀(e) = support(e) + 2
  * and iterate
  *
  *   τ(e) = 2 + h-index{ min(τ(p), τ(q)) − 2 : {e,p,q} a triangle }
  *
  * — pointwise non-increasing, fixed point = trussness, and
  * τ(e) ≥ k ⟺ e ∈ k-truss recovers every [[KTruss]] level from ONE
  * run. Triangle-free edges sit at the trivial τ = 2.
  *
  * The edge→(partner, partner) triangle incidence (3 rows per
  * triangle) is materialized ONCE from the shared degree-oriented
  * enumeration ([[Triangles.enumerate]]) and checkpointed; each round
  * is then two edge-keyed joins of the incidence against the τ state,
  * a (edge, value) histogram aggregation, and the same
  * distinct-value-bounded descending-cumulative h-index finish as
  * [[Coreness]] — the window frame is bounded by the distinct
  * neighbor-τ count (≤ max support), never the triangle count. The
  * O(m^{3/2}) enumeration happens once, not once per round (the peel
  * variant re-enumerates every round).
  *
  * All-integer arithmetic, deterministic, engine-replayable: the
  * DuckDB twin (`trussness_sql_graph`) unrolls the rounds bit-for-bit.
  */
object Trussness {

  /** @param symEdges undirected edges (either orientation; deduped to
    *   canonical u<v pairs internally)
    * @return (src, dst, trussness) for every unique u<v edge
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 50): DataFrame = Superstep.scope(spark) {

    val pairs = Superstep.freshCheckpoint(
      symEdges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .repartition(numPartitions, col("u"), col("v")), eager = true)

    // one incidence row per (edge, triangle): the edge plus its two
    // partner edges, all in canonical u<v form
    def ce(a: String, b: String) =
      struct(least(col(a), col(b)), greatest(col(a), col(b)))
    val inc = Superstep.freshCheckpoint(
      Triangles.enumerate(pairs.select(col("u").as("src"), col("v").as("dst")),
          numPartitions)
        .select(explode(array(
          struct(ce("u", "v").as("e"), ce("u", "w").as("p"), ce("v", "w").as("q")),
          struct(ce("u", "w").as("e"), ce("u", "v").as("p"), ce("v", "w").as("q")),
          struct(ce("v", "w").as("e"), ce("u", "v").as("p"), ce("u", "w").as("q"))))
          .as("x"))
        .select(col("x.e.col1").as("eu"), col("x.e.col2").as("ev"),
          col("x.p.col1").as("pu"), col("x.p.col2").as("pv"),
          col("x.q.col1").as("qu"), col("x.q.col2").as("qv")), eager = true)

    val support = inc.groupBy(col("eu").as("u"), col("ev").as("v"))
      .agg(count(lit(1)).as("sup"))
    val (state, _, converged) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        pairs.join(support, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (coalesce(col("sup"), lit(0L)) + 2L).as("t")), eager = true),
      maxIter) { cur =>
      // per (edge, triangle): the weaker partner's level; histogram at
      // (edge, value) grain — equal values collapse map-side
      val hist = inc
        .join(cur.select(col("u").as("pu"), col("v").as("pv"),
          col("t").as("tp")).hint("shuffle_hash"), Seq("pu", "pv"))
        .join(cur.select(col("u").as("qu"), col("v").as("qv"),
          col("t").as("tq")).hint("shuffle_hash"), Seq("qu", "qv"))
        .groupBy(col("eu").as("u"), col("ev").as("v"),
          (least(col("tp"), col("tq")) - 2L).as("x"))
        .agg(count(lit(1)).as("cnt"))
      val ge = sum(col("cnt")).over(
        Window.partitionBy(col("u"), col("v")).orderBy(col("x").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val h = hist.select(col("u"), col("v"), least(col("x"), ge).as("hx"))
        .groupBy(col("u"), col("v")).agg(max(col("hx")).as("h"))
      val next = Superstep.freshCheckpoint(
        pairs.join(h, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (coalesce(col("h"), lit(0L)) + 2L).as("t")), eager = false)
      val changed = next.join(cur.withColumnRenamed("t", "prev"), Seq("u", "v"))
        .filter(col("t") =!= col("prev")).count()
      Superstep.Step(next, changed == 0)
    }
    if (!converged) throw new IllegalStateException(
      s"trussness refinement did not converge within $maxIter rounds — raise maxIter")
    state.select(col("u").as("src"), col("v").as("dst"),
      col("t").as("trussness"))
  }
}
