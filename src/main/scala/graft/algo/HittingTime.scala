package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Expected hitting time of a target set under the uniform random walk
  * — "how many clicks from here to the docs hub, on average": for
  * targets h = 0, otherwise h(v) = 1 + (1/deg v)·Σ_{u∈N(v)} h(u).
  * The random-walk distance behind proximity ranking and
  * recommendation diversity; unlike hop distance it is volume-
  * sensitive (a vertex behind a thin bridge is far even at 2 hops).
  *
  * Jacobi iteration from h₀ ≡ 0: every sweep applies the fixed-point
  * operator, and because the operator is monotone and h₀ is below the
  * solution, iterates increase monotonically toward the true expected
  * hitting time (exactly ∞ for vertices in components with no target —
  * their iterates grow without bound, which is why the result carries
  * the iterate, not a claim of convergence; callers pick `iters` ≈
  * the mixing scale or watch the reported max delta). Per sweep: one
  * state⨝edges shuffle-hash join with a map-side partial SUM, one
  * co-partitioned join against the degree table — the PageRank
  * superstep budget exactly.
  *
  * Reference analogue: the read API's neighborhood expansion
  * (api/read.py strategy 3) ranks by hops; hitting time is the same
  * question asked of the walk rather than the shortest path.
  */
object HittingTime {

  /** @param symEdges  symmetrized edges (src, dst) — the walk steps on
    *                  the undirected neighborhood
    * @param targets   one column `id` — the absorbing set
    * @param iters     Jacobi sweeps (iterates increase toward the true
    *                  value; geometric convergence on target-reachable
    *                  components)
    * @return (id, h) for every vertex with degree ≥ 1 plus the
    *         targets; targets at exactly 0.0
    */
  def run(spark: SparkSession,
          symEdges: DataFrame,
          targets: DataFrame,
          iters: Int = 30,
          numPartitions: Int = 32): DataFrame = Superstep.withoutAQE(spark) {
    require(iters >= 0, "iters must be >= 0")
    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(numPartitions, col("src")), eager = true)
    val tg = Superstep.freshCheckpoint(
      targets.select(col("id")).distinct()
        .withColumn("isT", lit(true))
        .repartition(numPartitions, col("id")), eager = true)

    // vertex table: degree + absorbing flag (degree-0 targets still
    // appear — they absorb at 0 and send nothing)
    val verts = Superstep.freshCheckpoint(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .join(tg.hint("shuffle_hash"), Seq("id"), "full")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("isT"), lit(false)).as("isT"))
        .repartition(numPartitions, col("id")), eager = true)

    val (state, _, _) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(verts.select(col("id"), lit(0.0).as("h")), eager = true),
      iters, keep = 3) { cur =>
      val sums = cur.join(e.hint("shuffle_hash"), cur("id") === e("src"))
        .groupBy(e("dst").as("id")).agg(sum(col("h")).as("nh"))
      Superstep.Step(Superstep.freshCheckpoint(
        verts.join(sums.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            when(col("isT"), 0.0) // degree-0 non-targets never enter `verts`
              .otherwise(lit(1.0) + coalesce(col("nh"), lit(0.0)) / col("deg"))
              .as("h")), eager = true))
    }
    val out = Superstep.freshCheckpoint(
      state.withColumn("h", round(col("h"), 6)), eager = true)
    Seq(e, tg, verts, state).foreach(Superstep.freeCheckpoint)
    out
  }

  /** Absorption probability / harmonic voltage: the probability the
    * uniform walk hits the POSITIVE set before the NEGATIVE one —
    * equivalently the voltage when A is wired to 1 V and B to ground
    * (effective-resistance view), and exactly the Zhu–Ghahramani
    * harmonic function for semi-supervised binary classification with
    * clamped seeds. p = 1 on A, p = 0 on B, p(v) = mean of neighbor p
    * elsewhere. The soft, calibrated sibling of
    * [[LabelPropagation.seeded]] (which spreads HARD labels).
    *
    * Jacobi from p₀ = 0 off-A: the operator is monotone and p₀ is
    * below the harmonic solution, so iterates increase toward it;
    * vertices with no path to A converge to exactly 0 (correct:
    * they never hit A). Same superstep budget as [[run]].
    *
    * @return (id, p) over vertices with degree ≥ 1 plus both target
    *         sets, 6dp; A at exactly 1.0, B at exactly 0.0
    */
  def absorption(spark: SparkSession,
                 symEdges: DataFrame,
                 positives: DataFrame,
                 negatives: DataFrame,
                 iters: Int = 30,
                 numPartitions: Int = 32): DataFrame = Superstep.withoutAQE(spark) {
    require(iters >= 0, "iters must be >= 0")
    val e = Superstep.freshCheckpoint(
      symEdges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(numPartitions, col("src")), eager = true)
    val pos = positives.select(col("id")).distinct().withColumn("isA", lit(true))
    val neg = negatives.select(col("id")).distinct().withColumn("isB", lit(true))

    val verts = Superstep.freshCheckpoint(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .join(pos.hint("shuffle_hash"), Seq("id"), "full")
        .join(neg.hint("shuffle_hash"), Seq("id"), "full")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("isA"), lit(false)).as("isA"),
          coalesce(col("isB"), lit(false)).as("isB"))
        .repartition(numPartitions, col("id")), eager = true)
    require(verts.filter(col("isA") && col("isB")).isEmpty,
      "positive and negative target sets must be disjoint")

    val (state, _, _) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(verts.select(col("id"),
        when(col("isA"), 1.0).otherwise(0.0).as("p")), eager = true),
      iters, keep = 3) { cur =>
      val sums = cur.join(e.hint("shuffle_hash"), cur("id") === e("src"))
        .groupBy(e("dst").as("id")).agg(sum(col("p")).as("np"))
      Superstep.Step(Superstep.freshCheckpoint(
        verts.join(sums.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            when(col("isA"), 1.0).when(col("isB"), 0.0)
              .otherwise(coalesce(col("np"), lit(0.0)) / col("deg"))
              .as("p")), eager = true))
    }
    val out = Superstep.freshCheckpoint(
      state.withColumn("p", round(col("p"), 6)), eager = true)
    Seq(e, verts, state).foreach(Superstep.freeCheckpoint)
    out
  }

  /** Effective resistance between two vertices with unit edge
    * conductances — the commute-distance / spanning-tree-sensitivity
    * metric behind spectral sparsification and robust-link scoring:
    * R_eff(a,b) = 1/I where I is the current out of `a` when `a` is
    * held at 1 V and `b` grounded, and the voltage is exactly the
    * [[absorption]] harmonic function with A = {a}, B = {b}. One
    * skinny neighbor join + a 1-row aggregate on top of the existing
    * clamped Jacobi solve; the sweeps converge to the voltage from
    * below, so the returned value is a monotone lower bound on R_eff
    * that tightens with `iters` (exact on short-diameter fixtures
    * well before the default).
    *
    * @return one row (a, b, current, r_eff), both doubles rounded 6dp
    */
  def effectiveResistance(spark: SparkSession,
                          symEdges: DataFrame,
                          a: Long, b: Long,
                          iters: Int = 30,
                          numPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    val p = absorption(spark, symEdges,
      spark.range(1).select(lit(a).as("id")),
      spark.range(1).select(lit(b).as("id")),
      iters, numPartitions)
    val i = symEdges.filter(col("src") === a)
      .select(col("dst").as("id")).distinct()
      .join(p, Seq("id"))
      .agg(sum(lit(1.0) - col("p")).as("i")).head().getDouble(0)
    // round via the SQL function (HALF_UP, engine-shared) — not
    // math.rint, whose half-even ties diverge from DuckDB's round
    Seq((a, b, i)).toDF("a", "b", "i_raw")
      .select(col("a"), col("b"), round(col("i_raw"), 6).as("current"),
        round(lit(1.0) / col("i_raw"), 6).as("r_eff"))
  }
}
