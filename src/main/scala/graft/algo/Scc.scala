package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components by forward-coloring + color-restricted
  * backward reachability (Orzan 2004; the Slota et al. multistep shape
  * minus the BFS pivot). Labels are exact: scc(v) = the minimum vertex
  * id in v's SCC.
  *
  * Per outer round over the REMAINING graph:
  *  1. trim to fixpoint: a vertex with in-degree 0 or out-degree 0
  *     is its own SCC (kills DAG regions at one layer per step);
  *  2. forward color to fixpoint: c(v) = min id that reaches v —
  *     min-propagation along edges, map-side combinable;
  *  3. roots are c(v) = v; every vertex with color r that reaches its
  *     root r is in SCC(r). Soundness: if u, w share an SCC, every
  *     path between them stays inside it (any intermediate both
  *     reaches and is reached by the SCC), and the whole SCC shares
  *     the root's color; so a settled bit propagated BACKWARD along
  *     same-color edges from the roots finds exactly the SCCs of the
  *     roots. The label is the root = the SCC's minimum id.
  *  4. settle those vertices, drop their edges, repeat.
  * Removing a settled SCC never splits a remaining one (paths between
  * SCC members never leave the SCC), so rounds only peel.
  *
  * Scale shape: every step is one edge-sized shuffle-hash join feeding
  * a map-side partial min aggregation or a distinct — a PageRank-
  * superstep exchange; the edge table is re-checkpointed only when
  * vertices were actually settled. Inner fixpoints run O(diameter)
  * rounds; the outer loop runs once per SCC "layer" (few on web-ish
  * graphs: one giant SCC plus DAG fringe — Broder's bow-tie). Worst
  * case (a chain of 2-cycles) degrades to O(V) rounds like every
  * label-propagation SCC; pivot-BFS hybrids fix that, out of scope.
  *
  * Trim and coloring checkpoint every frame eagerly; after each of
  * their rounds one [[Superstep.CheckpointGC]] sweep keeps only the
  * graph state (edges, vertices, settled) and the frames the running
  * phase still reads. The backward reach is [[BowTie.expand]] on
  * [[Superstep.frontier]], which owns its own frames. All three phases
  * draw on one budget of `maxIter` fixpoint rounds in total.
  */
object Scc {

  /** @param edges directed (src, dst), duplicate-free
    * @return (id, scc) — scc = min vertex id of the component
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 10000): DataFrame = Superstep.scope(spark) {

    def chk(df: DataFrame): DataFrame = Superstep.freshCheckpoint(df, eager = true)
    val gc = new Superstep.CheckpointGC(spark)

    var e = chk(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
        .repartition(numPartitions, col("src")))
    var verts = chk(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .distinct().repartition(numPartitions, col("id")))
    var settled = chk(verts.filter(lit(false)).select(col("id"), col("id").as("scc")))
    // free everything but the graph state and the running phase's frames
    def sweep(phase: DataFrame*): Unit = gc.tick(Seq(e, verts, settled) ++ phase: _*)

    var budget = maxIter
    def spend(): Unit = {
      budget -= 1
      if (budget <= 0)
        throw new IllegalStateException(
          s"SCC exceeded $maxIter total fixpoint rounds — raise maxIter")
    }

    // settle `group` (id, scc): fold into the accumulator, peel the graph
    def settle(group: DataFrame, n: Long, remaining: Long): Long = {
      settled = chk(settled.unionByName(group))
      verts = chk(verts.join(group.select(col("id")), Seq("id"), "left_anti"))
      e = chk(
        e.join(group.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(group.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
          .repartition(numPartitions, col("src")))
      remaining - n
    }

    var remaining = verts.count()
    while (remaining > 0) {
      // -- 1. trim to fixpoint ------------------------------------------
      var trimming = true
      while (trimming && remaining > 0) {
        spend()
        val trivial = chk(
          verts.join(e.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
            .unionByName(
              verts.join(e.select(col("src").as("id")).distinct(), Seq("id"), "left_anti"))
            .distinct())
        val nTrivial = trivial.count()
        if (nTrivial > 0) {
          remaining = settle(trivial.select(col("id"), col("id").as("scc")),
            nTrivial, remaining)
        } else trimming = false
        sweep()
      }

      if (remaining > 0) {
        // -- 2. forward min-color to fixpoint ---------------------------
        var color = chk(verts.select(col("id"), col("id").as("c")))
        var changing = true
        while (changing) {
          spend()
          val incoming = e
            .join(color.hint("shuffle_hash"), e("src") === color("id"))
            .groupBy(e("dst").as("id")).agg(min(col("c")).as("cin"))
          val next = chk(
            color.join(incoming, Seq("id"), "left")
              .select(col("id"),
                least(col("c"), coalesce(col("cin"), col("c"))).as("c"),
                coalesce(col("cin") < col("c"), lit(false)).as("chg")))
          changing = next.filter(col("chg")).count() > 0
          color = chk(next.select(col("id"), col("c")))
          sweep(color)
        }

        // -- 3. backward reach from the roots within the color class ----
        // BowTie's reachability round over the reversed same-color
        // edges; its rounds draw on the shared budget
        val sameColorRev = chk(
          e.join(color.select(col("id").as("src"), col("c").as("csrc")), Seq("src"))
            .join(color.select(col("id").as("dst"), col("c").as("cdst")), Seq("dst"))
            .filter(col("csrc") === col("cdst"))
            .select(col("dst").as("src"), col("src").as("dst"))
            .repartition(numPartitions, col("src")))
        val roots = color.filter(col("id") === col("c")).select(col("id"))
          .repartition(numPartitions, col("id"))
        val (reach, rounds) = Superstep.frontier(spark, roots, budget - 1,
          "SCC backward reach")(BowTie.expand(sameColorRev, _, _))
        budget -= rounds

        // -- 4. settle SCC members, peel --------------------------------
        val members = chk(
          color.join(reach, Seq("id")).select(col("id"), col("c").as("scc")))
        val nMembers = members.count()
        remaining = settle(members, nMembers, remaining)
        sweep()
      }
    }
    settled
  }

  /** Condensation DAG: one vertex per SCC, an edge (cu, cv) for every
    * pair of distinct components joined by at least one original edge.
    * Two skinny label joins + a distinct — the standard follow-up
    * (cycle-free dependency order over the component graph).
    */
  def condensation(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("scc").as("csrc")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("scc").as("cdst")), Seq("dst"))
      .filter(col("csrc") =!= col("cdst"))
      .select(col("csrc"), col("cdst")).distinct()
}
