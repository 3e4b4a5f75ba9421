package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Borůvka minimum spanning forest (Borůvka 1926; the parallel MST
  * algorithm — Kruskal/Prim are inherently sequential): each round
  * every component picks its minimum-weight outgoing edge under the
  * strict total order (weight, u, v), the picked edges join the
  * forest, and the components they connect merge. A strict total
  * order guarantees the picks are acyclic, so the result equals the
  * Kruskal MSF under the same order — unique even with tied weights.
  * Link-graph use: the forest is the lightest backbone connecting the
  * co-occurrence graph (cluster skeleton / hierarchy seed), and
  * round-resolution MSF is the standard single-linkage clustering
  * dendrogram builder.
  *
  * Scale shape, per round: ONE map-side-combinable min-aggregation
  * per component side (`min(struct(w, u, v, other))` — lexicographic
  * struct min, partial-aggregated before the exchange), then the
  * textbook Borůvka contraction on the PICKED pairs only (≤ one per
  * live component, shrinking ≥2× per round): root each pick-tree at
  * the mutual pair its unique 2-cycle forms and pointer-jump to the
  * root in O(log depth) comp-sized self-joins, then one relabel join
  * of the surviving cross edges against the comp-sized mapping.
  * Intra-component edges are dropped permanently as soon as their
  * endpoints merge, so the edge set shrinks monotonically. O(log n)
  * rounds.
  *
  * Weights: any orderable numeric works, but cross-engine bit parity
  * is only guaranteed for integer weights (the DuckDB twin replays
  * the packed-BIGINT order; see `mstSqlOracle`).
  */
object Mst {

  /** @param weightedEdges (src, dst, weight) rows; direction and
    *                      duplicates are ignored (canonicalized to
    *                      distinct u<v pairs, min weight per pair)
    * @return the minimum spanning forest as (u, v, weight) rows,
    *         u < v; |V| − #components rows
    */
  def run(spark: SparkSession,
          weightedEdges: DataFrame,
          numPartitions: Int = 32,
          maxIter: Int = 64): DataFrame = Superstep.scope(spark) {
    val canon = weightedEdges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        col("weight").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))

    // e carries the surviving CROSS edges with their component labels;
    // round 0 starts fully labeled by own id (every vertex its own comp)
    Superstep.peel(spark, Superstep.freshCheckpoint(
        canon.select(col("u"), col("v"), col("w"),
            col("u").as("cu"), col("v").as("cv"))
          .repartition(numPartitions, col("u")), eager = true),
      maxIter, "Borůvka", "no component merged") { (e, _) =>
      // per-component argmin outgoing edge, both directions; the
      // struct min is lexicographic on (w, u, v, other) and (w, u, v)
      // is already unique per edge, so `other` never decides
      val bo = e.select(col("cu").as("comp"),
          struct(col("w"), col("u"), col("v"), col("cv").as("other")).as("s"))
        .unionAll(e.select(col("cv").as("comp"),
          struct(col("w"), col("u"), col("v"), col("cu").as("other")).as("s")))
      val picks = Superstep.freshCheckpoint(
        bo.groupBy(col("comp")).agg(min(col("s")).as("s"))
          .select(col("comp"), col("s.other").as("other"),
            col("s.w").as("w"), col("s.u").as("u"), col("s.v").as("v")),
        eager = true)

      // contract the pick pseudo-forest (textbook Borůvka hooking):
      // under a strict total edge order every pick-graph component has
      // exactly ONE cycle and it has length 2 — the component's
      // globally-min edge, whose endpoints picked each other (a longer
      // cycle would need its pick weights to strictly decrease all the
      // way around). Root = the smaller endpoint of that mutual pair;
      // everyone else points along its pick, and pointer jumping
      // converges in O(log depth) comp-sized self-joins — no nested
      // CC run. Label choice is invisible downstream: the next round's
      // picks depend on the component PARTITION, not the label values.
      val mapping = contract(spark, picks, numPartitions)
      val mu = mapping.select(col("id").as("cu"), col("component").as("ncu"))
      val mv = mapping.select(col("id").as("cv"), col("component").as("ncv"))
      val nextE = Superstep.freshCheckpoint(
        e.join(mu.hint("shuffle_hash"), Seq("cu"), "left")
          .join(mv.hint("shuffle_hash"), Seq("cv"), "left")
          .select(col("u"), col("v"), col("w"),
            coalesce(col("ncu"), col("cu")).as("cu"),
            coalesce(col("ncv"), col("cv")).as("cv"))
          .filter(col("cu") =!= col("cv")), eager = true)
      (picks.select(col("u"), col("v"), col("w").as("weight")).distinct(), nextE)
    }
  }

  /** Resolve the pick pseudo-forest to per-component roots: detect the
    * mutual pairs (the unique 2-cycles), root each at its smaller
    * endpoint, then pointer-jump to the root. Returns (id, component)
    * for every comp appearing in `picks`.
    */
  private def contract(spark: SparkSession, picks: DataFrame,
                       numPartitions: Int): DataFrame = {
    // mutual iff the pick of `other` points straight back
    val back = picks.select(col("comp").as("other"), col("other").as("backTo"))
    val (par, _, rooted) = Superstep.iterate(spark,
      Superstep.freshCheckpoint(
        picks.select(col("comp"), col("other"))
          .join(back.hint("shuffle_hash"), Seq("other"), "left")
          .select(col("comp").as("id"),
            when(col("backTo") === col("comp") && col("comp") < col("other"),
              col("comp")).otherwise(col("other")).as("par"))
          .repartition(numPartitions, col("id")), eager = true),
      64) { par =>
      // par is keyed by id (one pick per comp), so par(par(x)) is one
      // self-join; every par value is itself a picked comp, so the
      // inner join is lossless
      val hop = par.select(col("id").as("hid"), col("par").as("gpar"))
      val next = Superstep.freshCheckpoint(
        par.join(hop.hint("shuffle_hash"), par("par") === col("hid"))
          .select(par("id"), col("gpar").as("par")), eager = true)
      val changed = next.join(par.withColumnRenamed("par", "old")
          .hint("shuffle_hash"), Seq("id"))
        .filter(col("par") =!= col("old")).count()
      Superstep.Step(next, changed == 0)
    }
    // 64 jumps root any pick tree shallower than 2⁶³: a strict total
    // edge order never reaches this
    if (!rooted) throw new IllegalStateException(
      "Borůvka contraction did not converge in 64 pointer jumps")
    par.select(col("id"), col("par").as("component"))
  }

  /** Single-linkage clustering at a distance threshold: cut the MSF
    * dendrogram at `threshold` — clusters are the connected components
    * of the forest edges with weight ≤ threshold, which equals the
    * components of the FULL graph restricted to weight ≤ threshold
    * (the defining property of the minimum spanning forest), computed
    * over |V|−c forest edges instead of |E|. Cluster label = min
    * member id; every input endpoint gets a label (singletons above
    * the cut keep their own id).
    */
  def singleLinkage(spark: SparkSession,
                    weightedEdges: DataFrame,
                    threshold: Long,
                    numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    val forest = run(spark, weightedEdges, numPartitions)
    val verts = weightedEdges.select(col("src").as("id"))
      .unionAll(weightedEdges.select(col("dst").as("id"))).distinct()
    val cut = forest.filter(col("weight") <= threshold)
      .select(col("u").as("src"), col("v").as("dst"))
    val labels = ConnectedComponents.run(spark, cut, Some(verts),
      numPartitions)
    labels.select(col("id"), col("component").as("cluster"))
  }
}
