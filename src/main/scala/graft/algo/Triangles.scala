package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact triangle counting over a degree-ordered adjacency structure —
  * G-6, mandated by the north rule (not present in the reference).
  *
  * Classic compact-forward / degree-orientation scheme (Latapy 2008;
  * Suri & Vassilvitskii "Counting Triangles and the Curse of the Last
  * Reducer", WWW 2011): orient every undirected edge from the lower
  * (degree, id) endpoint to the higher, so each triangle is counted
  * exactly once and every out-adjacency list is O(√m) — the skew
  * killer: a degree-10^6 hub keeps an out-list no longer than ~√(2m).
  *
  * The per-vertex adjacency is a sorted array (the per-partition CSR
  * equivalent, packed by collect_list+sort inside the agg), and the
  * count is Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)| via
  * codegen'd `array_intersect`. Everything is joins/aggs — no driver
  * iteration.
  */
object Triangles {

  /** @param undirectedPairs one row per undirected edge, u < v, distinct
    * @return exact triangle count
    */
  def countTriangles(spark: SparkSession, undirectedPairs: DataFrame,
            numPartitions: Int = 32): Long = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))

    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))

    val withDeg = pairs
      .join(deg.select(col("id").as("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("ddst")), Seq("dst"))

    // orient low (deg, id) → high (deg, id)
    val oriented = withDeg.select(
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        col("src")).otherwise(col("dst")).as("u"),
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        col("dst")).otherwise(col("src")).as("v"))
      .repartition(numPartitions, col("u"))

    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nb"))

    // shuffle-hash: streaming the oriented edges against hashed
    // adjacency avoids sorting the array-heavy adj frames (out-lists
    // are O(√m), so a partition's hash map stays bounded)
    val cnt = oriented
      .join(adj.select(col("u"), col("nb").as("nbU")).hint("shuffle_hash"), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nb").as("nbV")).hint("shuffle_hash"),
        Seq("v"))
      .select(graft.functions.sorted_intersect_count(col("nbU"), col("nbV")).as("t"))
      .agg(sum(col("t")))
      .first()

    if (cnt.isNullAt(0)) 0L else cnt.getLong(0)
  }

  /** DOULION sampled triangle count (Tsourakakis et al., KDD 2009):
    * keep each canonical edge at rate num/den via the deterministic
    * sampleKeep scramble on the packed (u, v) key, count triangles
    * EXACTLY on the surviving subgraph, scale by (den/num)³ — an
    * unbiased estimate at (num/den)² of the exact kernel's join cost,
    * the dev-loop/monitoring counter at 10¹² edges. Deterministic
    * (no RNG state) and engine-replayable; variance is the price and
    * is the caller's knob via the rate.
    *
    * @return one row (kept_edges, sampled_triangles, estimate) —
    *   estimate = t·den³/num³ as a 6dp double (exact integer when
    *   num = 1)
    */
  def sampledCount(spark: SparkSession, undirectedPairs: DataFrame,
                   num: Long, den: Long, salt: Long = 0L,
                   numPartitions: Int = 32): DataFrame = {
    val P = 2147483647L
    val key = pmod(col("src"), lit(P)) * lit(131L) + pmod(col("dst"), lit(P))
    val kept = undirectedPairs
      .filter(graft.graph.GraphOps.sampleKeep(key, num, den, salt))
      .localCheckpoint(true)
    val m = kept.count()
    val t = countTriangles(spark, kept, numPartitions)
    Superstep.freeCheckpoint(kept)
    import spark.implicits._
    Seq((m, t, t.toDouble * den * den * den / (num * num * num)))
      .toDF("kept_edges", "sampled_triangles", "estimate_raw")
      .select(col("kept_edges"), col("sampled_triangles"),
        round(col("estimate_raw"), 6).as("estimate"))
  }

  /** Degree-oriented triangle ENUMERATION — the one copy of the
    * scale-critical kernel shared by [[perVertex]], `KTruss` and
    * `LinkScores` (orientation tie-break, repartition, shuffle_hash
    * hints live here and nowhere else). Each triangle appears exactly
    * once as (u, v, w): (u,v) an oriented edge, w a common
    * out-neighbor. [[countTriangles]] keeps its fused count-only tail
    * (native `sorted_intersect_count`, no per-triangle rows).
    */
  private[graft] def enumerate(undirectedPairs: DataFrame,
                               numPartitions: Int): DataFrame = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))

    val withDeg = pairs
      .join(deg.select(col("id").as("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("ddst")), Seq("dst"))
    val oriented = withDeg.select(
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        col("src")).otherwise(col("dst")).as("u"),
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        col("dst")).otherwise(col("src")).as("v"))
      .repartition(numPartitions, col("u"))

    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nb"))

    oriented
      .join(adj.select(col("u"), col("nb").as("nbU")).hint("shuffle_hash"), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nb").as("nbV")).hint("shuffle_hash"),
        Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("nbU"), col("nbV"))).as("w"))
  }

  /** Per-vertex triangle participation counts (id, triangles) —
    * each triangle credits all three corners.
    */
  def perVertex(spark: SparkSession, undirectedPairs: DataFrame,
                numPartitions: Int = 32): DataFrame =
    enumerate(undirectedPairs, numPartitions)
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

  /** Exact global 4-cycle (rectangle) count via the diagonal identity:
    * every unordered vertex pair {u, w} with c common neighbors closes
    * C(c, 2) four-cycles through them, and each 4-cycle has exactly
    * two diagonal pairs, so #C₄ = ½ · Σ_{u<w} C(codeg(u,w), 2). The
    * co-citation / co-purchase motif one step up from triangles —
    * the bipartite-ish density signal triangles miss entirely.
    *
    * The wedge generation is Σ deg(c)² rows — inherently the same
    * super-linear surface as `LinkScores` — so `maxCenterDegree`
    * (0 = unlimited) drops super-hub CENTERS before the self-join,
    * exactly the capped-wedge discipline of `LinkScores.recommend`
    * (PLANS.md §6): cycles through dropped hubs are not counted, a
    * documented recall trade, never a silent one. The (u, w) pair
    * aggregation is map-side combinable; C(c,2) sums in BIGINT.
    */
  def countRectangles(spark: SparkSession, undirectedPairs: DataFrame,
                      numPartitions: Int = 32,
                      maxCenterDegree: Long = 0): Long = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val centers =
      if (maxCenterDegree <= 0) sym
      else {
        val ok = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
          .filter(col("d") <= maxCenterDegree).select(col("id"))
        sym.join(ok.withColumnRenamed("id", "src").hint("shuffle_hash"),
          Seq("src"), "left_semi")
      }
    val cw = centers.select(col("src").as("c"), col("dst"))
      .repartition(numPartitions, col("c"))
    val codeg = cw.as("l").join(cw.as("r"),
        col("l.c") === col("r.c") && col("l.dst") < col("r.dst"))
      .groupBy(col("l.dst").as("u"), col("r.dst").as("w"))
      .agg(count(lit(1)).as("cd"))
    // Σ cd·(cd−1) = 4·#C₄ exactly; DIV keeps the division integral
    val row = codeg.agg(
      expr("CAST(sum(cd * (cd - 1)) DIV 4 AS BIGINT)").as("c4")).first()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Exact global 4-clique count — the motif one step up from
    * [[countTriangles]] (K₄, the densest 4-vertex pattern; rectangles
    * count the sparsest). Follows the k-clique listing scheme of
    * Danisch, Balalau & Sozio ("Listing k-cliques in Sparse Real-World
    * Graphs", WWW 2018) specialised to k = 4 on the degree-oriented
    * DAG: every triangle appears exactly once as (u, v, w) with
    * u ≺ v ≺ w in (degree, id) order, and a 4-clique {a≺b≺c≺d} is
    * exactly one pair of triangles (a,b,c), (a,b,d) sharing their
    * lowest oriented edge (a,b) whose third corners {c,d} are
    * themselves adjacent. So: self-join the triangle list on the
    * oriented edge, semi-join the corner pair against the edge set.
    *
    * The self-join emits C(t_e, 2) rows per oriented edge with t_e
    * triangles; degree orientation bounds t_e ≤ |N⁺| = O(√m), and
    * `maxEdgeTriangles` (0 = unlimited) drops hotter edges before the
    * self-join — the same explicit recall trade as
    * [[countRectangles]]'s center cap, never a silent truncation.
    */
  def countCliques4(spark: SparkSession, undirectedPairs: DataFrame,
                    numPartitions: Int = 32,
                    maxEdgeTriangles: Long = 0): Long = {
    val tri = enumerate(undirectedPairs, numPartitions)
      .repartition(numPartitions, col("u"), col("v"))
    val kept =
      if (maxEdgeTriangles <= 0) tri
      else {
        val ok = tri.groupBy(col("u"), col("v")).agg(count(lit(1)).as("t"))
          .filter(col("t") <= maxEdgeTriangles).select(col("u"), col("v"))
        tri.join(ok.hint("shuffle_hash"), Seq("u", "v"), "left_semi")
      }
    // out-lists are id-sorted, so l.w < r.w already enumerates each
    // unordered corner pair once with a < b by id
    val cand = kept.as("l").join(kept.as("r"),
        col("l.u") === col("r.u") && col("l.v") === col("r.v") &&
          col("l.w") < col("r.w"))
      .select(col("l.w").as("a"), col("r.w").as("b"))
    val und = undirectedPairs.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    cand.join(und.hint("shuffle_hash"), Seq("a", "b"), "left_semi").count()
  }

  /** Local clustering coefficient cc(v) = 2·T(v) / (d(v)·(d(v)−1))
    * (Watts–Strogatz) over the simple undirected graph; 0 for degree
    * < 2. One shared degree-oriented triangle enumeration + one degree
    * aggregation + one left join — the per-vertex "how clique-like is
    * this entity's neighborhood" feature. The division is a single fp
    * op over exact integers, so it is bit-identical across engines.
    */
  def clustering(spark: SparkSession, undirectedPairs: DataFrame,
                 numPartitions: Int = 32): DataFrame = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val deg = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    deg.join(perVertex(spark, pairs, numPartitions), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("coeff",
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1))))
  }

  /** OddBall ego-net features (Akoglu–McGlohon–Faloutsos, PAKDD 2010)
    * — the per-vertex anomaly surface for link-spam / bot detection:
    * the ego-net of v is v plus its neighbors, and its edge count is
    * a CLOSED FORM over pieces this module already computes,
    * E_ego(v) = d(v) + T(v) (every neighbor–neighbor edge closes a
    * triangle through v — no ego subgraph is ever materialized, which
    * is what makes the feature computable at 10¹² edges). Near-clique
    * egos (E ≈ N²/2, link farms) and near-star egos (E ≈ N, spam
    * hubs) sit at the two ends of `ego_density` = E_ego / C(d+1, 2);
    * OddBall's power-law fit E ∝ N^α is a driver-side regression over
    * this frame, deliberately left to the caller.
    *
    * Budget = the [[clustering]] plan exactly: one shared
    * degree-oriented enumeration + one degree agg + one left join;
    * the density is a single fp division of exact BIGINTs.
    *
    * @return (id, nbrs = d(v), ego_edges = d(v)+T(v), ego_density)
    */
  def egoNetFeatures(spark: SparkSession, undirectedPairs: DataFrame,
                     numPartitions: Int = 32): DataFrame = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val deg = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("nbrs"))
    deg.join(perVertex(spark, pairs, numPartitions), Seq("id"), "left")
      .select(col("id"), col("nbrs"),
        (col("nbrs") + coalesce(col("triangles"), lit(0L))).as("ego_edges"))
      .withColumn("ego_density",
        lit(2.0) * col("ego_edges") / ((col("nbrs") + 1) * col("nbrs")))
  }

  /** Clustering spectrum c(k): mean local clustering coefficient per
    * degree class — the hierarchical-structure read (Ravasz–Barabási:
    * c(k) ~ k⁻¹ signals hierarchical modularity, flat c(k) a
    * homogeneous graph). Constant-k factoring keeps the aggregation
    * exact (the knn(k) discipline): per class one exact BIGINT
    * triangle sum, both divisions applied once at class grain —
    * c(k) = 2·ΣT / (n_k·k·(k−1)). Output O(√m) rows.
    *
    * @return (degree, n, sum_triangles, ck), degree ≥ 2 classes only
    */
  def clusteringSpectrum(spark: SparkSession, undirectedPairs: DataFrame,
                         numPartitions: Int = 32): DataFrame = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val deg = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(perVertex(spark, pairs, numPartitions), Seq("id"), "left")
      .select(col("degree"), coalesce(col("triangles"), lit(0L)).as("t"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("sum_triangles"))
      .withColumn("ck",
        lit(2.0) * col("sum_triangles") /
          (col("n") * col("degree") * (col("degree") - 1)))
  }

  /** OddBall anomaly scores — the power-law-residual finish over
    * [[egoNetFeatures]]: fit log E = α·log N + β by least squares
    * over all vertices with N ≥ 2 (the paper's EDPL law; N = 1 egos
    * have E = 1 identically and would drag the fit), then score each
    * vertex by its out-of-pattern factor
    * score = max(E, Ê)/min(E, Ê) · |log E − log Ê| (Akoglu et al.
    * 2010 eq. 3) — near-cliques and near-stars both surface because
    * the deviation is measured from the GRAPH'S OWN fitted law, not
    * an absolute threshold.
    *
    * The fit is five driver-side moments from ONE
    * map-side-combinable aggregate; the score pass is a stateless
    * map with the two fitted constants inlined as literals. Log
    * residuals are transcendental, so this surface is spec-verified
    * rather than oracle-hashed (the PMI ln lesson: libm last-ulp
    * drift across engines).
    *
    * @return (id, nbrs, ego_edges, score) — score 0 for N < 2
    */
  def oddballScores(spark: SparkSession, undirectedPairs: DataFrame,
                    numPartitions: Int = 32): DataFrame = {
    val f = egoNetFeatures(spark, undirectedPairs, numPartitions)
      .select(col("id"), col("nbrs"), col("ego_edges"))
      .localCheckpoint(true)
    val fitRows = f.filter(col("nbrs") >= 2)
      .select(log(col("nbrs").cast("double")).as("x"),
        log(col("ego_edges").cast("double")).as("y"))
    val m = fitRows.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy")).first()
    val (n, sx, sy, sxx, sxy) =
      (m.getLong(0).toDouble, m.getDouble(1), m.getDouble(2),
        m.getDouble(3), m.getDouble(4))
    require(n >= 2 && n * sxx - sx * sx != 0,
      "OddBall fit needs >= 2 distinct ego sizes")
    val alpha = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val beta = (sy - alpha * sx) / n

    val eHat = exp(lit(beta) + lit(alpha) * log(col("nbrs").cast("double")))
    f.withColumn("score",
      when(col("nbrs") < 2, lit(0.0))
        .otherwise(
          (greatest(col("ego_edges"), eHat) / least(col("ego_edges"), eHat)) *
            abs(log(col("ego_edges").cast("double")) - log(eHat))))
  }

  /** Augmented Forman–Ricci curvature per edge (Samal et al., "Com-
    * parative analysis of two discretizations of Ricci curvature for
    * complex networks", 2018): F#(u,v) = 4 − d(u) − d(v) + 3·t(u,v)
    * — the network-geometry read of an edge's role. Strongly negative
    * curvature marks BRIDGES between dense regions (high degrees, no
    * shared triangles — where Girvan–Newman betweenness points, at a
    * tiny fraction of the cost); non-negative curvature marks edges
    * inside well-knit neighborhoods. The cheap combinatorial sibling
    * of Ollivier–Ricci (whose per-edge optimal transport does not
    * distribute), over pieces this module already pays for: the
    * shared enumeration's per-edge support + two degree joins —
    * exact BIGINT arithmetic end-to-end.
    *
    * @param undirectedPairs one row per undirected edge, src < dst
    * @return (src, dst, support, curvature)
    */
  def formanCurvature(spark: SparkSession, undirectedPairs: DataFrame,
                      numPartitions: Int = 32): DataFrame = {
    val pairs = undirectedPairs.select(col("src"), col("dst"))
    val deg = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val sup = KTruss.edgeSupport(pairs, numPartitions)
      .select(col("a").as("src"), col("b").as("dst"), col("support"))
    pairs
      .join(sup, Seq("src", "dst"), "left")
      .join(deg.select(col("id").as("src"), col("d").as("du"))
        .hint("shuffle_hash"), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("d").as("dv"))
        .hint("shuffle_hash"), Seq("dst"))
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"),
        (lit(4L) - col("du") - col("dv") +
          lit(3L) * coalesce(col("support"), lit(0L))).as("curvature"))
  }

  /** Incremental triangle-count delta after an ADDITIVE snapshot diff:
    * the number of NEW triangles, i.e. count(G_new) − count(G_old)
    * where G_new = G_old ∪ Δ — without re-enumerating the historic
    * graph. Every new triangle contains ≥ 1 delta edge, so the job is
    * delta-proportional: expand each delta edge from its LOWER-degree
    * endpoint (candidate rows ≤ Σ_Δ min(deg a, deg b), the hot-hub-side
    * explosion structurally avoided), close the wedge with one
    * semi-join against the new pair set, and dedupe triangles that
    * contain 2-3 delta edges by their sorted vertex triple (a
    * delta-scale distinct, never edge-scale).
    *
    * The degree table is the one full-graph-scale pass (a map-side-
    * combinable count); at 10^12 edges it is the cached/persisted
    * degree summary an ingestion pipeline already maintains.
    *
    * @param oldPairs   canonical undirected pairs (src < dst) of the
    *                   prior snapshot, duplicate-free
    * @param deltaPairs canonical undirected pairs ADDED since —
    *                   disjoint from oldPairs (snapshotDiff 'added')
    * @return number of triangles created by the delta
    */
  def incrementalDelta(spark: SparkSession,
                       oldPairs: DataFrame,
                       deltaPairs: DataFrame,
                       numPartitions: Int = 32): Long = {
    val old = oldPairs.select(col("src"), col("dst"))
    val dlt = deltaPairs.select(col("src"), col("dst"))
    val all = old.unionAll(dlt)
    val sym = all.unionAll(all.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val d = dlt
      .join(deg.select(col("id").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dd")), Seq("dst"))
      .select(
        when(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")),
          col("src")).otherwise(col("dst")).as("lo"),
        when(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")),
          col("dst")).otherwise(col("src")).as("hi"))
      .repartition(numPartitions, col("lo"))
    val adj = sym.select(col("src").as("lo"), col("dst").as("w"))
    val wedges = d.join(adj.hint("shuffle_hash"), Seq("lo"))
      .filter(col("w") =!= col("hi"))
    val closed = wedges.join(
      all.select(col("src").as("cs"), col("dst").as("cd")).hint("shuffle_hash"),
      least(col("hi"), col("w")) === col("cs") &&
        greatest(col("hi"), col("w")) === col("cd"), "left_semi")
    closed.select(array_sort(array(col("lo"), col("hi"), col("w"))).as("t"))
      .distinct().count()
  }

  /** Global transitivity (global clustering coefficient): the fraction
    * of wedges that close, 3·#triangles / #wedges with #wedges =
    * Σ_v d(v)·(d(v)−1)/2 — the one-number "how clumpy is this graph"
    * summary that complements the per-vertex [[clustering]] column.
    *
    * Cost = one [[countTriangles]] run (the shared degree-oriented
    * enumeration) + one map-side-combinable degree aggregate; both
    * counts are exact BIGINT (d·(d−1) DIV 2 stays integral), the ratio
    * is ONE IEEE division of those ints — cross-engine bit parity.
    * d ≤ ~3·10⁹ before d·(d−1) crosses 2⁶³ — beyond any real degree.
    *
    * @return one row (n_wedges, n_closed, transitivity) where n_closed
    *         = 3·#triangles (each triangle closes all three of its
    *         wedges); transitivity null on a wedge-free graph
    */
  def transitivity(spark: SparkSession,
                   undirectedPairs: DataFrame,
                   numPartitions: Int = 32): DataFrame = {
    val t = countTriangles(spark, undirectedPairs, numPartitions)
    val sym = undirectedPairs.select(col("src"), col("dst"))
      .unionAll(undirectedPairs.select(col("dst").as("src"), col("src").as("dst")))
    val wedges = sym.groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) DIV 2")).as("w"))
      .first().getLong(0)
    val ratio: Option[Double] =
      if (wedges == 0L) None else Some(3.0 * t / wedges)
    spark.createDataFrame(Seq((wedges, 3L * t, ratio)))
      .toDF("n_wedges", "n_closed", "transitivity")
  }
}
