package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

/** Holland–Leinhardt triad census — the classic 16-type directed-triad
  * spectrum (003, 012, 102, 021D/U/C, 111D/U, 030T/C, 201, 120D/U/C,
  * 210, 300) that fingerprints a directed link graph's local mixing:
  * reciprocity-heavy social cores, feed-forward DAG-ish dependency
  * structure (high 030T, zero 030C), spam link farms (one-way stars).
  * The MAN naming: count of Mutual / Asymmetric / Null dyads, with
  * D(own) = the star's arcs diverge from its center, U(p) = converge
  * into it, C = cyclic/mixed, T = transitive.
  *
  * NO triple enumeration anywhere (C(n,3) ≈ 10³⁵ at n = 10¹²):
  * the Batagelj–Mrvar decomposition —
  *   - CLOSED triads (all 3 dyads connected): classified on the shared
  *     degree-oriented triangle enumeration ([[Triangles.enumerate]],
  *     the engine's one copy of the kernel) by joining the 3 dyad
  *     codes — only triangle-many rows exist;
  *   - WEDGE triads (exactly 2 connected dyads): per-vertex counts of
  *     incident out-only / in-only / mutual dyads give every
  *     adjacent-dyad-pair bucket by pure degree arithmetic (C(o,2),
  *     o·i, m·o, …); each CLOSED triad contributed its 3 corner wedges
  *     to those buckets, so the same classified triangle pass emits a
  *     per-corner correction and open counts = bucket − correction;
  *   - SINGLE-DYAD triads (012, 102): per connected dyad the third
  *     vertices adjacent to neither endpoint number n−2 − (dᵤ−1) −
  *     (dᵥ−1) + common(u,v) — degree sums and the per-pair triangle
  *     support the enumeration already yields;
  *   - 003 = C(n,3) − everything else.
  * All counts that can pass 2⁶³ (star binomials, A·(n−2), C(n,3))
  * accumulate in DECIMAL(38,0) and finish in driver-side BigInt on
  * single-row aggregates; the output `cnt` column is DECIMAL(38,0).
  *
  * Exchange budget: one dyad-code aggregation (one shuffle of the edge
  * table on the canonical pair), the shared triangle enumeration, two
  * vertex-grain joins for the single-dyad degree sums, and a handful
  * of single-row aggregates. The census identity Σ = C(n,3) is
  * asserted — any drop or double-count anywhere fails loudly.
  *
  * Reference analogue: the validation suite's relationship-pattern
  * checks (validation.py's directional edge rules) read single edges;
  * the census is the same read at triad grain.
  */
object TriadCensus {

  val AllTypes: Seq[String] = Seq("003", "012", "102", "021D", "021U",
    "021C", "111D", "111U", "030T", "030C", "201", "120D", "120U",
    "120C", "210", "300")

  private val Dec = "decimal(38,0)"

  /** Census over a directed edge table.
    *
    * @param edges directed (src, dst); self-loops and duplicates
    *              dropped here
    * @param vertices one column `id` — the triple universe (isolated
    *                 vertices count toward 003/012/102); defaults to
    *                 the edge endpoints
    * @return (triad, cnt) — all 16 rows, cnt DECIMAL(38,0), summing
    *         to C(n,3)
    */
  def run(spark: SparkSession,
          edges: DataFrame,
          vertices: Option[DataFrame] = None,
          numPartitions: Int = 32): DataFrame = Superstep.scope(spark) {
    val e = Superstep.freshCheckpoint(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(numPartitions, col("src")), eager = true)

    val verts = vertices.map(_.select(col("id")).distinct())
      .getOrElse(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val n = BigInt(verts.count())

    // dyad codes on canonical pairs: 1 = u→v only, 2 = v→u only,
    // 3 = mutual (u < v throughout)
    val codes = Superstep.freshCheckpoint(
      e.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"),
          (col("src") < col("dst")).as("fwd"))
        .groupBy(col("u"), col("v"))
        .agg((max(when(col("fwd"), 1).otherwise(0))
          + max(when(col("fwd"), 0).otherwise(2))).as("code"))
        .repartition(numPartitions, col("u")), eager = true)

    // dyad census + per-vertex incident-dyad type counts
    val dyadRow = codes.agg(
      count(lit(1)).as("conn"),
      sum(when(col("code") === 3, 1L).otherwise(0L)).as("mutual")).first()
    val connDyads = BigInt(dyadRow.getLong(0))
    val mDyads = BigInt(dyadRow.getLong(1))
    val aDyads = connDyads - mDyads

    // o/i/m per vertex: out-only, in-only, mutual incident dyads
    val inc = codes.select(col("u").as("id"),
        when(col("code") === 3, "m").when(col("code") === 1, "o")
          .otherwise("i").as("t"))
      .unionByName(codes.select(col("v").as("id"),
        when(col("code") === 3, "m").when(col("code") === 2, "o")
          .otherwise("i").as("t")))
    val vc = Superstep.freshCheckpoint(
      inc.groupBy(col("id")).agg(
        sum(when(col("t") === "o", 1L).otherwise(0L)).as("o"),
        sum(when(col("t") === "i", 1L).otherwise(0L)).as("i"),
        sum(when(col("t") === "m", 1L).otherwise(0L)).as("m"))
        .repartition(numPartitions, col("id")), eager = true)

    // wedge-bucket totals (adjacent-dyad pairs at their shared vertex);
    // star binomials in DECIMAL — o(o−1) passes 2⁶³ at o > 4.3·10⁹.
    // The /2 halvings happen driver-side in BigInt.
    def dec(c: Column): Column = c.cast(Dec)
    val wRow = vc.agg(
      sum(dec(col("o")) * (col("o") - 1)).as("dd2"),   // 2·Σ C(o,2)
      sum(dec(col("i")) * (col("i") - 1)).as("uu2"),   // 2·Σ C(i,2)
      sum(dec(col("o")) * col("i")).as("oc"),          // Σ o·i
      sum(dec(col("m")) * col("o")).as("mu"),          // Σ m·o → 111U
      sum(dec(col("m")) * col("i")).as("md"),          // Σ m·i → 111D
      sum(dec(col("m")) * (col("m") - 1)).as("mm2"))   // 2·Σ C(m,2)
      .first()
    def big(r: Row, idx: Int): BigInt =
      if (r.isNullAt(idx)) BigInt(0) else BigInt(r.getDecimal(idx).toBigInteger)
    val w021D = big(wRow, 0) / 2; val w021U = big(wRow, 1) / 2
    val w021C = big(wRow, 2)
    val w111U = big(wRow, 3); val w111D = big(wRow, 4)
    val w201 = big(wRow, 5) / 2

    // ── closed triads: classify each triangle by its 3 dyad codes ──
    // ONE checkpointed enumeration feeds both the classification and
    // the per-pair triangle support
    val und = codes.select(col("u").as("src"), col("v").as("dst"))
    val tri = Superstep.freshCheckpoint(
      Triangles.enumerate(und, numPartitions), eager = true)
    // join each triangle corner pair against the canonical code table;
    // the code is then re-expressed x-first: bit 1 = x→y, bit 2 = y→x
    def keyed(t: DataFrame, x: String, y: String, alias: String): DataFrame =
      t.join(codes.select(col("u"), col("v"), col("code").as(alias))
          .hint("shuffle_hash"),
        least(col(x), col(y)) === col("u") &&
          greatest(col(x), col(y)) === col("v"))
        .drop("u", "v")
    // enumerate() returns (u, v, w); rename to corner columns first
    val t0 = tri.select(col("u").as("x"), col("v").as("y"), col("w").as("z"))
    def orient(code: Column, first: Column, second: Column): Column =
      when(first < second, code)
        .otherwise(when(code === 3, 3).otherwise(lit(3) - code))
    val coded = keyed(keyed(keyed(t0, "x", "y", "cxyRaw"),
        "x", "z", "cxzRaw"), "y", "z", "cyzRaw")
      .select(
        orient(col("cxyRaw"), col("x"), col("y")).as("xy"),
        orient(col("cxzRaw"), col("x"), col("z")).as("xz"),
        orient(col("cyzRaw"), col("y"), col("z")).as("yz"))

    def bit1(c: Column): Column = c.bitwiseAND(1) =!= 0 // first → second
    def bit2(c: Column): Column = c.bitwiseAND(2) =!= 0 // second → first
    def flip(c: Column): Column = when(c === 3, 3).otherwise(lit(3) - c)

    val nm = (when(col("xy") === 3, 1).otherwise(0)
      + when(col("xz") === 3, 1).otherwise(0)
      + when(col("yz") === 3, 1).otherwise(0))

    // nm = 1: z→members both ⇒ 120D, members→z both ⇒ 120U, else 120C
    def m1(zToA: Column, zToB: Column, aToZ: Column, bToZ: Column): Column =
      when(zToA && zToB, "120D").when(aToZ && bToZ, "120U").otherwise("120C")
    val outX = when(bit1(col("xy")), 1).otherwise(0) +
      when(bit1(col("xz")), 1).otherwise(0)
    val outY = when(bit2(col("xy")), 1).otherwise(0) +
      when(bit1(col("yz")), 1).otherwise(0)
    val outZ = when(bit2(col("xz")), 1).otherwise(0) +
      when(bit2(col("yz")), 1).otherwise(0)
    val ttype = when(nm === 3, "300")
      .when(nm === 2, "210")
      .when(nm === 1,
        when(col("xy") === 3, // members x,y; third z
          m1(bit2(col("xz")), bit2(col("yz")), bit1(col("xz")), bit1(col("yz"))))
        .when(col("xz") === 3, // members x,z; third y
          m1(bit2(col("xy")), bit1(col("yz")), bit1(col("xy")), bit2(col("yz"))))
        .otherwise( // members y,z; third x
          m1(bit1(col("xy")), bit1(col("xz")), bit2(col("xy")), bit2(col("xz")))))
      // all-asym: a directed 3-cycle iff every corner has in-triad
      // out-degree exactly 1
      .when(outX === 1 && outY === 1 && outZ === 1, "030C")
      .otherwise("030T")

    // per-corner wedge class (corner-first codes a, b) for the
    // open-wedge correction
    def wedgeClass(a: Column, b: Column): Column =
      when(a === 3 && b === 3, "201")
        .when(a === 3, when(bit1(b), "111U").otherwise("111D"))
        .when(b === 3, when(bit1(a), "111U").otherwise("111D"))
        .when(bit1(a) && bit1(b), "021D")
        .when(bit2(a) && bit2(b), "021U")
        .otherwise("021C")

    val classified = Superstep.freshCheckpoint(
      coded.select(ttype.as("ttype"),
        array(
          wedgeClass(col("xy"), col("xz")),                 // corner x
          wedgeClass(flip(col("xy")), col("yz")),           // corner y
          wedgeClass(flip(col("xz")), flip(col("yz")))      // corner z
        ).as("wedges")), eager = true)

    val closedCounts: Map[String, BigInt] =
      classified.groupBy(col("ttype")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
    val wedgeCorr: Map[String, BigInt] =
      classified.select(explode(col("wedges")).as("wc"))
        .groupBy(col("wc")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap

    // ── single-dyad triads: third vertices adjacent to NEITHER
    // endpoint = n−2 − (dᵤ−1) − (dᵥ−1) + common(u,v) per dyad ──
    val deg = vc.select(col("id"), (col("o") + col("i") + col("m")).as("d"))
    // per-pair triangle support: enumerate() orients by DEGREE, so all
    // three pairs must be re-canonicalized by id before grouping
    val support = tri
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("comm"))
    val sdRow = codes
      .join(deg.select(col("id").as("u"), col("d").as("du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv"))
        .hint("shuffle_hash"), Seq("v"))
      .join(support.hint("shuffle_hash"), Seq("u", "v"), "left")
      .select((col("code") === 3).as("isM"),
        (dec(col("du")) + col("dv") - 2).as("dsum"),
        coalesce(col("comm"), lit(0L)).cast(Dec).as("comm"))
      .groupBy(col("isM"))
      .agg(sum(col("dsum")).as("dsum"), sum(col("comm")).as("comm"))
      .collect().map(r => r.getBoolean(0) -> (big(r, 1), big(r, 2))).toMap
    def singleDyad(cnt: BigInt, row: Option[(BigInt, BigInt)]): BigInt = {
      val (dsum, comm) = row.getOrElse((BigInt(0), BigInt(0)))
      cnt * (n - 2) - dsum + comm
    }
    val c012 = singleDyad(aDyads, sdRow.get(false))
    val c102 = singleDyad(mDyads, sdRow.get(true))

    def closed(t: String): BigInt = closedCounts.getOrElse(t, BigInt(0))
    def corr(t: String): BigInt = wedgeCorr.getOrElse(t, BigInt(0))
    val counts: Map[String, BigInt] = Map(
      "030T" -> closed("030T"), "030C" -> closed("030C"),
      "120D" -> closed("120D"), "120U" -> closed("120U"),
      "120C" -> closed("120C"), "210" -> closed("210"),
      "300" -> closed("300"),
      "021D" -> (w021D - corr("021D")), "021U" -> (w021U - corr("021U")),
      "021C" -> (w021C - corr("021C")),
      "111D" -> (w111D - corr("111D")), "111U" -> (w111U - corr("111U")),
      "201" -> (w201 - corr("201")),
      "012" -> c012, "102" -> c102)
    val totalTriples = n * (n - 1) * (n - 2) / 6
    val c003 = totalTriples - counts.values.sum
    require(c003 >= 0 && counts.values.forall(_ >= 0),
      s"triad census identity violated: n=$n counts=${counts + ("003" -> c003)}")

    val all = counts + ("003" -> c003)
    val rows = AllTypes.map(t =>
      Row(t, new java.math.BigDecimal(all(t).bigInteger)))
    val schema = StructType(Seq(
      StructField("triad", StringType, nullable = false),
      StructField("cnt", DecimalType(38, 0), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }
}
