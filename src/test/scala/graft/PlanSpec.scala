package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{ModularityRefine, Superstep}
import graft.dedup.Dedup
import graft.sim.Similarity

/** Plan-shape gates for the scale-critical operators: these assert the
  * PLAN the optimizer actually produces, not just the output — a
  * regression that silently re-introduces a window sort or drops a
  * parquet pushdown changes the 100 TB cost model without failing any
  * value-level test (VERDICT r1/r2 scale audit items).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def logicalWindows(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.size

  private lazy val docs = (0L until 200L)
    .map(i => (i, s"doc text body $i with words " + ("x" * (i % 17).toInt))).toDF("doc_id", "text")

  private lazy val vecs = (0L until 120L)
    .map(i => (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)))
    .toDF("vec_id", "embedding")

  test("ivfAssign plans with no Window and no shuffle on the corpus side (VERDICT r2 #6)") {
    val centroids = vecs.filter(col("vec_id") % 10 === 0)
    val assigned = Similarity.ivfAssign(vecs, centroids)
    assert(logicalWindows(assigned) === 0, "assignment must be a broadcast argmax, not a row_number window")
    // physical: every shuffle sits under a broadcast subtree (the tiny
    // collect_list agg of the centroid set), never on the corpus rows
    val phys = assigned.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"window in physical plan:\n$phys")
  }

  test("inducedSample: filter-only plan — no join, no exchange, no window") {
    val e = (0L until 100L).map(i => (i, (i * 3 + 1) % 100)).toDF("src", "dst")
    val s = graft.graph.GraphOps.inducedSample(e, num = 1, den = 4, salt = 7L)
    val phys = s.queryExecution.executedPlan.toString
    assert(!phys.contains("Join"), s"sampler must not join a side table:\n$phys")
    assert(!phys.contains("Exchange"), s"sampler must not shuffle:\n$phys")
    assert(!phys.contains("Window"), s"sampler must not window:\n$phys")
  }

  test("minhash bucket cap plans with no Window (groupBy+broadcast hot-bucket form)") {
    val pairs = Dedup.minHashNearDups(docs, threshold = 0.7)
    assert(logicalWindows(pairs) === 0, "bucket cap must not window-sort the banded entries")
  }

  test("NN-Descent graph + beam search plan with no Window (bounded per-key top-k)") {
    val g = graft.sim.KnnGraph.run(spark, vecs, k = 3, rounds = 1)
    assert(logicalWindows(g.neighbors) === 0,
      "knn merge must be the array_sort+slice aggregate, not a row_number window")
    val hits = graft.sim.KnnGraph.search(vecs, g.neighbors,
      vecs.filter(col("vec_id") % 40 === 0), k = 3, beam = 5, rounds = 1)
    assert(logicalWindows(hits) === 0,
      "beam selection must be the bounded aggregate, not a window rank")
  }

  test("brute-force top-k plans with no Window (bounded map-side aggregate)") {
    val queries = vecs.filter(col("vec_id") % 40 === 0)
    val topk = Similarity.bruteForceTopK(vecs, queries, k = 3)
    assert(logicalWindows(topk) === 0, "top-k must use the bounded aggregate, not a global window rank")
  }

  test("skipGramPairs: no join, no window — one exchange for the count agg") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("start", LongType), StructField("replica", LongType),
      StructField("path", ArrayType(LongType))))
    val walks = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, 0L, Seq(1L, 2L, 3L))),
      schema)
    val pairs = graft.graph.RandomWalks.skipGramPairs(walks, window = 2)
    assert(logicalWindows(pairs) === 0, "pair generation must be a per-row HOF")
    val phys = pairs.queryExecution.executedPlan.toString
    assert(!phys.contains("Join"), s"pair generation must not self-join:\n$phys")
    val exchanges = "Exchange".r.findAllIn(phys).length
    assert(exchanges <= 1, s"expected ≤1 exchange (final agg), got $exchanges:\n$phys")
    assert(phys.contains("partial_count") || phys.contains("HashAggregate"),
      s"final agg must be map-side combinable:\n$phys")
  }

  test("modularity-refine round: edge-sized data crosses the wire exactly twice, no Window") {
    Superstep.withoutAQE(spark) {
      val P = 4
      val e = (0L until 60L).map(i => (i, (i + 1) % 60, 1L)).toDF("src", "dst", "w")
        .repartition(P, col("src"))
      val deg = e.groupBy(col("src").as("id")).agg(sum("w").as("k"))
        .repartition(P, col("id"))
      val labels = (0L until 60L).map(i => (i, i)).toDF("id", "community")
        .repartition(P, col("id"))
      val next = ModularityRefine.scoreRound(e, labels, deg, 120L, P, 0)
      assert(logicalWindows(next) === 0, "argmax must be max_by, not a window rank")
      // the scale contract: edge-sized rows cross the wire exactly
      // twice — the dst-keyed message shuffle and the partially
      // aggregated (id, cand) groupBy. Everything else is O(n) skinny
      // (state/ctot chains) and the src-side state join is
      // exchange-free (no src-keyed ENSURE_REQUIREMENTS exchange).
      val phys = next.queryExecution.executedPlan.toString
      def count(re: String) = re.r.findAllIn(phys).size
      assert(count("""Exchange hashpartitioning\(dst#""") === 1,
        s"expected exactly 1 dst-keyed message exchange:\n$phys")
      assert(count("""Exchange hashpartitioning\(id#\d+L?, cand#""") === 1,
        s"expected exactly 1 (id,cand) aggregation exchange:\n$phys")
      assert(count("""Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE""") === 0,
        s"src-side state join must be co-partitioned (no src exchange):\n$phys")
    }
  }

  test("decontaminate broadcasts the held-out gram set; no Window") {
    val held = docs.filter(col("doc_id") % 37 === 0)
    val out = graft.curation.Curation.decontaminate(docs, held, n = 3)
    assert(logicalWindows(out) === 0)
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") && phys.contains("LeftSemi"),
      s"held grams must broadcast into a semi join:\n$phys")
  }

  test("packSequences: big-side window is bucket-partitioned, offsets broadcast") {
    val out = graft.curation.Curation.packSequences(docs, budget = 64, bucketSize = 16)
    val phys = out.queryExecution.executedPlan.toString
    // exactly one window runs over corpus-sized input and it is keyed
    // by bkt (bounded width); the only unkeyed window is over the tiny
    // bucket-totals table, which then broadcasts back
    assert(logicalWindows(out) === 2)
    assert("""Window \[sum\(n_tokens#\d+L?\) windowspecdefinition\(bkt#"""
      .r.findAllIn(phys).size === 1,
      s"corpus-side cumsum must be partitioned by bkt:\n$phys")
    assert(phys.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast, not shuffle the corpus:\n$phys")
  }

  test("stratifiedSample is a pure scan: zero exchanges") {
    val out = graft.curation.Curation.stratifiedSample(
      docs.withColumn("lang", lit("en")), Map("en" -> 0.5))
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"sampling must not shuffle:\n$phys")
  }

  test("MIS neighbor-min: two-phase HashAggregate, key computed in-agg, no key-table join") {
    val e = (0L until 100L).map(i => (i, (i * 7 + 3) % 100)).toDF("src", "dst")
    val nbrMin = e.groupBy(col("src").as("id"))
      .agg(min(graft.algo.Mis.key(col("dst"))).as("mn"))
    val phys = nbrMin.queryExecution.executedPlan.toString
    assert(phys.contains("partial_min"),
      s"neighbor-min must map-side combine:\n$phys")
    assert(phys.contains("HashAggregate"),
      s"the scramble must stay on the hash-agg/codegen path (a struct or " +
        s"UDF key would fall to SortAggregate/Object path):\n$phys")
    assert(!phys.contains("Join") && !phys.contains("Window"),
      s"the priority is arithmetic on dst — no key table, no window:\n$phys")
  }

  test("Boruvka pick: partial struct-min before the comp exchange, no Window") {
    val e = (0L until 100L).map(i => (i, (i * 7 + 3) % 100, i % 13, i, (i * 7 + 3) % 100))
      .toDF("u", "v", "w", "cu", "cv")
    val bo = e.select(col("cu").as("comp"),
        struct(col("w"), col("u"), col("v"), col("cv").as("other")).as("s"))
      .unionAll(e.select(col("cv").as("comp"),
        struct(col("w"), col("u"), col("v"), col("cu").as("other")).as("s")))
    val picks = bo.groupBy(col("comp")).agg(min(col("s")).as("s"))
    val phys = picks.queryExecution.executedPlan.toString
    assert(phys.contains("partial_min"),
      s"pick must partial-aggregate (exchange carries ≤1 row/component):\n$phys")
    assert(!phys.contains("Window"), s"no window rank in the pick:\n$phys")
  }

  test("matching winner join keys stay the bare vertex id (inequality residual)") {
    // the `k <= mn` ⟺ `k = mn` rewrite in Matching: an equality filter
    // is folded into a composite (k, u) join key by Catalyst, which
    // re-exchanges the EDGE side of the winner join every round; the
    // inequality keeps the join keyed on u/v alone so the live-edge
    // frame reuses its vertex partitioning
    val e = (0L until 100L).map(i => (i, (i * 7 + 3) % 100))
      .toDF("u", "v")
      .withColumn("k", graft.algo.Matching.edgeKey(col("u"), col("v")))
      .repartition(8, col("u"))
    val vmin = e.select(col("u").as("vid"), col("k"))
      .unionAll(e.select(col("v").as("vid"), col("k")))
      .groupBy(col("vid")).agg(min(col("k")).as("mn"))
    val winners = e
      .join(vmin.select(col("vid").as("u"), col("mn").as("mu"))
        .hint("shuffle_hash"), Seq("u"))
      .join(vmin.select(col("vid").as("v"), col("mn").as("mv"))
        .hint("shuffle_hash"), Seq("v"))
      .filter(col("k") <= col("mu") && col("k") <= col("mv"))
    val phys = winners.queryExecution.executedPlan.toString
    val joinKeys = "ShuffledHashJoin \\[(\\w+)#".r
      .findAllMatchIn(phys).map(_.group(1)).toSeq
    assert(joinKeys.nonEmpty && joinKeys.forall(k => k == "u" || k == "v"),
      s"winner joins must key on the vertex id alone, got $joinKeys:\n$phys")
  }

  test("randomIndexing: no join, no window, one exchange, partial-summed") {
    val pairs = Seq((1L, 2L, 3L)).toDF("center", "context", "cnt")
    val emb = graft.graph.NodeEmbeddings.randomIndexing(pairs, dims = 4)
    assert(logicalWindows(emb) === 0)
    val phys = emb.queryExecution.executedPlan.toString
    assert(!phys.contains("Join"),
      s"signatures are computed arithmetically, never joined:\n$phys")
    val exchanges = "Exchange".r.findAllIn(phys).length
    assert(exchanges <= 1, s"expected ≤1 exchange (final agg), got $exchanges:\n$phys")
    assert(phys.contains("partial_sum"),
      s"the dims-fold explode must partial-aggregate before the exchange:\n$phys")
  }

  test("coreness h-index round: partial histogram agg, window over distinct values, no arrays") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val st = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("id", "c")
    val round = graft.algo.Coreness.hIndexRound(e, st)
    assert(logicalWindows(round) === 1,
      "exactly one window: the distinct-value cumulative count")
    val phys = round.queryExecution.executedPlan.toString
    assert(!phys.contains("collect_list"),
      s"h-index must not materialize neighbor arrays:\n$phys")
    assert(phys.contains("partial_count"),
      s"histogram agg must combine map-side:\n$phys")
  }

  test("negative sampling: bounded aggregate, no Window, no global sort") {
    val sym = graft.graph.GraphOps.symmetrize(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst"))
    val seeds = Seq(1L, 3L).toDF("id")
    val neg = graft.graph.NeighborSampling.negativeSample(
      spark, sym, seeds, k = 2, numPartitions = 4)
    assert(logicalWindows(neg) === 0,
      "per-seed keep must be the bounded aggregate, not a window rank")
    val phys = neg.queryExecution.executedPlan.toString
    assert(phys.contains("bounded_topk"), s"expected bounded_topk:\n$phys")
    assert(!phys.toLowerCase.contains("globalsort") && !phys.contains("Sort ["),
      s"no global sort may appear:\n$phys")
  }

  test("bow-tie reachability superstep: one exchange (the partial distinct), no Window, no SMJ") {
    Superstep.withoutAQE(spark) {
      val P = 4
      val e = (0L until 80L).map(i => (i, (i * 3 + 1) % 80)).toDF("src", "dst")
        .repartition(P, col("src"))
      val frontier = (0L until 10L).map(Tuple1(_)).toDF("id")
        .repartition(P, col("id"))
      val state = frontier
      val next = graft.algo.BowTie.expand(e, frontier, state)
      assert(logicalWindows(next) === 0)
      val phys = next.queryExecution.executedPlan.toString
      assert(!phys.contains("SortMergeJoin"),
        s"no sort-merge in the superstep:\n$phys")
      // the test inputs are LocalTableScans behind explicit
      // REPARTITION_BY_NUM nodes (checkpointed RDDs in the real loop),
      // so only optimizer-inserted exchanges count: exactly one — the
      // partial distinct's. The anti-join never adds its own shuffle.
      def count(re: String) = re.r.findAllIn(phys).size
      assert(count("""ENSURE_REQUIREMENTS""") === 1,
        s"only the distinct's exchange may shuffle:\n$phys")
    }
  }

  test("CC round: large-star then small-star plans three exchanges, no SMJ") {
    Superstep.withoutAQE(spark) {
      // the loop's state: a checkpoint partitioned by the previous
      // small-star's (src, dst) distinct
      val e = Superstep.freshCheckpoint(
        (0L until 80L).map(i => (i, (i * 3 + 1) % 80)).toDF("src", "dst")
          .repartition(8, col("src"), col("dst")), eager = true)
      val cc = graft.algo.ConnectedComponents
      val plan = cc.smallStar(cc.largeStar(e)).queryExecution.executedPlan
      val phys = plan.toString
      assert(!phys.contains("SortMergeJoin"), s"no sort-merge in a star round:\n$phys")
      // the keys of every shuffle the planner inserts: each star reads
      // its input once, through one src exchange, and the round ends in
      // small-star's distinct
      val keys = plan.collect {
        case x: ShuffleExchangeExec if x.shuffleOrigin == ENSURE_REQUIREMENTS =>
          x.outputPartitioning.asInstanceOf[HashPartitioning].expressions
            .flatMap(_.references.map(_.name)).mkString(", ")
      }
      assert(keys.sorted === Seq("src", "src", "src, dst"),
        s"a round: large-star's src, small-star's src, the distinct's (src, dst):\n$phys")
    }
  }

  test("LPA vote step: no SMJ; the labels-winner join adds no exchange") {
    Superstep.withoutAQE(spark) {
      val P = 8 // = spark.sql.shuffle.partitions, as in a configured run
      val e = (0L until 80L).flatMap(i => Seq((i, (i * 3 + 1) % 80), ((i * 3 + 1) % 80, i)))
        .toDF("src", "dst").repartition(P, col("src"))
      val labels = (0L until 80L).map(i => (i, i % 7)).toDF("id", "label")
        .repartition(P, col("id"))
      val next = graft.algo.LabelPropagation.vote(e, labels, None)
      assert(logicalWindows(next) === 0)
      val phys = next.queryExecution.executedPlan.toString
      assert(!phys.contains("SortMergeJoin"), s"no sort-merge in the vote step:\n$phys")
      // the inputs' own REPARTITION_BY_NUM exchanges stand in for the
      // loop's partitioned checkpoints; only the two vote aggregations
      // may shuffle — neither the edges-state nor the labels-winner join
      def count(re: String) = re.r.findAllIn(phys).size
      assert(count("""ENSURE_REQUIREMENTS""") === 2,
        s"only the (dst, label) and dst aggregations may shuffle:\n$phys")
      assert(count("""Exchange hashpartitioning\(id#\d+L?, \d+\), ENSURE""") === 0,
        s"labels-winner join must be co-partitioned:\n$phys")
    }
  }

  test("egoNetFeatures / dirichlet / repeatedSpans plan with no Window") {
    val e = (0L until 100L).map(i => (i, (i * 3 + 1) % 100)).toDF("src", "dst")
    val pairs = e.selectExpr("least(src, dst) AS src", "greatest(src, dst) AS dst").distinct()
    assert(logicalWindows(
      graft.algo.Triangles.egoNetFeatures(spark, pairs, 4)) === 0)
    val feats = (0L until 100L).map(i => (i, i % 16)).toDF("id", "x")
    assert(logicalWindows(
      graft.graph.FeatureProp.dirichlet(spark, pairs, feats, 4)) === 0)
    assert(logicalWindows(
      graft.curation.Curation.repeatedSpans(docs, n = 5)) === 0)
  }

  test("repeatedSpans: window generation is map-side, no join before the gram agg") {
    // the duplicate-hash table must come from a plain hash aggregate
    // over the exploded windows — a sort anywhere before the per-doc
    // rollup would put the token-scale frame through a comparator
    val out = graft.curation.Curation.repeatedSpans(docs, n = 5)
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("SortMergeJoin"),
      s"gram join must stay hash-based:\n$phys")
  }

  test("BPE pair counting: no window, no join — one hash-agg exchange") {
    val syms = graft.text.BpeTrain.wordCounts(docs)
      .select(graft.text.BpeTrain.initialSymbols(col("word")).as("syms"),
        col("freq"))
    val pc = graft.text.BpeTrain.pairCounts(syms)
    val phys = pc.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"pair count must not window:\n$phys")
    assert(!phys.contains("Join"), s"pair count must not join:\n$phys")
    assert(logicalWindows(pc) === 0)
  }

  test("BPE segment: map-only — no exchange, no join, no window") {
    val merges = Seq(graft.text.BpeTrain.Merge(0, "e", "s", "es", 9L),
      graft.text.BpeTrain.Merge(1, "es", "t", "est", 9L))
    val seg = docs.select(
      graft.text.BpeTrain.segment(col("text"), merges).as("syms"))
    val phys = seg.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"segment must not shuffle:\n$phys")
    assert(!phys.contains("Join") && !phys.contains("Window"),
      s"segment must be a pure projection:\n$phys")
  }

  test("kendall plans with no window; spearman windows only at value grain") {
    val df = docs.select(col("doc_id").as("a"),
      (col("doc_id") % 7).as("b"))
    val k = graft.graph.RankCorrelation.kendall(spark, df, "a", "b")
    // kendall is computed before the returned 1-row frame is built,
    // so gate the building blocks instead: the contingency pair agg
    val cells = df.groupBy(col("a"), col("b")).count()
    assert(logicalWindows(cells) === 0)
    assert(k.count() === 1L)
    val ranked = graft.graph.RankCorrelation.rank2(df, "a", "ra")
    // the one window sits over the value-grain table, not the corpus:
    // its input is the groupBy(a).count() aggregate
    assert(logicalWindows(ranked) === 1)
  }

  test("winnowing: the only window is the per-doc w-frame") {
    val fps = graft.curation.Curation.winnowing(docs)
    assert(logicalWindows(fps) === 1,
      "min+count share one per-doc window frame")
    val phys = fps.queryExecution.executedPlan.toString
    assert(!phys.contains("SortMergeJoin"),
      s"gram build must stay hash-based:\n$phys")
  }

  test("parquet scan pushes filters and prunes columns") {
    // own temp parquet, not the shared testdata file: another suite
    // caching the same read plan would substitute an InMemoryRelation
    // and hide the FileScan this test asserts on
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    docs.withColumn("lang", lit("en")).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val q = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"))
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters") && phys.contains("LessThan(doc_id,100)"),
      s"filter not pushed to scan:\n$phys")
    assert(phys.contains("ReadSchema: struct<doc_id:bigint>"),
      s"column pruning failed (scan reads more than doc_id):\n$phys")
  }
}
