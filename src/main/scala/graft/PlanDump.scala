package graft

import org.apache.spark.sql.functions._

import graft.algo.{ModularityRefine, Superstep}
import graft.curation.Curation
import graft.dedup.Dedup
import graft.sim.Similarity

/** Diagnostic: dump the physical plans of the scale-critical operators
  * (the shapes PlanSpec pins) — source for PLANS.md.
  */
object PlanDump {
  // scalastyle:off println
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("4")
    import spark.implicits._

    def dump(title: String)(plan: => String): Unit = {
      println(s"\n════ $title ════")
      println(plan)
    }

    val docs = (0L until 200L)
      .map(i => (i, s"doc text body $i with words " + ("x" * (i % 17).toInt)))
      .toDF("doc_id", "text")
    val vecs = (0L until 120L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")

    Superstep.withoutAQE(spark) {
      val P = 4
      val e = (0L until 60L).map(i => (i, (i + 1) % 60, 1L)).toDF("src", "dst", "w")
        .repartition(P, col("src"))
      val deg = e.groupBy(col("src").as("id")).agg(sum("w").as("k"))
        .repartition(P, col("id"))
      val labels = (0L until 60L).map(i => (i, i)).toDF("id", "community")
        .repartition(P, col("id"))
      dump("ModularityRefine.scoreRound (one local-move phase)") {
        ModularityRefine.scoreRound(e, labels, deg, 120L, P, 0)
          .queryExecution.executedPlan.toString
      }
    }

    dump("Dedup.minHashNearDups (capped LSH, verify join)") {
      Dedup.minHashNearDups(docs, threshold = 0.7)
        .queryExecution.executedPlan.toString
    }
    dump("Similarity.bruteForceTopK (bounded map-side top-k)") {
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") % 40 === 0), k = 3)
        .queryExecution.executedPlan.toString
    }
    dump("Curation.packSequences (distributed prefix sum)") {
      Curation.packSequences(docs, budget = 64, bucketSize = 16)
        .queryExecution.executedPlan.toString
    }

    // ── round-3 additions: heavy hitters / quantiles / weighted matching ──

    dump("HeavyHitters pass 1 (MG candidate aggregation to one row)") {
      val items = docs.select(explode(split(col("text"), " ")).as("item"))
      items.agg(graft.functions.mg_candidates(col("item"), 64),
          count(lit(1)))
        .queryExecution.executedPlan.toString
    }
    dump("HeavyHitters pass 2 (broadcast candidate confirm)") {
      val items = docs.select(explode(split(col("text"), " ")).as("item"))
      graft.text.HeavyHitters.frequentItems(items, "item", denom = 16)
        .queryExecution.executedPlan.toString
    }
    dump("Quantiles.groupQuantiles (grouped count + per-group cumsum)") {
      graft.curation.Quantiles.groupQuantiles(
          docs.withColumn("grp", pmod(col("doc_id"), lit(3L)))
            .withColumn("len", length(col("text"))),
          "grp", "len", 1, 2)
        .queryExecution.executedPlan.toString
    }
    Superstep.withoutAQE(spark) {
      val ew = (0L until 60L).map(i => (i, (i + 1) % 60, 1L + (i % 7)))
        .toDF("u", "v", "w")
        .withColumn("k", graft.algo.Matching.edgeKey(col("u"), col("v")))
        .repartition(4, col("u"))
      dump("Matching.runWeighted round (vmax agg + candidate join)") {
        val vmax = ew.select(col("u").as("vid"), col("w"))
          .unionAll(ew.select(col("v").as("vid"), col("w")))
          .groupBy(col("vid")).agg(max(col("w")).as("mw"))
        ew.join(vmax.select(col("vid").as("u"), col("mw").as("mu"))
            .hint("shuffle_hash"), Seq("u"))
          .join(vmax.select(col("vid").as("v"), col("mw").as("mv"))
            .hint("shuffle_hash"), Seq("v"))
          .filter(col("w") >= col("mu") && col("w") >= col("mv"))
          .queryExecution.executedPlan.toString
      }
    }
    // ── round-3 final: h-index round + bounded sampling ──
    Superstep.withoutAQE(spark) {
      val e = (0L until 60L).map(i => (i, (i + 1) % 60)).toDF("src", "dst")
        .repartition(4, col("src"))
      val st = (0L until 60L).map(i => (i, 2L)).toDF("id", "c")
      dump("Coreness.hIndexRound (histogram + distinct-value window)") {
        graft.algo.Coreness.hIndexRound(e, st)
          .queryExecution.executedPlan.toString
      }
      val sym = graft.graph.GraphOps.symmetrize(e)
      dump("NeighborSampling.negativeSample (bounded_topk keep)") {
        graft.graph.NeighborSampling.negativeSample(spark, sym,
          (0L until 60L by 10L).toDF("id"), k = 3, numPartitions = 4)
          .queryExecution.executedPlan.toString
      }
    }
    // ── connected components: one star round as the loop composes it ──
    Superstep.withoutAQE(spark) {
      // the loop's state: a checkpoint partitioned by the last distinct
      val e = Superstep.freshCheckpoint(
        (0L until 80L).map(i => (i, (i * 3 + 1) % 80)).toDF("src", "dst")
          .repartition(4, col("src"), col("dst")), eager = true)
      dump("ConnectedComponents round (smallStar(largeStar(e)))") {
        val cc = graft.algo.ConnectedComponents
        cc.smallStar(cc.largeStar(e)).queryExecution.executedPlan.toString
      }
    }
    // ── round-5: ANN family (PLANS.md §13) ──
    dump("KnnGraph round (candidate self-join + bounded top-k merge)") {
      val nb0 = graft.sim.KnnGraph.run(spark, vecs, k = 3, rounds = 0).neighbors
      val pts = vecs.select(col("vec_id").as("id"),
        graft.sim.Coreset.intVec(col("embedding"), 100000L).as("iv"))
        .localCheckpoint(true)
      graft.sim.KnnGraph.roundStage(nb0, pts, k = 3, revCap = 3)
        ._1.queryExecution.executedPlan.toString
    }
    dump("KnnGraph.search hop (beam expand + bounded top-beam)") {
      val g = graft.sim.KnnGraph.run(spark, vecs, k = 3, rounds = 0).neighbors
      graft.sim.KnnGraph.search(vecs, g,
        vecs.filter(col("vec_id") % 40 === 0), k = 3, beam = 5, rounds = 1)
        .queryExecution.executedPlan.toString
    }
    spark.stop()
  }
  // scalastyle:on println
}
