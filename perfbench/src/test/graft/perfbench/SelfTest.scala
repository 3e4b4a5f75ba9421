package graft.perfbench

import java.nio.file.Paths

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.algo.ConnectedComponents

/** Tests of the benchmark's own code (tracer, output checks, ledger).
  *
  *   graft.perfbench.SelfTest <work-dir>     (run.py --selftest)
  *
  * Prints one `ok`/`FAIL` line per test; exits 1 if any failed.
  */
object SelfTest {
  // scalastyle:off println
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    Try(body).fold(
      e => { failures += 1; println(s"FAIL $name: $e") },
      _ => println(s"ok   $name"))

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def out(digests: Map[String, String], ranks: Array[Double]) =
    RepOut(digests, Map.empty, Some(PageRankOut(iterations = 5, converged = true, mass = ranks.sum,
      seconds = 1.0, edges = 4L, ranks = ranks)))

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Main.session(2, Paths.get(args(0)))
    import spark.implicits._
    val sc = spark.sparkContext

    test("tracer files a known job, its tasks and shuffle under the span that ran it") {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      spark.range(0, 100, 1, 2).count() // outside any span: ignored
      t.span("algo.cc")(spark.range(0, 1000, 1, 4).repartition(3).count())
      t.span("graph.semantic")(spark.range(0, 10, 1, 1).collect())
      val st = t.stats()
      sc.removeSparkListener(t)
      expect(st.keySet == Set("algo.cc", "graph.semantic"), s"spans ${st.keySet}")
      val cc = st("algo.cc")
      expect(cc.jobs >= 1 && cc.jobWallS.size == cc.jobs, s"cc jobs ${cc.jobs}")
      // 4 map tasks write the shuffle that the 3 reduce tasks read
      expect(cc.tasks >= 7, s"cc tasks ${cc.tasks}")
      expect(cc.shuffleWriteB > 0 && cc.shuffleReadB > 0, "cc shuffle bytes missing")
      expect(cc.wallS > 0, s"cc wall ${cc.wallS}")
      val g = st("graph.semantic")
      expect(g.jobs == 1 && g.tasks == 1 && g.shuffleWriteB == 0, s"semantic ${g.jobs}/${g.tasks}")
    }

    test("a layer call that throws is counted as failed, not skipped") {
      val l = new Ledger
      l.call("algo.lpa", None)(1)
      val t = new Tracer(sc)
      val thrown = Try(l.call("algo.cc", Some(t))(throw new IllegalStateException("boom")))
      expect(thrown.failed.toOption.exists(_.isInstanceOf[LayerFailed]), s"got $thrown")
      expect(l.attempted == 2 && l.failed == 1, s"attempted ${l.attempted} failed ${l.failed}")
      expect(l.errors.exists(_.startsWith("algo.cc")), s"errors ${l.errors}")
      expect(t.stats()("algo.cc").wallS >= 0.0, "span not closed")
    }

    test("component invariants and digests reject one flipped CC label") {
      val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
      val cc = ConnectedComponents.run(spark, edges, None, 2)
      expect(Check.componentViolations(edges, cc) == 0, "correct CC flagged")
      val flipped = cc.selectExpr("id", "IF(id = 3, 4L, component) AS component")
      expect(Check.componentViolations(edges, flipped) > 0, "flipped label accepted")
      val want = Check.pairs(cc, "component")
      val got = Check.pairs(flipped, "component")
      expect(got != want, "digest blind to the flip")

      val l = new Ledger
      val ranks = Array(0.25, 0.25, 0.5)
      expect(Main.compare(l, "same", out(Map("cc" -> want), ranks), Map("cc" -> want), Some(ranks)),
        "identical outputs rejected")
      expect(!Main.compare(l, "flip", out(Map("cc" -> got), ranks), Map("cc" -> want), Some(ranks)),
        "flipped digest accepted")
      expect(!Main.compare(l, "rank", out(Map("cc" -> want), ranks.map(_ + 1e-5)),
        Map("cc" -> want), Some(ranks)), "perturbed ranks accepted")
      expect(l.failed == 2, s"failed ${l.failed}")
    }

    test("ranks compare allclose at 1e-6, not tighter") {
      val want = Array(0.25, 0.25, 0.5)
      expect(Check.firstRankMismatch(want.map(_ + 9e-7), want) == -1, "9e-7 rejected")
      expect(Check.firstRankMismatch(Array(0.25, 0.25 + 2e-6, 0.5), want) == 1, "2e-6 accepted")
      expect(Check.firstRankMismatch(want.take(2), want) == 2, "short rank vector accepted")
    }

    spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
