package graft.perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.algo.Superstep
import graft.extract.Extractor

/** Closed-loop engine benchmark: one client, one job at a time.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work-dir <dir> --goldens <dir> [--write-goldens]
  *
  * Sets up the workload's inputs three times (median = setup time), runs
  * one cold rep, then warm reps until `--seconds` have passed (at least
  * [[MinWarm]]). Every rep's outputs are checked; the last stdout line
  * is the JSON result. `--trace 1` alternates untraced and traced warm
  * reps and reports the per-layer metrics of the traced ones.
  */
object Main {
  val DefaultSeed = 42L
  val SetupReps = 3
  val MinWarm = 1
  /** A traced run skips its closing untraced rep after this many seconds,
    * so that a slow machine still finishes well inside the run limit.
    */
  val ClosingRepBudgetS = 100.0

  // scalastyle:off println
  private def say(s: String): Unit = println(s"[perfbench] $s")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, workDir: Path): SparkSession = {
    // Bench.buildSession's settings, except: scratch space under workDir,
    // and one shuffle partition per core (Bench floors it at 8; on a
    // small machine the second task wave is pure scheduling overhead)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        workDir: Path, goldens: Path, writeGoldens: Boolean)

  def parse(args: Array[String]): Args = {
    val writeGoldens = args.contains("--write-goldens")
    val rest = args.filterNot(_ == "--write-goldens")
    require(rest.length % 2 == 0 && rest.grouped(2).forall(_.head.startsWith("--")),
      s"bad arguments: ${args.mkString(" ")}")
    val kv = rest.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    Args(kv("workload"), kv.get("seed").map(_.toLong).getOrElse(DefaultSeed),
      kv.get("seconds").map(_.toDouble).getOrElse(10.0),
      kv.get("trace").contains("1"), Paths.get(kv("work-dir")), Paths.get(kv("goldens")),
      writeGoldens)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--catalog"))) { println(Catalog.json); return }
    val started = System.nanoTime()
    val a = parse(argv)
    val w = Workload.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    say(s"workload=${w.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=$cores")

    val (spark, sessionS) = Bench.time(session(cores, a.workDir))
    val setups = (1 to SetupReps).map { i =>
      val (in, dt) = Bench.time(w.setup(spark, a.seed))
      say(f"setup $i: $dt%.3f s")
      (in, dt)
    }
    setups.init.foreach(_._1.frames.foreach(Superstep.freeCheckpoint))
    val inputs = setups.last._1
    val setupS = sessionS + median(setups.map(_._2))
    say(f"session start $sessionS%.3f s; setup_s = session + median setup = $setupS%.3f s")

    val ledger = new Ledger
    val runner = new RepRunner(spark, inputs, ledger, a.workDir.resolve("supersteps"))
    val gc = new Superstep.CheckpointGC(spark) // the inputs predate it and survive
    var repNo = 0
    val outs = mutable.ArrayBuffer.empty[RepOut]

    /** One rep with hygiene: fresh marker scan, every checkpoint the
      * previous rep pinned freed. Returns wall time, or None if a layer
      * call failed (already counted by the ledger).
      */
    def rep(label: String, tracer: Option[Tracer]): Option[(Double, RepOut)] = {
      inputs match {
        case CorpusInput(c) => Extractor.evictMarkers(c)
        case _ => ()
      }
      gc.close(0)
      repNo += 1
      val (s0, j0) = Bench.cpuJiffies()
      val t0 = System.nanoTime()
      val r = try Some(runner.run(tracer, repNo)) catch {
        case e: LayerFailed => say(s"rep $label: ${e.getMessage}"); None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val (s1, j1) = Bench.cpuJiffies()
      val steal = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
      say(f"rep $label%-12s $dt%8.3f s   steal $steal%5.1f %%")
      r.foreach(outs += _)
      r.map(dt -> _)
    }

    if (a.writeGoldens) {
      rep("golden", None).foreach { case (_, o) => Check.writeGolden(a.goldens, w.name, a.seed, o) }
      say(s"wrote goldens for ${w.name} at seed ${a.seed} to ${a.goldens}")
      spark.stop()
      return
    }

    val cold = rep("cold", None)
    val warm = mutable.ArrayBuffer.empty[(Double, RepOut)]
    val traced = mutable.ArrayBuffer.empty[(Double, RepOut, Map[String, SpanStats])]
    val tWarm = System.nanoTime()
    def elapsed = (System.nanoTime() - tWarm) / 1e9
    var n = 0
    while (n < MinWarm || elapsed < a.seconds) {
      n += 1
      warm ++= rep(s"warm $n", None)
      if (a.trace) {
        val t = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        val r = rep(s"traced $n", Some(t))
        val st = t.stats()
        spark.sparkContext.removeSparkListener(t)
        r.foreach { case (dt, o) => traced += ((dt, o, st)) }
      }
    }
    // close the bracket: each traced rep sits between two untraced ones,
    // so JIT warm-up does not bias trace.overhead_frac
    if (a.trace && (System.nanoTime() - started) / 1e9 < ClosingRepBudgetS)
      warm ++= rep(s"warm ${n + 1}", None)
    gc.close(0)

    val correct = checkOutputs(a, w, ledger, outs.toSeq)
    val jobS = median(warm.map(_._1).toSeq)
    val metrics: Seq[(MetricDef, Double)] =
      if (!a.trace) {
        Catalog.endToEnd.map(m => m -> (m.name match {
          case "job_s" => jobS
          case "cold_job_s" => cold.map(_._1).getOrElse(0.0)
          case "peak_rss_mb" => peakRssMb()
          case "setup_s" => setupS
        }))
      } else {
        val perRep = traced.map { case (dt, o, st) => Layers.metrics(st, dt, o, cores) }
        val overhead = if (jobS > 0) median(traced.map(_._1).toSeq) / jobS - 1.0 else 0.0
        Catalog.perLayer.map(m => m -> (
          if (m.name == "trace.overhead_frac") overhead
          else median(perRep.map(_.getOrElse(m.name, 0.0)).toSeq)))
      }

    say(s"ops attempted=${ledger.attempted} failed=${ledger.failed} " +
      f"ops_failed_frac=${ledger.failed.toDouble / math.max(ledger.attempted, 1L)}%.4f")
    ledger.errors.take(20).foreach(e => say(s"FAILED $e"))
    metrics.foreach { case (m, v) =>
      say(f"${m.name}%-36s ${v}%16.6f ${m.unit}%-13s (${m.better} is better)")
    }
    spark.stop()

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (m, v) =>
      s""""${m.name}":{"value":${num(v)},"unit":"${m.unit}"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${correct && ledger.failed == 0},"attempted":${math.max(ledger.attempted, 1L)},""" +
      s""""failed":${ledger.failed},"metrics":$ms}""")
  }

  /** Check every rep: seed-independent invariants; agreement with the
    * first rep; at the default seed, agreement with the goldens.
    * Each check is one ledger op. Prints the first rep's digests.
    */
  def checkOutputs(a: Args, w: Workload, ledger: Ledger, outs: Seq[RepOut]): Boolean = {
    if (outs.isEmpty) return ledger.check("any rep completed", ok = false, "no rep completed")
    val ref = outs.head
    ref.digests.toSeq.sorted.foreach { case (k, v) => say(s"digest $k = $v") }
    val golden = if (a.seed == DefaultSeed) Check.readGolden(a.goldens, w.name) else None
    say(s"output check (seed ${a.seed}): invariants, agreement with rep 1" +
      golden.fold("")(_ => ", goldens"))
    if (a.seed == DefaultSeed && golden.isEmpty)
      ledger.check("goldens present", ok = false, s"no goldens for ${w.name} in ${a.goldens}")
    outs.zipWithIndex.map { case (o, i) =>
      val tag = s"rep ${i + 1}"
      val invariants = o.pagerank.toSeq.flatMap(pr => Seq(
        ledger.check(s"$tag pagerank converged", pr.converged),
        ledger.check(s"$tag pagerank mass", math.abs(pr.mass - 1.0) <= Check.RankTol,
          s"mass ${pr.mass}"))) ++
        o.violations.toSeq.sorted.map { case (k, n) =>
          ledger.check(s"$tag $k invariants", n == 0, s"$n violations") }
      invariants ++
        Seq(compare(ledger, s"$tag vs rep 1", o, ref.digests, ref.pagerank.map(_.ranks))) ++
        golden.map(g => compare(ledger, s"$tag vs golden", o, g.digests, g.ranks))
    }.forall(_.forall(identity))
  }

  private[perfbench] def compare(ledger: Ledger, tag: String, o: RepOut,
                                 digests: Map[String, String],
                                 ranks: Option[Array[Double]]): Boolean = {
    val diff = (o.digests.keySet ++ digests.keySet).toSeq.sorted
      .filter(k => o.digests.get(k) != digests.get(k))
    val rankOk = ranks.forall { want =>
      val mismatch = o.pagerank.fold(0)(pr => Check.firstRankMismatch(pr.ranks, want))
      ledger.check(s"$tag pagerank ranks", mismatch < 0,
        s"rank $mismatch differs by more than ${Check.RankTol}")
    }
    ledger.check(s"$tag digests", diff.isEmpty, s"differ: ${diff.mkString(", ")}") && rankOk
  }
}

/** Per-layer metrics of one traced rep. */
object Layers {
  def metrics(st: Map[String, SpanStats], repWallS: Double, o: RepOut,
              cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def get(s: String) = st.getOrElse(s, new SpanStats)
    Catalog.spans.foreach { s =>
      val x = get(s)
      m(s"$s.wall_s") = x.wallS
      m(s"$s.cpu_s") = x.cpuS
      m(s"$s.shuffle_write_mb") = x.shuffleWriteB / 1e6
      m(s"$s.jobs") = x.jobs
    }
    Catalog.roots.foreach { r =>
      val x = new SpanStats
      st.foreach { case (k, v) => if (k.startsWith(r + ".")) x.add(v) }
      m(s"$r.gc_s") = x.gcS
      m(s"$r.spill_mb") = x.spillB / 1e6
      m(s"$r.shuffle_read_mb") = x.shuffleReadB / 1e6
      m(s"$r.output_mb") = x.outputB / 1e6
      m(s"$r.tasks") = x.tasks.toDouble
      m(s"$r.failed_tasks") = x.failedTasks.toDouble
      m(s"$r.busy_frac") = if (x.wallS > 0) x.runS / (x.wallS * cores) else 0.0
    }
    def jobMedian(s: String) = {
      val j = get(s).jobWallS.sorted
      if (j.isEmpty) 0.0 else j(j.size / 2)
    }
    o.pagerank.foreach { pr =>
      m("algo.pagerank.edge_iters_per_s") = pr.edges.toDouble * pr.iterations / pr.seconds
      m("algo.pagerank.iterations") = pr.iterations
    }
    m("algo.lpa.iterations") = o.lpaIterations
    m("algo.pagerank.superstep_s") = jobMedian("algo.pagerank")
    m("algo.cc.superstep_s") = jobMedian("algo.cc")
    m("algo.lpa.superstep_s") = jobMedian("algo.lpa")
    m("normalize.entities_out") = o.entitiesOut.toDouble
    m("normalize.edges_out") = o.edgesOut.toDouble
    m("trace.coverage_frac") = st.values.map(_.wallS).sum / repWallS
    m("check.wall_s") = get("check").wallS
    m.toMap
  }
}
