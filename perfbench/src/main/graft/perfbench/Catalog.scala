package graft.perfbench

/** A reported metric: name, unit, and which direction is better. */
final case class MetricDef(name: String, unit: String, better: String)

/** Every metric the benchmark prints. End-to-end metrics come from
  * untraced runs (`--trace 0`), per-layer metrics from traced runs
  * (`--trace 1`).
  */
object Catalog {
  private def lower(n: String, u: String) = MetricDef(n, u, "lower")
  private def higher(n: String, u: String) = MetricDef(n, u, "higher")

  val endToEnd: Seq[MetricDef] = Seq(
    lower("job_s", "s"),
    lower("cold_job_s", "s"),
    lower("peak_rss_mb", "MB"),
    lower("setup_s", "s"))

  /** Leaf spans, one per layer call of a traced rep. */
  val spans: Seq[String] =
    Seq("extract.markers", "extract.entities", "extract.relationships") ++
      RepRunner.stages.map("normalize." + _._1) ++
      Seq("graph.semantic", "graph.symmetrize",
        "algo.pagerank", "algo.cc", "algo.lpa", "algo.triangles", "validate.run")

  /** Layer roots: the first component of a span name. */
  val roots: Seq[String] = Seq("extract", "normalize", "graph", "algo", "validate")

  val perLayer: Seq[MetricDef] =
    spans.flatMap(s => Seq(
      lower(s"$s.wall_s", "s"), lower(s"$s.cpu_s", "s"),
      lower(s"$s.shuffle_write_mb", "MB"), lower(s"$s.jobs", "count"))) ++
    roots.flatMap(r => Seq(
      lower(s"$r.gc_s", "s"), lower(s"$r.spill_mb", "MB"),
      lower(s"$r.shuffle_read_mb", "MB"), lower(s"$r.output_mb", "MB"),
      lower(s"$r.tasks", "count"), lower(s"$r.failed_tasks", "count"),
      higher(s"$r.busy_frac", "fraction"))) ++
    Seq(
      higher("algo.pagerank.edge_iters_per_s", "edge-iters/s"),
      lower("algo.pagerank.iterations", "count"),
      lower("algo.lpa.iterations", "count"),
      lower("algo.pagerank.superstep_s", "s"),
      lower("algo.cc.superstep_s", "s"),
      lower("algo.lpa.superstep_s", "s"),
      lower("normalize.entities_out", "count"),
      lower("normalize.edges_out", "count"),
      lower("trace.overhead_frac", "fraction"),
      higher("trace.coverage_frac", "fraction"),
      lower("check.wall_s", "s"))

  /** The metric list as JSON (`--catalog`), to compare with BENCHMARK.json. */
  def json: String = {
    def list(ms: Seq[MetricDef]) = ms.map(m =>
      s"""{"name":"${m.name}","unit":"${m.unit}","better":"${m.better}"}""")
      .mkString("[", ",", "]")
    s"""{"end_to_end":${list(endToEnd)},"per_layer":${list(perLayer)},""" +
      s""""workloads":${Workload.all.map(w => s""""${w.name}"""").mkString("[", ",", "]")}}"""
  }
}
