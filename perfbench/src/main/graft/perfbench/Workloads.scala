package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Superstep, Triangles}
import graft.corpus.CorpusGen
import graft.extract.Extractor
import graft.graph.GraphOps
import graft.normalize.Normalize
import graft.normalize.Normalize.Snapshot
import graft.validate.Validation

/** PageRank's outputs, reduced to plain values for the output check. */
final case class PageRankOut(iterations: Int, converged: Boolean, mass: Double,
                             seconds: Double, edges: Long, ranks: Array[Double])

/** What one rep produced, reduced to plain values for the output check.
  * `violations` counts, per invariant, the rows that break it.
  */
final case class RepOut(
    digests: Map[String, String],
    violations: Map[String, Long],
    pagerank: Option[PageRankOut] = None,
    lpaIterations: Int = 0,
    entitiesOut: Long = 0L,
    edgesOut: Long = 0L)

/** The benchmark inputs, generated once per process and reused by every
  * rep: a corpus table for the pipeline workload; directed
  * (duplicate-free) and symmetric edge tables for the graph workload.
  */
sealed trait Inputs { def frames: Seq[DataFrame] }
final case class CorpusInput(corpus: DataFrame) extends Inputs {
  def frames: Seq[DataFrame] = Seq(corpus)
}
final case class GraphInput(edges: DataFrame, sym: DataFrame) extends Inputs {
  def frames: Seq[DataFrame] = Seq(edges, sym)
}

sealed abstract class Workload(val name: String) {
  /** Synthesize and checkpoint this workload's input tables. */
  def setup(spark: SparkSession, seed: Long): Inputs
}

object Workload {

  /** Corpus → extract → 10-step normalize → semantic graph → validate:
    * the pipeline half of the user's job, bound by the number of Spark
    * jobs in the normalize chain rather than by bytes.
    */
  case object CorpusPipeline extends Workload("corpus_pipeline") {
    val files = 4000L
    val vertexScale = 40
    def setup(spark: SparkSession, seed: Long): CorpusInput = {
      val c = CorpusGen.corpus(spark, files, seed = seed, vertexScale = vertexScale)
        .localCheckpoint(true)
      c.count()
      CorpusInput(c)
    }
  }

  /** Chains with affinely scrambled ids plus a power-law core
    * (Bench's `pagerank_synth` generator): the chains give a high
    * diameter, so CC and LPA run many rounds while the hub-heavy core
    * settles early; PageRank, CC and LPA write durable `Superstep`
    * checkpoints.
    */
  case object ChainGraph extends Workload("chain_graph") {
    val chainVertices = 20000L
    val chainLength = 50L
    val coreRows = 5000L
    def setup(spark: SparkSession, seed: Long): GraphInput = {
      val e = chains(spark, chainVertices, chainLength, seed)
        .unionByName(powerlaw(spark, coreRows, seed, idBase = ChainPrime))
        .distinct().localCheckpoint(true)
      GraphInput(e, GraphOps.symmetrize(e).localCheckpoint(true))
    }
  }

  val all: Seq[Workload] = Seq(CorpusPipeline, ChainGraph)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** Chain ids live in [0, ChainPrime); the core starts above it. */
  val ChainPrime = 1000003L

  private def unit(seed: Long, k: Int): Column =
    pmod(xxhash64(col("id"), lit(k), lit(seed)), lit(1000000L)).cast("double") / 1e6

  /** `rows` directed edges over max(rows/20, 1000) vertices; each
    * endpoint is floor(v·u²) for a hashed uniform u, so low ids are hubs.
    */
  def powerlaw(spark: SparkSession, rows: Long, seed: Long, idBase: Long): DataFrame = {
    val v = math.max(rows / 20, 1000L).toDouble
    def pick(k: Int) = lit(idBase) + floor(lit(v) * unit(seed, k) * unit(seed, k)).cast("long")
    spark.range(rows).select(pick(1).as("src"), pick(2).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Vertices 0..n-1 joined i→i+1 within runs of `length`; ids are
    * scrambled by i ↦ (a·i + b) mod ChainPrime, a bijection for a ≠ 0.
    */
  def chains(spark: SparkSession, n: Long, length: Long, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val a = 1L + rnd.nextInt(Int.MaxValue) % (ChainPrime - 1)
    val b = rnd.nextInt(Int.MaxValue) % ChainPrime
    def scramble(i: Column) = pmod(i * lit(a) + lit(b), lit(ChainPrime))
    spark.range(n - 1).filter(pmod(col("id") + 1, lit(length)) =!= 0)
      .select(scramble(col("id")).as("src"), scramble(col("id") + 1).as("dst"))
  }
}

/** One rep of a workload: every layer call in job order, each output
  * materialized and reduced to a [[RepOut]]. Traced reps run each layer
  * call inside its span; the output checks run in the `check` span.
  */
final class RepRunner(spark: SparkSession, in: Inputs, ledger: Ledger, ckptRoot: Path) {
  private val P = spark.sparkContext.defaultParallelism
  /** Durable checkpoint cadence in supersteps (plus one at convergence). */
  private val CheckpointEvery = 10

  def run(tracer: Option[Tracer], repNo: Int): RepOut = in match {
    case CorpusInput(c) => pipeline(c, tracer)
    case GraphInput(e, s) =>
      // a fresh Superstep directory per rep: one that already holds
      // _LATEST would make the algorithms resume instead of run
      val dir = ckptRoot.resolve(s"rep-$repNo")
      require(!Files.exists(dir), s"superstep directory $dir is not fresh")
      try algorithms(e, s, tracer, dir) finally deleteTree(dir)
  }

  /** Extract, normalize, semantic graph, validate. Traced reps run the
    * normalize stages one by one with a materialized boundary each, so
    * every stage is its own span; untraced reps run
    * `Normalize.fullChain` as a user would.
    */
  private def pipeline(c: DataFrame, tracer: Option[Tracer]): RepOut = {
    def call[T](name: String)(body: => T): T = ledger.call(name, tracer)(body)
    val snap = tracer match {
      case None =>
        call("normalize.chain") {
          val out = Normalize.fullChain(
            Snapshot(Extractor.entities(c), Extractor.relationships(c)))
          out.entities.count(); out.edges.count()
          out
        }
      case Some(_) =>
        call("extract.markers")(
          Extractor.markers(c).write.format("noop").mode("overwrite").save())
        val ents = call("extract.entities")(Extractor.entities(c).localCheckpoint(true))
        val rels = call("extract.relationships")(Extractor.relationships(c).localCheckpoint(true))
        RepRunner.stages.foldLeft(Snapshot(ents, rels)) { case (s, (name, f)) =>
          call(s"normalize.$name")(Normalize.materialize(f(s)))
        }
    }
    val g = call("graph.semantic") {
      val gt = GraphOps.semanticGraph(snap)
      GraphOps.GraphTables(gt.vertices.localCheckpoint(true), gt.edges.localCheckpoint(true))
    }
    val sym = call("graph.symmetrize")(GraphOps.symmetrize(g.edges).localCheckpoint(true))
    val v = call("validate.run")(Validation.run(snap))
    call("check")(RepOut(
      digests = Map(
        "entities" -> Check.entityRows(snap.entities),
        "graph_vertices" -> Check.pairs(g.vertices, "name"),
        "graph_edges" -> Check.pairs(sym.withColumnRenamed("src", "id"), "dst"),
        "validation" -> Check.validation(v)),
      // M-2 merges every (name, label) duplicate, whatever the corpus
      violations = Map("duplicate entities" -> v.duplicateEntities),
      entitiesOut = snap.entities.count(),
      edgesOut = snap.edges.count()))
  }

  /** PageRank, connected components, LPA and triangles, with durable
    * checkpoints under `dir`.
    */
  private def algorithms(edges: DataFrame, sym: DataFrame, tracer: Option[Tracer],
                         dir: Path): RepOut = {
    def call[T](name: String)(body: => T): T = ledger.call(name, tracer)(body)
    def ckpt(algo: String) =
      Some(new Superstep(spark, dir.resolve(algo).toString, every = CheckpointEvery))
    val (pr, prSeconds) = call("algo.pagerank")(
      graft.Bench.time(PageRank.run(spark, sym, P, ckpt = ckpt("pagerank"))))
    val cc = call("algo.cc")(
      ConnectedComponents.run(spark, edges, None, P, ckpt = ckpt("cc")).localCheckpoint(true))
    val lpa = call("algo.lpa") {
      val r = LabelPropagation.run(spark, sym, P, maxIter = 10, ckpt = ckpt("lpa"))
      r.copy(labels = r.labels.localCheckpoint(true))
    }
    val triangles = call("algo.triangles")(
      Triangles.countTriangles(spark, sym.filter(col("src") < col("dst")), P))
    call("check") {
      val ranks = Check.ranks(pr.ranks)
      RepOut(
        digests = Map(
          "pagerank_ids" -> ranks.idDigest,
          "pagerank_iterations" -> pr.iterations.toString,
          "cc" -> Check.pairs(cc, "component"),
          "lpa" -> Check.pairs(lpa.labels, "community"),
          "triangles" -> triangles.toString),
        pagerank = Some(PageRankOut(pr.iterations, pr.converged, ranks.mass, prSeconds,
          pr.edgeCount, ranks.values)),
        violations = Map("cc" -> Check.componentViolations(edges, cc)),
        lpaIterations = lpa.iterations)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally stream.close()
  }
}

object RepRunner {
  val stages: Seq[(String, Snapshot => Snapshot)] = Seq(
    "m1" -> Normalize.m1NormalizeNames,
    "backfill" -> Normalize.backfillAppliesTo,
    "m2" -> Normalize.m2SameLabelDedup,
    "m3" -> Normalize.m3CrossLabelDedup,
    "m4" -> Normalize.m4DeleteGeneric,
    "m5" -> Normalize.m5MergePlurals,
    "m6" -> Normalize.m6IndustryConsolidation,
    "m7" -> Normalize.m7RelabelMislabeledChallenges)
}
