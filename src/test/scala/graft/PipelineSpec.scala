package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.extract.Extractor
import graft.graph.GraphOps
import graft.normalize.{Normalize, Vocab}
import graft.normalize.Normalize.Snapshot

/** End-to-end: corpus → extraction → 10-step normalization → semantic
  * graph, with the reference's validation pass-gate invariants
  * (validation/queries.py:679-688) asserted on the final snapshot.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val nFiles = 300L
  lazy val corpus = CorpusGen.corpus(spark, nFiles).cache()
  lazy val snapshot: Snapshot = {
    val s = Snapshot(Extractor.entities(corpus), Extractor.relationships(corpus))
    val out = Normalize.fullChain(s)
    Snapshot(out.entities.cache(), out.edges.cache())
  }

  test("corpus is deterministic and parallelism-invariant (sha256 manifest)") {
    val m1 = CorpusGen.manifest(corpus).orderBy("repo", "path")
      .select("content_sha256").as[String].collect()
    val m2 = CorpusGen.manifest(
      CorpusGen.corpus(spark, nFiles).repartition(13)).orderBy("repo", "path")
      .select("content_sha256").as[String].collect()
    assert(m1.length == nFiles)
    assert(m1.toSeq == m2.toSeq)
  }

  test("extraction finds entities and typed edges") {
    val ents = Extractor.entities(corpus)
    val rels = Extractor.relationships(corpus)
    assert(ents.count() > 100)
    assert(rels.count() > 100)
    assert(ents.groupBy("id").count().filter(col("count") > 1).count() == 0)
    assert(rels.filter(!col("relType").isin(model.SemanticRelTypes: _*)).count() == 0)
  }

  test("backfill precondition: extracted edges through M-1 are a set") {
    val s = Normalize.m1NormalizeNames(
      Snapshot(Extractor.entities(corpus), Extractor.relationships(corpus)))
    assert(s.edges.count() > 100)
    assert(s.edges.groupBy("src", "dst", "relType").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("validation gate: no duplicate (label,name) entities") {
    assert(snapshot.entities.groupBy("label", "name").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("validation gate: all names normalized (O-2 predicate empty)") {
    assert(snapshot.entities
      .filter(col("name") =!= Normalize.normalizedName(col("name"))).count() == 0)
  }

  test("validation gate: no generic entities survive") {
    // exception faithful to the reference's stage order: industry
    // consolidation (step 8) runs AFTER generic cleanup (step 5) and may
    // legitimately re-create a canonical industry with a generic name
    // ("saas" → "software"); the reference graph has the same end state
    assert(snapshot.entities
      .filter(lower(col("name")).isin(Vocab.GenericTermsToDelete.toSeq: _*))
      .filter(!(col("label") === "Industry" &&
        col("name").isin(Vocab.CanonicalIndustries: _*)))
      .count() == 0)
  }

  test("validation gate: industry count ≤ 19 after consolidation") {
    // queries.py:128,660: count of ALL Industry nodes must be ≤ 19
    val n = snapshot.entities.filter(col("label") === "Industry").count()
    assert(n > 0 && n <= 19, s"industry count $n")
  }

  test("validation gate: no plural/singular duplicate pairs (J-2 empty)") {
    val e = snapshot.entities.select(col("name"), col("label"))
    val singular = e.filter(!col("name").endsWith("s"))
      .select(concat(col("name"), lit("s")).as("name"), col("label"))
    assert(e.join(singular, Seq("name", "label")).count() == 0)
  }

  test("edges reference only surviving entities (no dangling endpoints)") {
    val ids = snapshot.entities.select(col("id"))
    assert(snapshot.edges.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .count() == 0)
    assert(snapshot.edges.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .count() == 0)
  }

  test("dedup stages are no-ops on the final snapshot (convergence)") {
    // the full chain is NOT idempotent by design (the reference's fixed
    // stage order lets M-6/M-7 relabels create new cross-label pairs),
    // but the gate-relevant stages must have converged:
    val m2 = Normalize.m2SameLabelDedup(snapshot)
    assert(m2.entities.count() == snapshot.entities.count())
    val m5 = Normalize.m5MergePlurals(snapshot)
    assert(m5.entities.count() == snapshot.entities.count())
  }

  test("per-row sha256 invariant: normalized snapshot is reproducible") {
    // rebuild from scratch and compare content hash of every entity row
    val rebuilt = Normalize.fullChain(
      Snapshot(Extractor.entities(corpus), Extractor.relationships(corpus)))
    def rowSha(df: org.apache.spark.sql.DataFrame) = df.select(
      sha2(concat_ws("", col("id"), col("name"),
        coalesce(col("displayName"), lit("")), col("label"),
        coalesce(col("definition"), lit("")),
        concat_ws(",", col("aliases")), concat_ws(",", col("sourceSpans"))), 256).as("sha"))
      .orderBy("sha").as[String].collect().toSeq
    assert(rowSha(snapshot.entities) == rowSha(rebuilt.entities))
  }

  test("driver smoke: SparkEntry.entry returns top-20 ranked entities") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getDouble(1) > 0.0))
    // descending by rank (ties broken by name)
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("vertex dictionary has no xxhash64 id collisions (S10-style constraint)") {
    val g = GraphOps.semanticGraph(snapshot)
    assert(GraphOps.idCollisions(g.vertices).count() == 0)
  }

  test("S8: JSON sink round-trips the entity snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    snapshot.entities.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == snapshot.entities.count())
    // array + null columns survive the round trip
    assert(back.columns.toSet.subsetOf(
      Set("id", "name", "displayName", "label", "definition", "aliases", "sourceSpans")))
  }

  test("semantic graph builds and algorithms run over it") {
    val g = GraphOps.semanticGraph(snapshot)
    val vCount = g.vertices.count()
    val eCount = g.edges.count()
    assert(vCount > 50 && eCount > 50)
    val sym = GraphOps.symmetrize(g.edges)
    val pr = algo.PageRank.run(spark, sym, numPartitions = 8)
    assert(pr.converged)
    val sum = pr.ranks.agg(org.apache.spark.sql.functions.sum("rank")).first().getDouble(0)
    assert(math.abs(sum - 1.0) < 1e-9)
    assert(pr.ranks.count() == vCount)
  }
}
