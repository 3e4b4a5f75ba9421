package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, expr, lit, spark_partition_id, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{BowTie, ConnectedComponents, LabelPropagation, Superstep}
import graft.graph.GraphOps

/** The superstep skeleton's stopping, resume and storage contract,
  * through the algorithms that run on it: CC raises on a cap stop, CC
  * and LPA resume from a durable checkpoint to exactly the
  * uninterrupted answer (the PageRank twin lives in ChunkValidateSpec),
  * `save` commits atomically, and the checkpoint sweeps never free a
  * frame a named root still reads.
  */
class SuperstepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 64-vertex path with scrambled ids: CC needs several star rounds
  private lazy val path: DataFrame =
    (0L until 63L).map(i => ((i * 37) % 64, ((i + 1) * 37) % 64)).toDF("src", "dst")

  private def pairs(df: DataFrame, c: String): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long](c))).toSet

  private def latest(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "_LATEST"))).trim

  test("CC raises instead of returning a half-converged labeling at maxIter") {
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, path, None, numPartitions = 4, maxIter = 1)
    }
    assert(e.getMessage.contains("raise maxIter"))
  }

  test("CC resumes from a durable checkpoint to the uninterrupted labeling") {
    val dir = Files.createTempDirectory("graft_cc_ckpt").toString
    // phase 1: stop at superstep 2 (checkpointed) — the cap stop raises
    intercept[IllegalStateException] {
      ConnectedComponents.run(spark, path, None, numPartitions = 4, maxIter = 2,
        ckpt = Some(new Superstep(spark, dir, every = 2)))
    }
    assert(latest(dir) == "2")
    // phase 2: a fresh handle on the same directory picks up superstep 2
    val resumed = ConnectedComponents.run(spark, path, None, numPartitions = 4,
      ckpt = Some(new Superstep(spark, dir, every = 2)))
    val fresh = ConnectedComponents.run(spark, path, None, numPartitions = 4)
    assert(pairs(resumed, "component") == pairs(fresh, "component"))
    assert(pairs(fresh, "component").map(_._2) == Set(0L))
  }

  test("LPA resumes from a durable checkpoint to the uninterrupted labeling") {
    val dir = Files.createTempDirectory("graft_lpa_ckpt").toString
    val sym = GraphOps.symmetrize(path)
    // phase 1: a capped run returns normally and reports the cap
    val r1 = LabelPropagation.run(spark, sym, numPartitions = 4, maxIter = 2,
      ckpt = Some(new Superstep(spark, dir, every = 2)))
    assert(!r1.converged && r1.iterations == 2)
    assert(latest(dir) == "2")
    // phase 2: continues from superstep 2, not from scratch
    val r2 = LabelPropagation.run(spark, sym, numPartitions = 4,
      ckpt = Some(new Superstep(spark, dir, every = 2)))
    assert(r2.iterations > 2)
    val fresh = LabelPropagation.run(spark, sym, numPartitions = 4)
    assert(r2.iterations == fresh.iterations)
    assert(pairs(r2.labels, "community") == pairs(fresh.labels, "community"))
  }

  test("save commits _LATEST and leaves no temp file behind") {
    val dir = Files.createTempDirectory("graft_latest").toString
    val ss = new Superstep(spark, dir, every = 1)
    ss.save(1, spark.range(5).toDF("id"))
    ss.save(2, spark.range(6).toDF("id"))
    assert(latest(dir) == "2" && ss.latest().contains(2))
    val names = Files.list(Paths.get(dir)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("_LATEST", "metrics", "superstep=1", "superstep=2"))
  }

  test("save's per-partition lineage equals the groupBy(partition id) formula") {
    val dir = Files.createTempDirectory("graft_lineage").toString
    val state = spark.range(0, 2000, 1, 5)
      .select(col("id"), (col("id") % 7).as("k"), col("id").cast("string").as("s"))
    new Superstep(spark, dir, every = 1).save(3, state)
    val json = new String(Files.readAllBytes(Paths.get(dir, "metrics", "superstep=3.json")))
    val entry = """\{"partitionId":(\d+),"rowCount":(\d+),"lineageHash":(-?\d+)\}""".r
    val got = entry.findAllMatchIn(json)
      .map(m => (m.group(1).toInt, m.group(2).toLong, m.group(3).toLong)).toSeq
    // the formula as a shuffle over the re-read state, computed here
    val reread = spark.read.parquet(Paths.get(dir, "superstep=3").toString)
    val expect = reread
      .withColumn("pid", spark_partition_id())
      .withColumn("h", xxhash64(reread.columns.map(col): _*))
      .groupBy(col("pid"))
      .agg(count(lit(1)), expr("bit_xor(h)"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got.size > 1 && got == expect)
    assert(got.map(_._2).sum == state.count())
  }

  private def pinned(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case l: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
    case _ => false
  }

  test("CheckpointGC.tick keeps exactly the loop frames its roots reach") {
    val gc = new Superstep.CheckpointGC(spark)
    val state = Superstep.freshCheckpoint(spark.range(10).toDF("id"), eager = true)
    val frontier = Superstep.freshCheckpoint(state.filter(col("id") > 5), eager = true)
    val stale = Superstep.freshCheckpoint(state.filter(col("id") < 5), eager = true)
    gc.tick(state, frontier)
    assert(pinned(state) && pinned(frontier) && !pinned(stale))
    assert(frontier.count() == 4)
    gc.tick(state)
    assert(pinned(state) && !pinned(frontier))
  }

  test("scope keeps a returned lazy checkpoint chain; once computed, only its head") {
    def chain(): DataFrame = {
      val a = spark.range(20).toDF("id").localCheckpoint(false)
      val b = a.select((col("id") * 2).as("id")).localCheckpoint(false)
      b.select((col("id") + 1).as("id")).localCheckpoint(false)
    }
    val expect = (0L until 20L).map(2 * _ + 1)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lazyOut = Superstep.scope(spark)(chain())
    // nothing computed yet: the head still reads both inputs
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 3)
    assert(lazyOut.collect().map(_.getLong(0)).sorted.toSeq == expect)

    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    val computed = Superstep.scope(spark) { val c = chain(); c.count(); c }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before2).size == 1)
    assert(pinned(computed))
    assert(computed.collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("hand-rolled loop: tick(state, frontier) keeps the frontier readable") {
    // a 12-hop directed path: reachableFrom runs 12 frontier rounds, each
    // reading the previous round's frontier after the sweep
    val path = Superstep.freshCheckpoint(
      (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
        .repartition(4, col("src")), eager = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val reached = BowTie.reachableFrom(spark, path, Seq(3L).toDF("id"), 4)
    assert(reached.collect().map(_.getLong(0)).sorted.toSeq == (3L to 12L))
    // only the returned state survives the run
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
    assert(pinned(reached) && pinned(path))
  }

  test("frontier counts the empty last round, skips an empty start, reads each frontier") {
    // a 12-hop directed path from vertex 3: rounds 1–9 discover 4…12,
    // round 10 finds nothing
    val path = Superstep.freshCheckpoint(
      (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
        .repartition(4, col("src")), eager = true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val (reached, rounds) = Superstep.frontier(spark,
      Seq(3L).toDF("id").repartition(4, col("id")), 20, "test") { (frontier, state) =>
      // the frontier the previous round's tick kept must still be readable
      seen += frontier.collect().map(_.getLong(0)).toSeq
      BowTie.expand(path, frontier, state)
    }
    assert(rounds == 10)
    assert(seen.toSeq == (3L to 12L).map(Seq(_)))
    assert(reached.collect().map(_.getLong(0)).sorted.toSeq == (3L to 12L))

    val (none, noRounds) = Superstep.frontier(spark, spark.range(0).toDF("id"), 20, "test") {
      (_, _) => fail("an empty start runs no round")
    }
    assert(noRounds == 0 && none.isEmpty)

    val e = intercept[IllegalStateException] {
      Superstep.frontier(spark, Seq(3L).toDF("id").repartition(4, col("id")), 9, "test")(
        BowTie.expand(path, _, _))
    }
    assert(e.getMessage.contains("raise maxIter"))
  }
}
