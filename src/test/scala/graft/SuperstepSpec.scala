package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{ConnectedComponents, LabelPropagation, Superstep}
import graft.graph.GraphOps

/** The superstep skeleton's stopping and resume contract, through the
  * algorithms that run on it: CC raises on a cap stop, and CC and LPA
  * resume from a durable checkpoint to exactly the uninterrupted
  * answer (the PageRank twin lives in ChunkValidateSpec).
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
}
