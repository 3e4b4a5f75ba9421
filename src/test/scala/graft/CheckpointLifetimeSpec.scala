package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{ConnectedComponents, Hyperball, KTruss, Katz, LabelPropagation, PageRank}
import graft.graph.GraphOps

/** Storage lifetime of the superstep algorithms: after a run, the only
  * persistent RDDs it leaves are the ones its returned frames can still
  * read, a cap-stop throw leaves none, and frames the caller made
  * before the call survive. "Can read" is computed here independently
  * of the library: the RDDs under the frames' `LogicalRDD` leaves and
  * their whole dependency closure.
  */
class CheckpointLifetimeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 32
  private lazy val cycle: DataFrame =
    (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
  private lazy val symCycle: DataFrame = GraphOps.symmetrize(cycle)

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def reach(frames: Seq[DataFrame]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    frames.foreach(_.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD => l.rdd
    }.foreach(walk))
    seen.toSet
  }

  /** Runs `run`, asserts it left nothing pinned that its frames cannot
    * reach, and returns the frames' rows — read once right after the
    * call and again after a later run has swept its own storage.
    */
  private def lifetime(name: String)(run: => Seq[DataFrame]): Seq[Set[Row]] = {
    val callers = spark.range(7).toDF("id").localCheckpoint(true)
    val before = pinnedIds
    val frames = run
    val leaked = pinnedIds -- before -- reach(frames)
    assert(leaked.isEmpty, s"$name left ${leaked.size} unreachable RDD(s) pinned")
    val rows = frames.map(_.collect().toSet)
    ConnectedComponents.run(spark, cycle, numPartitions = 2).count()
    assert(frames.map(_.collect().toSet) == rows, s"$name result changed")
    assert(callers.count() == 7, "the caller's checkpoint must survive")
    rows
  }

  private def nothingLeftAfterThrow(name: String)(run: => Any): Unit = {
    val before = pinnedIds
    intercept[Exception](run)
    val left = pinnedIds -- before
    assert(left.isEmpty, s"$name left ${left.size} RDD(s) pinned after its cap stop")
  }

  test("CC leaves only what its labeling reads; labels = min id") {
    val Seq(rows) = lifetime("CC") {
      Seq(ConnectedComponents.run(spark, cycle, None, numPartitions = 4))
    }
    assert(rows.map(_.getLong(1)) == Set(0L) && rows.size == n)
  }

  test("PageRank leaves only what its ranks read; uniform on a cycle") {
    val Seq(rows) = lifetime("PageRank") {
      Seq(PageRank.run(spark, cycle, numPartitions = 4).ranks)
    }
    assert(rows.size == n)
    rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0 / n) < 1e-6))
  }

  test("LPA leaves only what its communities read") {
    val Seq(rows) = lifetime("LPA") {
      Seq(LabelPropagation.run(spark, symCycle, numPartitions = 4).labels)
    }
    assert(rows.map(_.getLong(0)) == (0L until n).toSet)
  }

  test("Katz leaves only what its scores read; closed-form walk series") {
    val Seq(rows) = lifetime("Katz") {
      Seq(Katz.run(spark, cycle, numPartitions = 4, alpha = 0.05, maxIter = 20).scores)
    }
    val expect = (0 to 20).map(math.pow(0.05, _)).sum
    assert(rows.size == n)
    rows.foreach(r => assert(math.abs(r.getDouble(1) - expect) < 1e-9))
  }

  test("KTruss leaves only what its truss reads; a cycle has no 3-truss") {
    val Seq(rows) = lifetime("KTruss") {
      Seq(KTruss.run(spark, cycle, k = 3, numPartitions = 4))
    }
    assert(rows.isEmpty)
  }

  test("Hyperball leaves only what its centralities read; exact on a cycle") {
    val Seq(rows) = lifetime("Hyperball") {
      Seq(Hyperball.run(spark, symCycle, numPartitions = 4).perVertex)
    }
    assert(rows.size == n)
    rows.foreach { r =>
      assert(r.getAs[Double]("nf") == n && r.getAs[Long]("ecc") == n / 2)
    }
  }

  test("CC's cap-stop throw leaves nothing pinned") {
    nothingLeftAfterThrow("CC") {
      ConnectedComponents.run(spark, cycle, None, numPartitions = 4, maxIter = 1)
    }
  }

  test("Hyperball's cap-stop throw leaves nothing pinned") {
    nothingLeftAfterThrow("Hyperball") {
      Hyperball.run(spark, symCycle, numPartitions = 4, maxIter = 1)
    }
  }
}
