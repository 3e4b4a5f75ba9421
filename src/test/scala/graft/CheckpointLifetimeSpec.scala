package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{Betweenness, BowTie, ConnectedComponents, Coreness, Densest, Hyperball,
  KCore, KTruss, Katz, LabelPropagation, Matching, Mis, Mst, PageRank, Scc, ShortestPaths,
  Superstep, Topology, Trussness}
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
  private lazy val path: DataFrame = (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
  private lazy val symPath: DataFrame = GraphOps.symmetrize(path)
  /** Triangles (i, i+1, i+2) along the path: trussness refines from the ends. */
  private lazy val strip: DataFrame =
    path.unionAll((0L until 63L).map(i => (i, i + 2)).toDF("src", "dst"))
  /** Edge i → i+1 weighs the trailing zeros of i+1: Borůvka merges pairs,
    * then quads, … — six rounds.
    */
  private lazy val ruler: DataFrame =
    (0L until 64L).map(i => (i, i + 1, java.lang.Long.numberOfTrailingZeros(i + 1)))
      .toDF("src", "dst", "weight")

  /** Hop distance from vertex 0 on the cycle. */
  private def hops(i: Long): Long = math.min(i, n - i)

  /** The cycle's neighbours of vertex i. */
  private def around(i: Long): Set[Long] = Set((i + 1) % n, (i + n - 1) % n)

  /** (u, v) rows of a matching on the cycle: no vertex twice, and every
    * cycle edge touches a matched vertex.
    */
  private def assertMaximalMatching(name: String, rows: Set[Row]): Unit = {
    val ends = rows.toSeq.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(ends.distinct.size == ends.size, s"$name: a vertex is matched twice")
    assert((0L until n).forall(i => ends.contains(i) || ends.contains((i + 1) % n)),
      s"$name: an edge touches no matched vertex")
  }

  /** Edge i → i+1 at time i: a time-respecting walk takes them in order. */
  private def timed(e: DataFrame): DataFrame = e.withColumn("ts", col("src"))

  /** Directed edges as reachability reads them: checkpointed on src. */
  private def onSrc(e: DataFrame): DataFrame =
    Superstep.freshCheckpoint(e.repartition(4, col("src")), eager = true)

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
    val e = intercept[IllegalStateException](run)
    assert(e.getMessage.contains("raise maxIter"), s"$name: ${e.getMessage}")
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

  test("ShortestPaths.run leaves only what its distances read; cycle hop distance") {
    val Seq(rows) = lifetime("ShortestPaths.run") {
      Seq(ShortestPaths.run(spark, symCycle, Seq(0L), numPartitions = 4))
    }
    assert(rows == (0L until n).map(i => Row(i, 0L, hops(i))).toSet)
  }

  test("ShortestPaths.weighted leaves only what its costs read; weight × hops") {
    val Seq(rows) = lifetime("ShortestPaths.weighted") {
      Seq(ShortestPaths.weighted(spark, symCycle.withColumn("weight", lit(3L)), Seq(0L),
        numPartitions = 4))
    }
    assert(rows == (0L until n).map(i => Row(i, 0L, 3 * hops(i))).toSet)
  }

  test("earliestArrival leaves only what its arrivals read; vertex i at time i−1") {
    val Seq(rows) = lifetime("earliestArrival") {
      Seq(ShortestPaths.earliestArrival(spark, timed(cycle), Seq(0L).toDF("id"), 0L,
        numPartitions = 4))
    }
    assert(rows == (0L until n).map(i => Row(i, math.max(i - 1, 0L))).toSet)
  }

  test("latestDeparture leaves only what its departures read; vertex i at time i") {
    val Seq(rows) = lifetime("latestDeparture") {
      Seq(ShortestPaths.latestDeparture(spark, timed(cycle), Seq(0L).toDF("id"), n.toLong,
        numPartitions = 4))
    }
    assert(rows == (0L until n).map(i => Row(i, if (i == 0) n.toLong else i)).toSet)
  }

  test("BowTie.reachableFrom leaves only what its reach set reads; the whole cycle") {
    val edges = onSrc(cycle)
    val Seq(rows) = lifetime("reachableFrom") {
      Seq(BowTie.reachableFrom(spark, edges, Seq(5L).toDF("id"), 4))
    }
    assert(rows == (0L until n).map(Row(_)).toSet)
  }

  test("Betweenness leaves only what its scores read; one source on an even cycle") {
    val Seq(rows) = lifetime("Betweenness") {
      Seq(Betweenness.run(spark, symCycle, Seq(0L), numPartitions = 4))
    }
    // δ(v) = n/2 − 1/2 − hops(v): everything beyond v on its side, plus
    // half of the antipode, which two shortest paths reach; the source
    // itself is not reported
    val expect = (1L until n).map { i =>
      i -> (if (hops(i) == n / 2) 0.0 else n / 2 - 0.5 - hops(i))
    }.toMap
    assert(rows.map(_.getLong(0)) == expect.keySet)
    rows.foreach(r => assert(math.abs(r.getDouble(1) - expect(r.getLong(0))) < 1e-9))
  }

  test("SCC leaves only what its labels read; the cycle is one component") {
    val Seq(rows) = lifetime("SCC") {
      Seq(Scc.run(spark, cycle, numPartitions = 4))
    }
    assert(rows == (0L until n).map(Row(_, 0L)).toSet)
  }

  test("MIS leaves only what its set reads; independent and maximal on the cycle") {
    val Seq(rows) = lifetime("MIS") {
      Seq(Mis.run(spark, symCycle, numPartitions = 4))
    }
    val in = rows.map(_.getLong(0))
    assert(in.forall(v => !around(v).exists(in)), "two members are adjacent")
    assert((0L until n).forall(v => in(v) || around(v).exists(in)), "not maximal")
  }

  test("greedy coloring leaves only what its colors read; proper on the cycle") {
    val Seq(rows) = lifetime("coloring") {
      Seq(Mis.coloring(spark, symCycle, numPartitions = 4))
    }
    val color = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(color.keySet == (0L until n).toSet)
    assert((0L until n).forall(i => color(i) != color((i + 1) % n)))
  }

  test("Matching.run leaves only what its matching reads; vertex-disjoint and maximal") {
    val Seq(rows) = lifetime("Matching.run") {
      Seq(Matching.run(spark, symCycle, numPartitions = 4))
    }
    assertMaximalMatching("Matching.run", rows)
  }

  test("Matching.runWeighted leaves only what its matching reads; vertex-disjoint and maximal") {
    val Seq(rows) = lifetime("Matching.runWeighted") {
      Seq(Matching.runWeighted(spark, cycle.withColumn("weight", col("src") % 3),
        numPartitions = 4))
    }
    assertMaximalMatching("Matching.runWeighted", rows)
  }

  test("MST leaves only what its forest reads; |V| − 1 edges, the heaviest dropped") {
    val Seq(rows) = lifetime("MST") {
      Seq(Mst.run(spark, cycle.withColumn("weight", col("src")), numPartitions = 4))
    }
    // edge i → i+1 weighs i: the forest is every edge but (0, 31)
    assert(rows == (0L until n - 1L).map(i => Row(i, i + 1, i)).toSet)
  }

  test("Topology.layers leaves only what its layering reads; path vertex i in layer i") {
    val Seq(rows) = lifetime("Topology.layers") {
      Seq(Topology.layers(spark, path, numPartitions = 4))
    }
    assert(rows == (0L to 64L).map(i => Row(i, i)).toSet)
  }

  // each run needs more rounds than it is given; the function gets the
  // 64-hop path's edges checkpointed on src, made before the pinned set
  // is snapshot
  for ((name, run) <- Seq[(String, DataFrame => Any)](
    "ShortestPaths.run" -> (_ =>
      ShortestPaths.run(spark, symPath, Seq(0L), numPartitions = 4, maxIter = 2)),
    "ShortestPaths.weighted" -> (_ =>
      ShortestPaths.weighted(spark, symPath.withColumn("weight", lit(1L)), Seq(0L),
        numPartitions = 4, maxIter = 2)),
    "earliestArrival" -> (_ =>
      ShortestPaths.earliestArrival(spark, timed(path), Seq(0L).toDF("id"), 0L,
        numPartitions = 4, maxIter = 2)),
    "latestDeparture" -> (_ =>
      ShortestPaths.latestDeparture(spark, timed(path), Seq(64L).toDF("id"), 64L,
        numPartitions = 4, maxIter = 2)),
    "BowTie.reachableFrom" -> (edges =>
      BowTie.reachableFrom(spark, edges, Seq(0L).toDF("id"), 4, maxIter = 2)),
    "Betweenness" -> (_ =>
      Betweenness.run(spark, symPath, Seq(0L), numPartitions = 4, maxIter = 2)),
    "SCC" -> (_ => Scc.run(spark, path, numPartitions = 4, maxIter = 2)),
    // peeling the path from both ends: one vertex per end and round
    "KCore.run" -> (_ => KCore.run(spark, symPath, k = 2, numPartitions = 4, maxIter = 2)),
    "KCore.sCore" -> (_ =>
      KCore.sCore(spark, symPath.withColumn("weight", lit(1L)), 2L, numPartitions = 4,
        maxIter = 2)),
    "Coreness" -> (_ => Coreness.run(spark, symPath, numPartitions = 4, maxIter = 2)),
    "Trussness" -> (_ => Trussness.run(spark, strip, numPartitions = 4, maxIter = 1)),
    "KTruss" -> (_ => KTruss.run(spark, symPath, k = 3, numPartitions = 4, maxIter = 1)),
    // at (1+ε) = 1.001 every round drops only the two path ends
    "Densest" -> (_ =>
      Densest.run(spark, path, pNum = 1001, pDen = 1000, numPartitions = 4, maxIter = 2)),
    "Topology.layers" -> (_ => Topology.layers(spark, path, numPartitions = 4, maxIter = 2)),
    "Mis.run" -> (_ => Mis.run(spark, symPath, numPartitions = 4, maxIter = 1)),
    "Mis.coloring" -> (_ => Mis.coloring(spark, symPath, numPartitions = 4, maxIter = 1)),
    "Matching.run" -> (_ => Matching.run(spark, path, numPartitions = 4, maxIter = 1)),
    // weight = src: each round matches only the heaviest live edge
    "Matching.runWeighted" -> (_ =>
      Matching.runWeighted(spark, path.withColumn("weight", col("src")), numPartitions = 4,
        maxIter = 2)),
    "Mst.run" -> (_ => Mst.run(spark, ruler, numPartitions = 4, maxIter = 2))
  )) test(s"$name's cap stop raises IllegalStateException and leaves nothing pinned") {
    val edges = onSrc(path)
    nothingLeftAfterThrow(name)(run(edges))
  }
}
