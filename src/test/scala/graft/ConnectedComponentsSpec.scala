package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.ConnectedComponents

/** Connected components against a driver-side union-find on a graph
  * that mixes long chains (many star rounds) with one hub whose
  * neighborhood is larger than the window operator's in-memory row
  * buffer (4,096 rows), so the per-vertex minimum runs through the
  * spill-capable path. Exact equality, label = min member id.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // scrambled ids: a chain's order says nothing about its id order
  private def id(i: Long): Long = (i * 7919L) % 1000003L

  private val chains: Seq[(Long, Long)] =
    for (c <- 0L until 12L; j <- 0L until 39L)
      yield (id(c * 40 + j), id(c * 40 + j + 1))
  private val hub = id(100000L)
  private val hubEdges: Seq[(Long, Long)] =
    (0L until 5000L).map(l => if (l % 2 == 0) (hub, id(200000L + l)) else (id(200000L + l), hub))
  // the hub also bridges two chains, so its component spans all three
  private val bridges = Seq((hub, id(0L)), (id(3 * 40 + 17), hub))
  private val isolated: Seq[Long] = (0L until 5L).map(i => id(900000L + i))

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def endpoints(es: Seq[(Long, Long)]): Seq[Long] =
    es.flatMap { case (a, b) => Seq(a, b) }.distinct

  private def withShufflePartitions[T](p: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, p.toString)
    try f finally spark.conf.set(key, old)
  }

  for (p <- Seq(2, 8); withVertices <- Seq(false, true)) {
    test(s"run and incremental ≡ union-find: chains + 5,000-leaf hub, $p partitions" +
        s"${if (withVertices) ", with vertices" else ""}") {
      withShufflePartitions(p) {
        val all = chains ++ hubEdges ++ bridges
        val verts = if (withVertices) endpoints(all) ++ isolated else endpoints(all)
        val vOpt = if (withVertices) Some(verts.toDF("id")) else None
        val expect = Oracles.components(all, verts)
        // the hub's component holds its 5,000 leaves and two chains
        assert(expect.values.count(_ == expect(hub)) == 1 + 5000 + 2 * 40)

        val full = labels(ConnectedComponents.run(spark, all.toDF("src", "dst"), vOpt,
          numPartitions = p))
        assert(full == expect)

        // the hub and one bridge arrive as a delta onto the chains
        val (old, delta) = (chains, hubEdges ++ bridges.take(1))
        val oldVerts = if (withVertices) endpoints(old) ++ isolated else endpoints(old)
        val prev = ConnectedComponents.run(spark, old.toDF("src", "dst"),
          if (withVertices) Some(oldVerts.toDF("id")) else None, numPartitions = p)
        val inc = labels(ConnectedComponents.incremental(spark, prev,
          delta.toDF("src", "dst"), numPartitions = p))
        assert(inc == Oracles.components(old ++ delta, (oldVerts ++ endpoints(delta)).distinct))
      }
    }
  }
}
