package graft.perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.validate.Validation

/** Output digests, seed-independent invariants and golden files. */
object Check {

  /** Absolute tolerance on PageRank ranks (unit total mass). */
  val RankTol = 1e-6

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** North-rule row invariant: sha256 per normalized entity row (the
    * GoldenManifestSpec row formula), sorted, hashed into one digest.
    */
  def entityRows(entities: DataFrame): String = {
    val rows = entities.select(
      sha2(concat_ws("", col("id"), col("name"),
        coalesce(col("displayName"), lit("")), col("label"),
        coalesce(col("definition"), lit("")),
        concat_ws(",", col("aliases")), concat_ws(",", col("sourceSpans"))), 256))
      .collect().map(_.getString(0)).sorted
    s"${rows.length}:${sha256Hex(rows.mkString("\n"))}"
  }

  /** Order-independent digest of an (id, `label`) table: row count plus
    * two independent 64-bit hash aggregates.
    */
  def pairs(df: DataFrame, label: String): String = {
    val r = df.agg(count(lit(1)),
      coalesce(expr(s"bit_xor(xxhash64(id, $label))"), lit(0L)),
      coalesce(sum(hash(col("id"), col(label)).cast("long")), lit(0L))).first()
    f"${r.getLong(0)}:${r.getLong(1)}%016x:${r.getLong(2)}%x"
  }

  def validation(v: Validation.Result): String =
    v.productIterator.map {
      case s: Seq[_] => s.mkString("[", ";", "]")
      case x => x.toString
    }.mkString(",")

  /** A PageRank result collected in id order. */
  final case class Ranks(mass: Double, values: Array[Double], idDigest: String)

  def ranks(df: DataFrame): Ranks = {
    val rows = df.orderBy(col("id")).collect()
    val values = rows.map(_.getDouble(1))
    Ranks(values.sum, values, s"${rows.length}:${sha256Hex(rows.map(_.getLong(0)).mkString(","))}")
  }

  /** Connected-component invariants, holding for every input: each id
    * labeled once, both endpoints of every edge labeled and in one
    * component, and every component named by its minimum member id.
    * Returns the number of violations.
    */
  def componentViolations(edges: DataFrame, cc: DataFrame): Long = {
    val c = cc.select(col("id"), col("component"))
    val dupIds = c.groupBy(col("id")).count().filter(col("count") > 1).count()
    val badEdges = edges.select(col("src"), col("dst"))
      .join(c.select(col("id").as("src"), col("component").as("cs")), Seq("src"), "left")
      .join(c.select(col("id").as("dst"), col("component").as("cd")), Seq("dst"), "left")
      .filter(col("cs").isNull || col("cd").isNull || col("cs") =!= col("cd"))
      .count()
    val notMin = c.groupBy(col("component")).agg(min(col("id")).as("m"))
      .filter(col("m") =!= col("component")).count()
    dupIds + badEdges + notMin
  }

  /** Index of the first rank differing by more than [[RankTol]], or -1;
    * a length mismatch reports the shorter length.
    */
  def firstRankMismatch(got: Array[Double], want: Array[Double]): Int =
    if (got.length != want.length) math.min(got.length, want.length)
    else got.indices.find(i => math.abs(got(i) - want(i)) > RankTol).getOrElse(-1)

  /** Golden outputs of one workload at the default seed. */
  final case class Golden(digests: Map[String, String], ranks: Option[Array[Double]])

  def goldenPaths(dir: Path, workload: String): (Path, Path) =
    (dir.resolve(s"$workload.txt"), dir.resolve(s"$workload.ranks.gz"))

  def readGolden(dir: Path, workload: String): Option[Golden] = {
    val (txt, bin) = goldenPaths(dir, workload)
    if (!Files.exists(txt)) None else {
      val digests = new String(Files.readAllBytes(txt), UTF_8).split("\n")
        .filter(_.startsWith("digest.")).map { l =>
          val i = l.indexOf('='); l.take(i).stripPrefix("digest.") -> l.drop(i + 1)
        }.toMap
      val ranks = Option.when(Files.exists(bin)) {
        val in = new DataInputStream(new GZIPInputStream(Files.newInputStream(bin)))
        try Array.fill(in.readInt())(in.readFloat().toDouble) finally in.close()
      }
      Some(Golden(digests, ranks))
    }
  }

  /** Ranks are stored as float32: below 1 their rounding error is
    * under 6e-8, far inside [[RankTol]].
    */
  def writeGolden(dir: Path, workload: String, seed: Long, out: RepOut): Unit = {
    val (txt, bin) = goldenPaths(dir, workload)
    Files.createDirectories(dir)
    val lines = s"seed=$seed" +: out.digests.toSeq.sorted.map { case (k, v) => s"digest.$k=$v" }
    Files.write(txt, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    out.pagerank.foreach { pr =>
      val o = new DataOutputStream(new GZIPOutputStream(Files.newOutputStream(bin)))
      try { o.writeInt(pr.ranks.length); pr.ranks.foreach(r => o.writeFloat(r.toFloat)) }
      finally o.close()
    }
  }
}
