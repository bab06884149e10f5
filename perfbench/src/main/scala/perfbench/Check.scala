package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Answer checks.
  *
  * Each result row is rendered as one text line: the Spark side builds
  * it with column expressions, the answer key with plain Scala, and the
  * two renderings agree byte for byte. Small results are collected and
  * compared line by line. Large results are written to the `noop` sink
  * and compared through a multiset digest — the row count and two sums
  * of CRC-32 over the lines — that the sink write observes in the same
  * pass, so no second execution is needed. A missing, extra, duplicated
  * or altered row changes the digest.
  */
object Check {

  final case class Digest(rows: Long, crcA: Long, crcB: Long) {
    /** Digest of the union of two multisets. */
    def +(o: Digest): Digest = Digest(rows + o.rows, crcA + o.crcA, crcB + o.crcB)
    override def toString: String = s"rows=$rows crcA=$crcA crcB=$crcB"
  }

  private def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def digest(lines: Iterator[String]): Digest = {
    var n, a, b = 0L
    lines.foreach { l => n += 1; a += crc(l); b += crc(l + "#") }
    Digest(n, a, b)
  }

  /** Hamming distance back from a similarity `1 - d/256`; exact, since
    * d/256 is a dyadic rational. */
  private def distOf(sim: Column): Column = round((lit(1.0) - sim) * 256).cast("int")

  private def orDash(c: Column): Column = coalesce(c, lit("-"))

  /** Line of a `DetectDuplicates` array-API row:
    * `index|url partners|pdq partners|pdq distances`, `-` for null. */
  val arrayLine: Column = concat_ws("|",
    col("index"),
    orDash(array_join(col("url_duplicates"), ",")),
    orDash(array_join(col("pdq_hash_duplicates"), ",")),
    orDash(array_join(transform(col("pdq_hash_similarities"), s => distOf(s).cast("string")), ",")))

  def arrayLine(index: String, url: Seq[String], pdq: Seq[(String, Int)]): String = {
    def dash(s: Seq[String]) = if (s.isEmpty) "-" else s.mkString(",")
    s"$index|${dash(url)}|${dash(pdq.map(_._1))}|${dash(pdq.map(_._2.toString))}"
  }

  /** Line of a `DetectDuplicates.edges` row: `index|kind|partner|distance`. */
  val edgeLine: Column = concat_ws("|",
    col("index"), col("kind"), col("partner"), orDash(distOf(col("similarity")).cast("string")))

  def edgeLine(index: String, kind: String, partner: String, dist: Option[Int]): String =
    s"$index|$kind|$partner|${dist.fold("-")(_.toString)}"

  /** Line of a connected-components row: `id|cluster`. */
  val clusterLine: Column = concat_ws("|", col("id").cast("string"), col("cluster").cast("string"))

  def clusterLine(id: Long, cluster: Long): String = s"$id|$cluster"

  /** Write `df` to the `noop` sink and return the digest of its rows. */
  def writeNoop(df: DataFrame, line: Column): Digest = {
    val lineBytes = line.cast("binary")
    val obs = Observation()
    df.observe(obs,
      count(lit(1)).as("n"),
      sum(crc32(lineBytes)).as("a"),
      sum(crc32(concat(lineBytes, lit("#").cast("binary")))).as("b"))
      .write.format("noop").mode("overwrite").save()
    val row = Await.result(obs.future, 60.seconds)
    Digest(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2))
  }

  /** Collect the rendered lines of a small result, sorted. */
  def collectLines(df: DataFrame, line: Column): Seq[String] =
    df.select(line).collect().map(_.getString(0)).toSeq.sorted
}
