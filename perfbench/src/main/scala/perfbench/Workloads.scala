package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.operators.DetectDuplicates
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "detect_mixed"  => new DetectMixed(seed)
    case "probe_batches" => new ProbeBatches(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Radius of a similarity threshold over 256-bit hashes (Python's
    * `round`, half to even), computed here rather than taken from the
    * library because it feeds the answer key. */
  def radius(similarity: Double): Int = math.rint(256 * (1.0 - similarity)).toInt

  val corpusSchema: StructType = StructType(Seq(
    StructField("index", StringType),
    StructField("url", StringType),
    StructField("pdq_hash", ArrayType(StringType))))

  def corpusFrame(spark: SparkSession, c: Gen.Corpus, parts: Int = 4): DataFrame = {
    val rows = (0 until c.rows).map(i => Row(c.index(i), if (c.hasUrl) c.url(i) else null, Seq(c.hashHex(i))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), corpusSchema)
    if (c.hasUrl) df else df.drop("url")
  }

  /** Random hashes for the kernel probes, independent of the corpus
    * (whose clusters may repeat a hash many times). */
  def kernelSample(seed: Long): Seq[String] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x51dd)
    Seq.fill(Layers.KernelSample)(Gen.hex(Gen.randomWords(r)))
  }

  /** Side inputs for the validation and text probes. */
  def sideCorpus(seed: Long): Gen.Corpus =
    Gen.corpus(seed, 0x51de, Gen.Shape(4096, Seq.tabulate(200)(i => 2 + i % 3), 3, Seq.tabulate(300)(i => 2 + i % 4), withUrl = true))
  def sideDocs(seed: Long): Gen.Docs = Gen.docs(seed, 0x51df, 10000, 0.1)
}

/** One benchmark workload: a corpus generated from the seed and written
  * to parquet during set-up, a timed call into the public API that reads
  * it back, and the answer key every call is checked against. */
abstract class Workload(val name: String, seed: Long, salt: Long, shape: Gen.Shape) {
  protected var corpus: Gen.Corpus = _
  /** Sizes of the answer key, for the run record. */
  protected val keySizes: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty

  /** Generate the seed's input in memory; returns its digest. */
  def generate(): String = { corpus = Gen.corpus(seed, salt, shape); corpus.digest }
  def sizes: Map[String, Long] = corpus.sizes ++ keySizes
  /** Rows one call reads. */
  def inputRows: Long = corpus.rows.toLong
  def write(spark: SparkSession, dir: String): Unit =
    Workload.corpusFrame(spark, corpus).write.mode("overwrite").parquet(s"$dir/corpus")
  protected def read(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/corpus")

  /** Build the answer key (after [[generate]]). */
  def answerKey(): Unit
  def warmupCalls: Int = 1
  /** One call; None when the answer is right, else what was wrong. */
  def call(spark: SparkSession, dir: String, i: Int): Option[String]

  /** The call's similarity threshold and PDQ method. */
  protected def similarity: Double
  protected def method: String
  protected def assumeFixed256: Boolean = false

  protected def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Per-layer probes of a traced run, on this corpus. The validation
    * probe (a `checkedBy` call as a probing client makes it) and the text
    * probes use side inputs. */
  def layers(spark: SparkSession, dir: String, lp: Layers): Unit = {
    val df = read(spark, dir)
    val side = Workload.sideCorpus(seed)
    lp.hashKernels(Workload.kernelSample(seed), corpus.hashHex, Workload.radius(similarity))
    lp.pdqStages(df.select("index", "pdq_hash"), similarity, method, assumeFixed256)
    lp.urlStages(df.select("index", "url"))
    lp.validate(Workload.corpusFrame(spark, side), side.index.take(100).toSeq, similarity, method)
    val docs = Workload.sideDocs(seed)
    lp.textStages(spark.createDataFrame(docs.id.toSeq.zip(docs.text.toSeq)).toDF("id", "text"), docs.id.length)
    lp.inputs ++= Seq("pdq" -> s"corpus, similarity $similarity, method $method, assumeFixed256 $assumeFixed256",
      "url" -> "corpus",
      "validate" -> "side corpus, 100 checked indexes")
  }
}

/** The shape of the flagship `detect_full` query at half its rows: every
  * row sits in a PDQ clique of 100 whose members carry one of two hashes
  * a bit apart, and in a url group of 28 to 72 spellings of one url; the
  * flat edge API with method auto and fixed 256-bit hashes. */
final class DetectMixed(seed: Long) extends Workload("detect_mixed", seed, 2,
    Gen.Shape(DetectMixed.Rows, Seq.fill(DetectMixed.Rows / 100)(100), 1,
      Seq.tabulate(DetectMixed.Rows / 50)(i => 28 + i % 45), withUrl = true, sharedVariant = true)) {
  protected val similarity = 0.98
  protected val method = "auto"
  override protected val assumeFixed256 = true
  private var want: Check.Digest = _
  override def warmupCalls: Int = 3

  def answerKey(): Unit = {
    val ix = corpus.index
    val url = Check.digest(corpus.urlGroups.iterator.flatMap(m => for (a <- m.iterator; b <- m.iterator if a != b)
      yield Check.edgeLine(ix(a), "url", ix(b), None)))
    val pdq = Check.digest(Gen.pdqPairs(corpus, Workload.radius(similarity))
      .map { case (a, b, d) => Check.edgeLine(ix(a), "pdq", ix(b), Some(d)) })
    keySizes ++= Seq("url_edges" -> url.rows, "pdq_edges" -> pdq.rows)
    want = url + pdq
  }

  def call(spark: SparkSession, dir: String, i: Int): Option[String] = {
    val out = DetectDuplicates.edges(read(spark, dir), similarityThreshold = similarity, method = method,
      assumeFixed256 = assumeFixed256)
    mismatch("edge digest", Check.writeNoop(out, Check.edgeLine), want)
  }
}

object DetectMixed {
  val Rows = 50000
}

/** A closed loop of one client probing a fixed corpus with fresh batches
  * of 100 indexes through `checkedBy`. */
final class ProbeBatches(seed: Long) extends Workload("probe_batches", seed, 3,
    Gen.Shape(10000, Seq.tabulate(500)(i => 2 + i % 3), 15, Seq.tabulate(800)(i => 2 + i % 4), withUrl = true)) {
  protected val similarity = 0.9
  protected val method = "naive"
  private val BatchSize = 100
  private var pairs: Array[(Int, Int, Int)] = _
  private var groupOf: Map[Int, Array[Int]] = _
  // calls keep speeding up over the first few while the JIT compiles the
  // planner paths a call goes through; warm those up before timing
  override def warmupCalls: Int = 5

  /** Batch `i`: 100 distinct row positions, a function of (seed, i). */
  def batch(i: Int): Array[Int] = {
    val r = new SplittableRandom(seed * 31 + i)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < BatchSize) picked += r.nextInt(corpus.rows)
    picked.toArray
  }

  def answerKey(): Unit = {
    pairs = Gen.pdqPairs(corpus, Workload.radius(similarity)).toArray
    keySizes ++= Seq("url_edges" -> corpus.urlGroups.map(m => m.length.toLong * (m.length - 1)).sum,
      "pdq_edges" -> pairs.length.toLong)
    groupOf = corpus.urlGroups.iterator.flatMap(m => m.iterator.map(_ -> m)).toMap
  }

  /** Expected `checkedBy` rows: a url group is reported whole when any
    * member is checked; a PDQ pair annotates both ends when either end
    * is checked. */
  def expected(b: Array[Int]): Seq[String] = {
    val in = b.toSet
    val url = mutable.HashMap.empty[Int, Seq[Int]]
    b.foreach(p => groupOf.get(p).foreach(m => m.foreach(x => url(x) = m.filter(_ != x).toSeq)))
    val pdq = mutable.HashMap.empty[Int, List[(Int, Int)]]
    pairs.foreach { case (a, c, d) => if (in(a) || in(c)) pdq(a) = (c, d) :: pdq.getOrElse(a, Nil) }
    val ix = corpus.index
    (url.keySet ++ pdq.keySet).toSeq.map { x =>
      Check.arrayLine(ix(x), url.getOrElse(x, Nil).sorted.map(ix(_)),
        pdq.getOrElse(x, Nil).sortBy(_._1).map { case (c, d) => (ix(c), d) })
    }.sorted
  }

  def call(spark: SparkSession, dir: String, i: Int): Option[String] = {
    import spark.implicits._
    val b = batch(i)
    val out = DetectDuplicates.checkedBy(read(spark, dir), b.toSeq.map(corpus.index(_)).toDF("index"),
      similarityThreshold = similarity, method = method)
    val got = Check.collectLines(out, Check.arrayLine)
    val want = expected(b)
    if (got == want) None
    else Some(s"batch $i: ${got.diff(want).take(3).mkString("; ")} unexpected, " +
      s"${want.diff(got).take(3).mkString("; ")} missing (${got.size} rows, want ${want.size})")
  }
}
