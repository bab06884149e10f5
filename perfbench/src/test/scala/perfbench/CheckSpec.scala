package perfbench

import java.nio.file.Files

import graft.operators.DetectDuplicates
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val shape = Gen.Shape(2000, Seq.tabulate(40)(i => 2 + i % 3), 3, Seq(30) ++ Seq.tabulate(50)(i => 2 + i % 3),
    withUrl = true)

  test("same seed gives the same input digest, another seed a different one") {
    assert(Gen.corpus(7, 2, shape).digest == Gen.corpus(7, 2, shape).digest)
    assert(Gen.corpus(7, 2, shape).digest != Gen.corpus(8, 2, shape).digest)
    assert(Gen.docs(7, 4, 500, 0.1).digest == Gen.docs(7, 4, 500, 0.1).digest)
    assert(Gen.docs(7, 4, 500, 0.1).digest != Gen.docs(8, 4, 500, 0.1).digest)
  }

  test("planted PDQ clusters straddle the radius and random rows stay far apart") {
    val c = Gen.corpus(3, 1, shape)
    val near = Gen.pdqPairs(c, 5).toSeq
    assert(near.nonEmpty && near.forall(_._3 <= 5))
    assert(Gen.pdqPairs(c, 6).size > near.size) // some planted pairs lie just outside radius 5
    val planted = c.pdqClusters.flatten.toSet
    val loose = (0 until c.rows).filterNot(planted).take(300)
    for (a <- loose; b <- loose if a < b) assert(Gen.dist(c.hash(a), c.hash(b)) > 51)
  }

  test("a shared-variant cluster holds its centre and one variant, all members within the flips") {
    val c = Gen.corpus(4, 1, shape.copy(maxFlips = 1, sharedVariant = true))
    assert(c.pdqClusters.forall(m => m.map(c.hashHex(_)).distinct.length <= 2))
    assert(Gen.pdqPairs(c, 1).size == c.pdqClusters.map(m => m.length * (m.length - 1)).sum)
  }

  test("edge digest matches the answer key and fails when one edge is dropped") {
    val c = Gen.corpus(5, 2, shape)
    val dir = Files.createTempDirectory("perfbench-check").toString
    Workload.corpusFrame(spark, c, 2).write.mode("overwrite").parquet(dir)
    val out = DetectDuplicates.edges(spark.read.parquet(dir), similarityThreshold = 0.98, method = "auto")
    val ix = c.index
    val want = Check.digest(
      c.urlGroups.iterator.flatMap(m => for (a <- m.iterator; b <- m.iterator if a != b)
        yield Check.edgeLine(ix(a), "url", ix(b), None)) ++
      Gen.pdqPairs(c, 5).map { case (a, b, d) => Check.edgeLine(ix(a), "pdq", ix(b), Some(d)) })
    assert(Check.writeNoop(out, Check.edgeLine) == want)

    val (a, b, _) = Gen.pdqPairs(c, 5).next()
    val dropped = out.filter(!(col("index") === ix(a) && col("partner") === ix(b) && col("kind") === "pdq"))
    val got = Check.writeNoop(dropped, Check.edgeLine)
    assert(got != want && got.rows == want.rows - 1)
  }

  test("array-API lines match the answer key and fail when one partner is dropped") {
    val c = Gen.corpus(6, 3, shape.copy(withUrl = false, urlGroupSizes = Nil, maxFlips = 30))
    val dir = Files.createTempDirectory("perfbench-check").toString
    Workload.corpusFrame(spark, c, 2).write.mode("overwrite").parquet(dir)
    val out = DetectDuplicates(spark.read.parquet(dir), similarityThreshold = 0.8, method = "naive")
    val want = Gen.pdqPairs(c, 51).toSeq.groupBy(_._1).toSeq.map { case (a, ps) =>
      Check.arrayLine(c.index(a), Nil, ps.sortBy(_._2).map(p => (c.index(p._2), p._3)))
    }.sorted
    assert(Check.collectLines(out, Check.arrayLine) == want)
    assert(Check.writeNoop(out, Check.arrayLine) == Check.digest(want.iterator))

    val shortened = out.withColumn("pdq_hash_duplicates", slice(col("pdq_hash_duplicates"), 2, 1000))
      .withColumn("pdq_hash_similarities", slice(col("pdq_hash_similarities"), 2, 1000))
    assert(Check.writeNoop(shortened, Check.arrayLine) != Check.digest(want.iterator))
  }

  test("probe batches: the answer key matches checkedBy, batch by batch") {
    val wl = new ProbeBatches(11)
    wl.generate()
    wl.answerKey()
    val dir = Files.createTempDirectory("perfbench-probe").toString
    wl.write(spark, dir)
    assert(wl.expected(wl.batch(0)).nonEmpty)
    for (i <- 0 until 3) assert(wl.call(spark, dir, i).isEmpty)
  }

  test("covered time merges overlapping job intervals inside the call") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L), (90L, 200L)), 2L, 100L) == 18 + 10 + 10)
  }
}
