package perfbench

import scala.collection.mutable

import graft.functions.{HashFunctions, UrlFunctions}
import graft.operators.{Dedup, DetectDuplicates, PdqDuplicates, UrlDuplicates}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer probes of a traced run: each times one public function of a
  * layer, inside its own span, and records the layer metric it yields. */
final class Layers(spark: SparkSession, tracer: Tracer) {
  import Layers._

  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Which input each probe ran on, for the run record. */
  val inputs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  private def timed(name: String)(f: => Unit): Double =
    tracer.span("layer", name) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }._1

  /** Median of `reps` timings of `f`, each in its own span. */
  private def medianOf(name: String, reps: Int)(f: => Unit): Double =
    median(Seq.fill(reps)(timed(name)(f)))

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` with every row repeated so it holds at least `rows` rows,
    * cached: per-row costs are measured over enough rows to stand out
    * from the fixed cost of a job. */
  private def amplified(df: DataFrame, rows: Long): DataFrame = {
    val k = math.max(1L, (rows + df.count() - 1) / df.count())
    cached(df.withColumn("perfbench_rep", explode(sequence(lit(1L), lit(k)))).drop("perfbench_rep"))
  }

  /** `plans`: the SQL `hamming_distance` over the cross join of the
    * random `sample` with itself, less the same cross join summing the
    * operands' lengths instead (join, aggregate and job launch), and the
    * θ-join `hamming_distance(a, b) <= radius` over the same hashes;
    * `functions`: `canonicalHex64` + `hexToWords` per row of the corpus. */
  def hashKernels(sample: Seq[String], hashHex: Seq[String], radius: Int): Unit = {
    import spark.implicits._
    val hashes = cached(sample.toDF("hex").select(unhex(col("hex")).as("h")))
    hashes.createOrReplaceTempView("perfbench_sample")
    val n = hashes.count()
    def cross(expr: String): Unit =
      spark.sql(s"SELECT sum($expr) FROM perfbench_sample a CROSS JOIN perfbench_sample b").collect()
    val crossBase, kernel = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 3) {
      crossBase += timed("plans.hamming_base")(cross("length(a.h) + length(b.h)"))
      kernel += timed("plans.hamming_distance")(cross("hamming_distance(a.h, b.h)"))
    }
    metrics("plans.hamming_ns_per_pair") = (median(kernel.toSeq) - median(crossBase.toSeq)) * 1e9 / (n.toDouble * n)
    metrics("plans.hamming_join_s") = medianOf("plans.hamming_join", 2)(spark.sql(
      "SELECT count(*) FROM perfbench_sample a JOIN perfbench_sample b " +
        s"ON hamming_distance(a.h, b.h) <= $radius").collect())
    inputs("plans") = f"$n random hashes, radius $radius, cross join base ${median(crossBase.toSeq)}%.4f s, " +
      f"with hamming_distance ${median(kernel.toSeq)}%.4f s"
    hashes.unpersist()

    val hexes = amplified(hashHex.distinct.toDF("hex"), PerRowRows)
    val rows = hexes.count().toDouble
    val base = medianOf("functions.hex_base", 2)(hexes.agg(max(hash(col("hex")))).collect())
    val canon = medianOf("functions.hex_canon", 2)(
      hexes.agg(max(hash(HashFunctions.hexToWords(HashFunctions.canonicalHex64(col("hex")))))).collect())
    metrics("functions.hex_canon_ns_per_row") = (canon - base) * 1e9 / rows
    hexes.unpersist()
  }

  /** `operators`: PDQ edge relation, and the array formatting on top of it
    * (`PdqDuplicates.apply` minus `PdqDuplicates.edges`). */
  def pdqStages(df: DataFrame, similarity: Double, method: String, assumeFixed256: Boolean): Unit = {
    val strategy = PdqDuplicates.Strategy.fromMethod(method)
    val edges = medianOf("operators.pdq_edges", 1)(noop(PdqDuplicates.edges(df, similarityThreshold = similarity,
      strategy = strategy, assumeFixed256 = assumeFixed256)))
    val full = medianOf("operators.pdq_apply", 1)(noop(PdqDuplicates(df, similarityThreshold = similarity,
      strategy = strategy, assumeFixed256 = assumeFixed256)))
    metrics("operators.pdq_edges_s") = edges
    metrics("operators.pdq_format_s") = full - edges
  }

  /** `functions` url normalization per row, and `operators` url edges. */
  def urlStages(df: DataFrame): Unit = {
    val urls = amplified(df.select("url"), PerRowRows)
    val rows = urls.count().toDouble
    val base = medianOf("functions.url_base", 2)(urls.agg(max(length(col("url")))).collect())
    val norm = medianOf("functions.url_normalize", 2)(
      urls.agg(max(length(UrlFunctions.normalizeUrl(col("url"))))).collect())
    metrics("functions.url_normalize_ns_per_row") = (norm - base) * 1e9 / rows
    urls.unpersist()
    metrics("operators.url_edges_s") = medianOf("operators.url_edges", 1)(noop(UrlDuplicates.edges(df)))
  }

  /** `operators`: the unique-index validation scan of the detect API
    * (validation on minus validation off, alternated). */
  def validate(corpus: DataFrame, batch: Seq[String], similarity: Double, method: String): Unit = {
    import spark.implicits._
    def run(v: Boolean): Unit = DetectDuplicates.checkedBy(corpus, batch.toDF("index"),
      similarityThreshold = similarity, method = method, validateUniqueIndex = v).collect()
    val on, off = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 2) {
      on += timed("operators.validate_on")(run(true))
      off += timed("operators.validate_off")(run(false))
    }
    metrics("operators.validate_s") = median(on.toSeq) - median(off.toSeq)
  }

  /** `plans` SimHash kernel per document, `operators` band-join pairs and
    * connected components, and the band join's candidates per verified
    * pair (its `candidates` observation). */
  def textStages(docs: DataFrame, nDocs: Long): Unit = {
    val d = cached(docs.select("id", "text"))
    val base = medianOf("plans.simhash_base", 2)(d.agg(max(length(col("text")))).collect())
    val sig = medianOf("plans.simhash", 2)(
      Dedup.simhashSigs(d, "id", "text").agg(max(col("simhash"))).collect())
    metrics("plans.simhash_ns_per_doc") = (sig - base) * 1e9 / nDocs
    val sigs = cached(Dedup.simhashSigs(d, "id", "text"))
    val verified = Observation()
    val (_, span) = tracer.span("layer", "operators.simhash_pairs") {
      noop(Dedup.simhashPairs(sigs, maxDist = 3).observe(verified, count(lit(1)).as("n")))
    }
    val nPairs = verified.get("n").asInstanceOf[Long]
    metrics("operators.simhash_pairs_s") = span.seconds
    metrics("operators.simhash_candidates_per_pair") =
      span.attrs.getOrElse("simhash_candidates", 0.0) / math.max(1L, nPairs)
    val pairs = cached(Dedup.simhashPairs(sigs, maxDist = 3))
    metrics("operators.cc_s") = medianOf("operators.cc", 1)(noop(Dedup.connectedComponents(pairs)))
    inputs("text") = s"$nDocs docs, ${nPairs} pairs"
    Seq(d, sigs, pairs).foreach(_.unpersist())
  }
}

object Layers {
  /** Rows the per-row function probes run over. */
  val PerRowRows = 400000L
  /** Hashes in the kernel probes' sample; its cross join holds the
    * square of this many pairs. */
  val KernelSample = 4096

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
