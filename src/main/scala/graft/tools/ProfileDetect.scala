package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level profiler for the detect_full flagship:
  * `runMain graft.operators.ProfileDetect <sfDir>` times the url branch,
  * the pdq branch, and their internal phases separately (noop sink), so
  * a bench regression can be attributed to one phase without the Spark
  * UI. Lives in the operators package to reach the private internals. */
object ProfileDetect {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](label: String)(f: => A): A = {
      // mirror Bench's inter-query hygiene so one timing's
      // materializations don't pressure the next one's memory
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val gcB = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
      val gc0 = gcB.stream.mapToLong(_.getCollectionTime).sum
      val t0 = System.nanoTime(); val r = f
      val gc1 = gcB.stream.mapToLong(_.getCollectionTime).sum
      println(f"-- $label: ${(System.nanoTime() - t0) / 1e9}%.2f s (gc ${(gc1 - gc0) / 1000.0}%.1f s)"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // detect_full's frame construction (Parity.detectFull)
    val e = spark.read.parquet(s"$dir/events.parquet")
    val u = e.select(
      lpad(col("event_id").cast("string"), 8, "0").as("index"),
      concat(
        when(col("event_id") % 3 === 0, "https://")
          .when(col("event_id") % 3 === 1, "http://").otherwise(""),
        when(col("event_id") % 5 === 0, "SHOP-").otherwise("shop-"),
        (col("user_id") % 20).cast("string"),
        lit(".example.com/item/"),
        (col("event_id") % 100).cast("string"),
        when(col("event_id") % 4 === 0, concat(lit("#sec"), col("event_id").cast("string"))).otherwise("")
      ).as("url"))
    val g = (col("event_id") % 1000).cast("string")
    val base = concat(md5(g), md5(concat(g, lit("s"))))
    val h1 = when(col("event_id") % 5 === 0,
      concat(substring(base, 1, 63),
        when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val hashes = e.select(
      lpad(col("event_id").cast("string"), 8, "0").as("index"),
      array(h1).as("pdq_hash"))
    val frame = u.join(hashes, Seq("index"))

    val repsN = sys.env.getOrElse("PROFILE_DETECT_REPS", "2").toInt
    val fullOnly = sys.env.contains("PROFILE_DETECT_FULL_ONLY")
    for (rep <- 1 to repsN) {
      println(s"== rep $rep ==")
      time("full edges()")(noop(DetectDuplicates.edges(
        frame, similarityThreshold = 0.98, method = "auto", assumeFixed256 = true)))
      if (!fullOnly) {
      time("url edgesOf")(noop(UrlDuplicates.edgesOf(
        frame.select("index", "url"), Checked.All)))
      time("pdq edgesOf")(noop(PdqDuplicates.edgesOf(
        frame.select("index", "pdq_hash"), Checked.All, 0.98,
        PdqDuplicates.Strategy.Auto, assumeFixed256 = true)))
      // url internals
      val norm = frame.select("index", "url")
        .filter(col("url").isNotNull)
        .select(col("index"), graft.functions.UrlFunctions.normalizeUrl(col("url")).as("base_url"))
      time("url norm only")(noop(norm))
      time("url self-join expansion")(noop(
        norm.as("a").join(norm.as("b"),
          col("a.base_url") === col("b.base_url") && col("a.index") =!= col("b.index"))
          .select(col("a.index").as("index"), col("b.index").as("partner"))))
      // pdq internals (mirror prepare() on this input)
      val exploded = frame.select("index", "pdq_hash")
        .filter(col("pdq_hash").isNotNull)
        .select(col("index"), explode(col("pdq_hash")).as("hash"))
        .filter(col("hash").isNotNull)
        .dropDuplicates("index", "hash")
      val indexed = exploded.select(col("index"),
        graft.functions.HashFunctions.canonicalHex64(col("hash")).as("chash"))
        .dropDuplicates("index", "chash")
      time("pdq indexed only")(noop(indexed))
      val corpusHashes = indexed.select("chash").distinct()
      val probeHashes = indexed.select(col("chash").as("phash")).distinct()
      time("pdq distinct hashes")(noop(corpusHashes))
      val hashEdges = PdqDuplicates.bandedHashJoin(probeHashes, corpusHashes, 5,
        probesAreCorpus = true)
      time("pdq banded hashEdges")(noop(hashEdges))
      val raw = hashEdges
        .join(indexed.select(col("index").as("src"), col("chash").as("phash")), Seq("phash"))
        .join(indexed.select(col("index").as("dst"), col("chash")), Seq("chash"))
        .select("src", "dst", "dist")
      time("pdq raw expansion")(noop(raw))
      time("pdq raw + groupBy min")(noop(
        raw.filter(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(min("dist").as("dist"))))
      }
    }
    spark.stop()
  }
}
