package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Benchmark harness: one workload, one seed, one JVM.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * Set-up generates the seed's inputs, writes them to parquet, builds
  * the answer key and warms up. The timed phase then calls the workload in a
  * closed loop for `--seconds` (at least one call), checking every
  * answer. `--trace 1` traces every second call, then runs the
  * per-layer probes.
  *
  * The full record (per-call samples, contention, input sizes and digest,
  * layer metrics, spans) goes to `<out>/records/`; stdout ends with a
  * summary line and then the one-line result.
  */
object Main {

  final case class Sample(i: Int, wallS: Double, cpuS: Double, compiles: Long, error: Option[String],
      span: Option[Span])

  /** Whole-stage and expression classes Spark has compiled so far. */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private implicit val formats: Formats = DefaultFormats
  private def json(v: AnyRef): String = Serialization.write(v)

  private val CallTimeoutS = 60L
  /** Stop calling once the JVM has run this long, whatever `--seconds`. */
  private val HardStopS = 140.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")
    val code = try run(name, seed, seconds, trace, out) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      // the library's own bench configuration (graft.Bench)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = Layers.median(xs)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, out: String): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(out)
    val sc = spark.sparkContext
    val sessionS = sinceJvmS
    val wl = Workload(name, seed)
    val dir = s"$out/data/$name"

    val tGen = System.nanoTime()
    val digest = wl.generate()
    val generateS = (System.nanoTime() - tGen) / 1e9
    val tWrite = System.nanoTime()
    wl.write(spark, dir)
    val writeS = (System.nanoTime() - tWrite) / 1e9
    val tKey = System.nanoTime()
    wl.answerKey()
    val answerKeyS = (System.nanoTime() - tKey) / 1e9

    val watchdog = Executors.newSingleThreadScheduledExecutor()
    def call(i: Int, tracer: Option[Tracer]): Sample = {
      val group = s"perfbench-$i"
      sc.setJobGroup(group, s"$name call $i", interruptOnCancel = true)
      val timeout = watchdog.schedule(new Runnable { def run(): Unit = sc.cancelJobGroup(group) },
        CallTimeoutS, TimeUnit.SECONDS)
      val rdds = sc.getPersistentRDDs.keySet
      val compiles0 = compiles()
      val cpu0 = Procfs.processCpuNs()
      val t0 = System.nanoTime()
      def body(): Option[String] =
        try wl.call(spark, dir, i) catch { case NonFatal(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val (err, span) = tracer match {
        case Some(t) =>
          t.start()
          try { val (e, s) = t.span("call", s"$name#$i")(body()); (e, Some(s)) } finally t.stop()
        case None => (body(), None)
      }
      // a traced call's wall time includes what tracing adds (listener
      // registration, the drain barrier), so the overhead ratio shows it
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Procfs.processCpuNs() - cpu0) / 1e9
      timeout.cancel(false)
      sc.clearJobGroup()
      // calls are independent: free what this one cached or checkpointed
      sc.getPersistentRDDs.foreach { case (id, r) => if (!rdds(id)) r.unpersist(blocking = false) }
      Sample(i, wall, cpu, compiles() - compiles0, err, span)
    }

    val warm = (0 until wl.warmupCalls).map(i => call(-1 - i, None))
    val setupS = sinceJvmS

    // the timed loop; a traced run alternates untraced and traced calls,
    // so drift during the run affects both alike
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val loadBefore = Procfs.loadavg()
    val speedBefore = HostSpeed.measure()
    val jiffies0 = Procfs.jiffies()
    val timedT0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - timedT0) / 1e9
    val samples = mutable.ArrayBuffer.empty[Sample]
    val minCalls = if (trace) 2 else 1
    while (samples.length < minCalls || (elapsedS < seconds && sinceJvmS < HardStopS)) {
      val i = samples.length
      samples += call(i, tracer.filter(_ => i % 2 == 1))
    }
    // contention evidence for the timed calls: cores busy outside this JVM
    val externalCores = Procfs.externalCores(jiffies0, Procfs.jiffies(), elapsedS)
    val loadAfter = Procfs.loadavg()
    val speedAfter = HostSpeed.measure()
    val layers = tracer.map { t =>
      val lp = new Layers(spark, t)
      t.start()
      try wl.layers(spark, dir, lp) finally t.stop()
      lp
    }
    watchdog.shutdownNow()

    val all = samples.toSeq
    val (traced, plain) = all.partition(_.span.isDefined)
    val failed = all.count(_.error.isDefined)
    val warmFailed = warm.count(_.error.isDefined)
    val correct = failed == 0 && warmFailed == 0
    val walls = plain.map(_.wallS)
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "rows_per_s" -> wl.inputRows / median(walls),
      "call_s_p50" -> median(walls),
      "call_s_p90" -> quantile(walls, 0.9),
      "cpu_s_per_call" -> median(plain.map(_.cpuS)),
      "peak_rss_mb" -> Procfs.peakRssMb())
    val units = Map("setup_s" -> "s", "rows_per_s" -> "rows/s", "call_s_p50" -> "s", "call_s_p90" -> "s",
      "cpu_s_per_call" -> "s", "peak_rss_mb" -> "MB")
    val layerMetrics = (tracer, layers) match {
      case (Some(t), Some(lp)) => PerLayer(t, traced, median(walls), lp.metrics)
      case _                   => mutable.LinkedHashMap.empty[String, Double]
    }

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "correct" -> correct, "attempted" -> all.length, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / math.max(1, all.length),
      "metrics" -> e2e, "layer_metrics" -> layerMetrics,
      "input" -> (wl.sizes ++ Map[String, Any]("digest" -> digest)),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> generateS, "write_s" -> writeS, "answer_key_s" -> answerKeyS,
        "warmup_s" -> warm.map(_.wallS), "first_call_s" -> setupS),
      "contention" -> Map("external_cores" -> externalCores, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "host_speed_before" -> speedBefore, "host_speed_after" -> speedAfter,
        "nproc" -> Runtime.getRuntime.availableProcessors()),
      "src_main_scala_lines" -> SourceLines.count(),
      "calls" -> all.map(s => Map("i" -> s.i, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "codegen_compiles" -> s.compiles,
        "traced" -> s.span.isDefined, "error" -> s.error.orNull)),
      "warmup_errors" -> warm.flatMap(_.error),
      "layer_inputs" -> layers.fold(Map.empty[String, String])(_.inputs.toMap),
      "spans" -> tracer.fold(Seq.empty[Any])(_.spans.map(_.record)))
    val recDir = new File(s"$out/records")
    recDir.mkdirs()
    val recFile = new File(recDir, s"$name-seed$seed-trace${if (trace) 1 else 0}.json")
    val w = new PrintWriter(recFile, "UTF-8")
    try w.println(json(rec)) finally w.close()

    (warm ++ all).flatMap(_.error).take(5).foreach(e => System.err.println(s"[perfbench] wrong: $e"))

    val shown: Iterable[(String, Double, String)] =
      if (trace) layerMetrics.map { case (k, v) => (k, v, PerLayer.units(k)) }
      else e2e.map { case (k, v) => (k, v, units(k)) }
    val summary = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
      "trace" -> trace, "fail_ratio" -> rec("fail_ratio"), "external_cores" -> externalCores,
      "host_cpu_ms" -> speedBefore("cpu_ms"),
      "record" -> recFile.getPath) ++ e2e
    println(s"[perfbench] ${json(summary)}")
    println(json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> all.length, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap.from(shown.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }))))
    spark.stop()
    if (correct) 0 else 1
  }
}

/** Per-layer metrics of a traced run, from the call spans and the probes. */
object PerLayer {
  val units: Map[String, String] = Map(
    "plans.hamming_ns_per_pair" -> "ns", "plans.hamming_join_s" -> "s",
    "plans.simhash_ns_per_doc" -> "ns",
    "functions.url_normalize_ns_per_row" -> "ns", "functions.hex_canon_ns_per_row" -> "ns",
    "operators.pdq_edges_s" -> "s", "operators.pdq_format_s" -> "s", "operators.url_edges_s" -> "s",
    "operators.validate_s" -> "s", "operators.simhash_pairs_s" -> "s", "operators.cc_s" -> "s",
    "operators.simhash_candidates_per_pair" -> "ratio",
    "spark.busy_cores" -> "cores", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_records" -> "count",
    "spark.spill_mb" -> "MB", "spark.exchanges" -> "count", "spark.driver_s" -> "s",
    "spark.jobs_per_call" -> "count", "spark.stages_per_call" -> "count", "spark.tasks_per_call" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.peak_exec_mem_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  def apply(t: Tracer, traced: Seq[Main.Sample], untracedMedianS: Double,
      probes: collection.Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val mb = 1024.0 * 1024.0
    val perCall = traced.flatMap(_.span).map { call =>
      val jobs = t.children(call).filter(_.kind == "job")
      val stages = jobs.flatMap(t.children).filter(_.kind == "stage")
      def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
      val jobTime = Tracer.covered(jobs.map(j => (j.startUs, j.endUs)), call.startUs, call.endUs) / 1e6
      Map(
        "spark.busy_cores" -> sum("run_s") / call.seconds,
        "spark.shuffle_write_mb" -> sum("shuffle_write_bytes") / mb,
        "spark.shuffle_records" -> sum("shuffle_write_records"),
        "spark.spill_mb" -> sum("spill_disk_bytes") / mb,
        "spark.exchanges" -> call.attrs.getOrElse("exchanges", 0.0),
        "spark.driver_s" -> (call.seconds - jobTime),
        "spark.jobs_per_call" -> jobs.length.toDouble,
        "spark.stages_per_call" -> stages.length.toDouble,
        "spark.tasks_per_call" -> sum("tasks"),
        "spark.executor_cpu_s" -> sum("cpu_s"),
        "spark.gc_s" -> sum("gc_s"),
        "spark.peak_exec_mem_mb" -> stages.map(_.attrs.getOrElse("peak_exec_mem_bytes", 0.0)).maxOption
          .getOrElse(0.0) / mb)
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    units.keys.toSeq.sorted.foreach { k =>
      out(k) =
        if (k.startsWith("spark.")) Main.median(perCall.map(_(k)))
        else if (k == "trace.overhead_ratio") Main.median(traced.map(_.wallS)) / untracedMedianS - 1
        else probes.getOrElse(k, Double.NaN)
    }
    out
  }
}

/** How fast the host runs one thread right now, for the contention
  * record: a slower host (other machines' load on shared cores, caches
  * or memory) shows here even when `/proc/stat` sees no other work in
  * this machine. Best of three of a fixed register-only loop and of a
  * fixed chain of dependent loads over 16 MB. */
object HostSpeed {
  private val ring: Array[Int] = {
    val n = 1 << 22
    val order = Array.range(0, n)
    Gen.shuffle(new java.util.SplittableRandom(1), order)
    val next = new Array[Int](n)
    for (i <- 0 until n) next(order(i)) = order((i + 1) % n)
    next
  }

  private def bestMs(f: () => Long): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (f() == 42L) print("")
      (System.nanoTime() - t0) / 1e6
    }.min

  def measure(): Map[String, Double] = Map(
    "cpu_ms" -> bestMs { () =>
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    },
    "mem_ms" -> bestMs { () =>
      var p = 0
      var i = 0
      while (i < 2000000) { p = ring(p); i += 1 }
      p.toLong
    })
}

/** Line count of the library's `src/main` Scala sources, recorded with
  * every run (not gated). */
object SourceLines {
  def count(): Long = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk) else Iterator(f)
    val root = new File("src/main")
    if (!root.isDirectory) -1L
    else walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val s = scala.io.Source.fromFile(f, "ISO-8859-1")
      try s.getLines().size.toLong finally s.close()
    }.sum
  }
}
