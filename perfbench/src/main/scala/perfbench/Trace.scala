package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span. Times are epoch
  * microseconds; job and stage spans carry Spark's millisecond event
  * times. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String, val startUs: Long) {
  @volatile var endUs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = attrs(k) = math.max(attrs.getOrElse(k, 0.0), v)
  def seconds: Double = (endUs - startUs) / 1e6

  def record: ListMap[String, Any] = ListMap("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs)
}

/** In-memory tracer. The harness opens a span around every call it makes
  * ([[span]]); a Spark listener adds each job as a child of the span whose
  * id the job carries as a local property, and each stage as a child of
  * its job, with the stage's task metrics summed into its attributes. A
  * query-execution listener adds the Exchange count of each final plan
  * and the operators' observed counters to the open span. Spans are
  * written out only when the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private val all = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val stages = mutable.HashMap.empty[(Int, Int), Span]
  private val barrierJobs = mutable.HashMap.empty[Int, String]
  @volatile private var open: Span = _
  @volatile private var barrier: (String, CountDownLatch) = _
  private var barriers = 0

  private def newSpan(parent: Int, kind: String, name: String, startUs: Long): Span = synchronized {
    val s = new Span(all.length + 1, parent, kind, name, startUs)
    all += s
    s
  }

  def spans: Seq[Span] = synchronized(all.toList)
  def children(s: Span): Seq[Span] = synchronized(all.filter(_.parent == s.id).toList)

  def start(): Unit = {
    spark.listenerManager.register(this)
    sc.addSparkListener(this)
  }

  def stop(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `f` inside a new span, child of the open one. When `f` returns,
    * wait until the listeners have seen every event it caused. */
  def span[T](kind: String, name: String)(f: => T): (T, Span) = {
    val prev = open
    val s = newSpan(if (prev == null) 0 else prev.id, kind, name, nowUs)
    open = s
    sc.setLocalProperty(SpanKey, s.id.toString)
    try {
      val r = f
      s.endUs = nowUs
      (r, s)
    } finally {
      if (s.endUs < 0) s.endUs = nowUs
      drain()
      open = prev
      sc.setLocalProperty(SpanKey, if (prev == null) null else prev.id.toString)
    }
  }

  /** Listener events are delivered asynchronously, in order, on one
    * queue: once a marker job's end has been delivered, so has every
    * event posted before it. */
  private def drain(): Unit = {
    barriers += 1
    val latch = new CountDownLatch(1)
    val key = barriers.toString
    barrier = (key, latch)
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(BarrierKey, key)
    try {
      sc.parallelize(Seq(1), 1).count()
      latch.await(30, TimeUnit.SECONDS)
    } finally {
      sc.setLocalProperty(BarrierKey, null)
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  private def us(ms: Long): Long = ms * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(BarrierKey))) match {
      case Some(key) => synchronized(barrierJobs(e.jobId) = key)
      case None =>
        val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
          .orElse(Option(open).map(_.id)).getOrElse(0)
        val s = newSpan(parent, "job", s"job ${e.jobId}", us(e.time))
        synchronized {
          jobs(e.jobId) = s
          e.stageIds.foreach(id => stageJob(id) = s)
        }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized(jobs.get(e.jobId)).foreach(_.endUs = us(e.time))
    synchronized(barrierJobs.remove(e.jobId)).foreach { key =>
      val b = barrier
      if (b != null && b._1 == key) b._2.countDown()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    synchronized(stageJob.get(info.stageId)).foreach { job =>
      val s = newSpan(job.id, "stage", s"stage ${info.stageId}.${info.attemptNumber()}",
        us(info.submissionTime.getOrElse(System.currentTimeMillis())))
      synchronized(stages((info.stageId, info.attemptNumber())) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stages.get((info.stageId, info.attemptNumber()))).foreach { s =>
      s.endUs = us(info.completionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
      s.synchronized {
        s.add("tasks", 1)
        if (m != null) {
          s.add("run_s", m.executorRunTime / 1e3)
          s.add("cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          s.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
          s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = open
    if (s == null) return
    s.synchronized {
      s.add("exchanges", countExchanges(qe.executedPlan))
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("simhash_pairs_")) s.add("simhash_candidates", row.getAs[Long]("candidates").toDouble)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BarrierKey = "perfbench.barrier"

  /** Exchange nodes (shuffle and broadcast) in the final plan, adaptive
    * stages and subqueries included; a reused exchange is not counted
    * again. */
  def countExchanges(p: SparkPlan): Int = {
    val here = p match {
      case _: Exchange => 1
      case _           => 0
    }
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
      case other                    => other.children ++ other.subqueries
    }
    here + inner.map(countExchanges).sum
  }

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
