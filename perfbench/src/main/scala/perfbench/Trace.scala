package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Times are epoch milliseconds (fractional) so
  * benchmark spans line up with Spark's job and Catalyst-phase times. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, op: String) {
  def ms: Double = endMs - startMs
}

/** Per-layer counters for one job or one op, summed. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Tracer.SparkKeys.map(_ -> 0.0): _*)
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def addAll(o: Counters): Unit = o.v.foreach { case (k, x) => add(k, x) }
}

/** The traced run's recorder. Spans are kept in memory and written
  * out at exit. Spark work is tied to the benchmark's ops by the job
  * group the benchmark sets around every call into a layer
  * (`<op id>/<span name>`); Catalyst phases come from
  * `QueryExecution.tracker` and are tied to the op whose span holds
  * them in time. With tracing off every method is a plain call. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  // job id -> (group, start ms, end ms, stage ids)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int,
    (String, Double, Double, Seq[Int])]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobCounters = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, (group, e.time.toDouble, Double.NaN, e.stageIds))
      counters(e.jobId).add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        jobs.put(e.jobId, j.copy(_3 = e.time.toDouble))
        counters(e.jobId).add("spark.job_ms", e.time - j._2)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId))
        .foreach(j => counters(j).add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val c = counters(j)
        c.add("spark.tasks", 1)
        if (!e.taskInfo.successful) c.add("spark.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          c.add("spark.scan_bytes", m.inputMetrics.bytesRead)
          c.add("spark.scan_records", m.inputMetrics.recordsRead)
          c.add("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          c.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          c.add("spark.spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
          c.add("spark.result_bytes", m.resultSize)
          c.add("spark.executor_run_ms", m.executorRunTime)
          c.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          c.add("spark.gc_ms", m.jvmGCTime)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
  }

  private def counters(job: Int): Counters =
    jobCounters.computeIfAbsent(job, _ => new Counters)

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = if (on) {
    waitForListeners()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Listener events arrive asynchronously; wait until the job table
    * has stopped changing and every job has ended. */
  def waitForListeners(): Unit = if (on) {
    var last = -1
    var tries = 0
    while (tries < 50 && (jobs.size != last ||
        jobs.values.asScala.exists(_._3.isNaN))) {
      last = jobs.size
      tries += 1
      Thread.sleep(100)
    }
    Thread.sleep(200)
  }

  /** Run `body` as a span named `name` under the current span; `op`
    * names the benchmark op it belongs to (inherited when empty). The
    * span's Spark jobs carry the job group `<op>/<name>`. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!on) body else {
      val parent = stack.get()
      val opId = if (op.nonEmpty) op else parent.headOption.map(_._2).getOrElse("")
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"$opId/$name", name, interruptOnCancel = false)
      stack.set((id, opId) :: parent)
      val t0 = nowMs
      try body finally {
        spans.add(Span(id, name, t0, nowMs, parent.headOption.map(_._1).getOrElse(0L), opId))
        stack.set(parent)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
      }
    }

  /** Counters of the jobs whose group satisfies `pred`. */
  def countersFor(pred: String => Boolean): Counters =
    countersOf((g, _) => pred(g))

  /** Counters of op `op`'s jobs: those in its job groups, plus jobs
    * started inside its span under a group the benchmark did not set
    * (a streaming query's micro-batches run under the query's own). */
  def countersOfOp(op: String): Counters = {
    val own = allSpans.filter(_.op == op)
    countersOf((g, t) => g.startsWith(op + "/") ||
      (!g.contains('#') && own.exists(s => s.startMs <= t && t <= s.endMs)))
  }

  private def countersOf(pred: (String, Double) => Boolean): Counters = {
    val c = new Counters
    jobs.asScala.foreach { case (j, (g, t0, _, _)) =>
      if (pred(g, t0)) c.addAll(counters(j))
    }
    c
  }

  /** Catalyst phase milliseconds (analysis, optimization, planning),
    * summed over the phases whose start satisfies `inside`. */
  def catalystMs(inside: Double => Boolean): Map[String, Double] =
    phases.asScala.toSeq.filter(p => inside(p._2))
      .groupMapReduce(_._1)(p => p._3 - p._2)(_ + _)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Writes every span plus the Spark jobs (children of the layer span
    * whose job group ran them) and Catalyst phases (children of the
    * `plan` span holding them), and self-time totals per span name. */
  def writeTrace(path: String): Unit = if (on) {
    val own = allSpans
    val opSpan = own.filter(s => s.parent == 0 || !own.exists(_.id == s.parent))
    val byOpName = own.groupBy(s => s.op -> s.name).view.mapValues(_.head).toMap
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).map { case (j, (g, t0, t1, _)) =>
      val (op, layer) = g.split("/", 2) match {
        case Array(o, l) => (o, l)
        case Array(o) => (o, "")
      }
      val parent = byOpName.get(op -> layer).map(_.id).getOrElse(0L)
      Span(-j.toLong - 1, s"spark.job", t0, if (t1.isNaN) t0 else t1, parent, op)
    }
    val phaseSpans = phases.asScala.toSeq.map { case (n, t0, t1) =>
      val parent = own.filter(s => s.name == "plan" && s.startMs <= t0 && t0 <= s.endMs)
        .lastOption.map(_.id).getOrElse(0L)
      Span(0, s"catalyst.$n", t0, t1, parent, "")
    }
    val all = own ++ jobSpans ++ phaseSpans
    val children = all.groupBy(_.parent)
    // a span's duration minus the part of it its children cover
    // (children may overlap: concurrent Spark jobs)
    def self(s: Span): Double = if (s.id == 0) s.ms else {
      val cs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0.0
      var end = Double.NegativeInfinity
      cs.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.ms - covered
    }
    val selfByName = all.groupMapReduce(_.name)(self)(_ + _)
    Json.write(path, Json.obj(
      "ops" -> opSpan.size,
      "self_ms" -> selfByName.toSeq.sortBy(-_._2).map { case (k, x) =>
        Json.obj("span" -> k, "self_ms" -> x) },
      "spans" -> all.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "op" -> s.op))))
  }
}

object Tracer {
  // epoch milliseconds (Spark's clock) at nanoTime resolution
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = epochBase + System.nanoTime() / 1e6

  val SparkKeys: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.job_ms", "spark.scan_bytes",
    "spark.scan_records", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.result_bytes",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms")
}
