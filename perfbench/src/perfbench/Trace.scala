package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: jobs, stages, tasks, time and bytes. */
final class SparkWork {
  val jobs, stages, tasks, execMs, cpuNs, shuffleBytes, shuffleRecords, spillBytes, gcMs,
    planningMs = new LongAdder

  def add(o: SparkWork): Unit = {
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, execMs -> o.execMs,
      cpuNs -> o.cpuNs, shuffleBytes -> o.shuffleBytes, shuffleRecords -> o.shuffleRecords,
      spillBytes -> o.spillBytes, gcMs -> o.gcMs, planningMs -> o.planningMs)
      .foreach { case (a, b) => a.add(b.sum) }
  }

  def asMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.planning_ms" -> planningMs.sum.toDouble,
    "spark.exec_ms" -> execMs.sum.toDouble,
    "spark.executor_cpu_ms" -> cpuNs.sum / 1e6,
    "spark.shuffle_write_bytes" -> shuffleBytes.sum.toDouble,
    "spark.shuffle_records" -> shuffleRecords.sum.toDouble,
    "spark.spill_bytes" -> spillBytes.sum.toDouble,
    "spark.gc_ms" -> gcMs.sum.toDouble)
}

/** Attributes Spark jobs, stages, tasks and query planning to the span that
  * was active on the submitting thread. The span id travels as a Spark local
  * property, which every job submitted from that thread carries; stages and
  * tasks inherit the job's span, and a query's planning phases reach it
  * through the SQL execution id its jobs carry.
  */
final class SparkAttribution extends SparkListener with QueryExecutionListener {
  import SparkAttribution._

  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val planning = new ConcurrentLinkedQueue[(Long, Long)]()
  private val events = new AtomicLong()

  def of(span: Long): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProperty)))
    p.foreach { s =>
      val span = s.toLong
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageSpan.put(id, span))
      of(span).jobs.increment()
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobSpan.get(e.jobId)).foreach { span =>
      Option(jobStart.remove(e.jobId)).foreach(t => of(span).execMs.add(e.time - t))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val w = of(span)
      w.stages.increment()
      w.tasks.add(e.stageInfo.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = of(span)
      w.cpuNs.add(m.executorCpuTime)
      w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      w.shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      w.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      w.gcMs.add(m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    planning.add((qe.id, ms))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until the listener buses have gone quiet, then fold the planning
    * records into their spans. Queries that ran no job stay unattributed.
    */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = events.get
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    var r = planning.poll()
    while (r != null) {
      Option(execSpan.get(r._1)).foreach(span => of(span).planningMs.add(r._2))
      r = planning.poll()
    }
  }
}

object SparkAttribution {
  val SpanProperty = "perfbench.span"
}

/** One timed region. `op` groups the spans of one benchmark operation. */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String,
    val thread: String, val start: Long) {
  @volatile var end: Long = -1L
  def durMs: Double = (end - start) / 1e6
}

/** Spans at layer boundaries, kept in memory and written out at the end.
  *
  * When `enabled` is false only operation roots and spans opened with
  * `always = true` are recorded, and [[force]] is the identity: that is the
  * untraced mode the end-to-end metrics come from. When it is true every
  * [[span]] is recorded and [[force]] materialises a lazy frame inside the
  * current span, so the layer that built the plan pays for running it.
  */
final class Tracer(spark: SparkSession, val attribution: SparkAttribution) {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  private def open(name: String): Span = {
    val st = stack.get
    val parent = st.headOption
    val id = ids.incrementAndGet()
    val s = new Span(id, parent.fold(0L)(_.id), parent.fold(id)(_.op), name,
      Thread.currentThread.getName, System.nanoTime())
    stack.set(s :: st)
    spark.sparkContext.setLocalProperty(SparkAttribution.SpanProperty, id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    val rest = stack.get.tail
    stack.set(rest)
    spark.sparkContext.setLocalProperty(SparkAttribution.SpanProperty,
      rest.headOption.map(_.id.toString).orNull)
    spans.add(s)
  }

  /** Root span of one operation; always recorded. */
  def op[A](name: String)(body: Span => A): A = {
    val s = open(name)
    try body(s) finally close(s)
  }

  def span[A](name: String, always: Boolean = false)(body: => A): A =
    if (!enabled && !always) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  def force(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint(eager = true) else df
}

object Plans {
  /** Every node of an executed plan, descending into adaptive plans and
    * query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)
}
