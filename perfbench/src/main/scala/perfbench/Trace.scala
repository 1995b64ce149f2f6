package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work credited to one span: filled by the listeners from the
  * `perfbench.span` local property the span sets on its thread.
  */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, shuffleWrite, spill, inputBytes, inputRows, gcMs = 0L
  var scannedRows, scannedFiles = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    gcMs += o.gcMs; scannedRows += o.scannedRows; scannedFiles += o.scannedFiles
  }
}

final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, request: Long)

/** In-memory span recorder plus the listeners that credit Spark work to
  * spans. Disabled (`enabled = false`) it runs each body unchanged and
  * installs nothing, so untraced runs measure the program alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val nextId = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val querySpan = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Integer]())
  private val t0 = Common.now()

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  /** Runs `f` inside a span named `name`; nested calls become children. */
  def span[T](name: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Prop)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Prop, id.toString)
      val start = Common.now()
      try f
      finally {
        val end = Common.now()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Prop, prevProp)
        done.synchronized(done += Span(id, name, start - t0, end - t0, parent, request))
      }
    }

  /** Opens a span with no body, for work that runs on threads Spark
    * creates (a streaming query inherits the property at `start`).
    */
  def openDetached(name: String): Unit = if (enabled) {
    val id = nextId.incrementAndGet()
    spark.sparkContext.setLocalProperty(Prop, id.toString)
    done.synchronized(done += Span(id, name, Common.now() - t0, Double.NaN, -1, -1))
  }

  def clearDetached(): Unit =
    if (enabled) spark.sparkContext.setLocalProperty(Prop, null)

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Spark work summed over every span whose name satisfies `p`. */
  def countsWhere(p: String => Boolean): Counts = {
    val ids = spans.filter(s => p(s.name)).map(_.id).toSet
    val c = new Counts
    counts.asScala.foreach { case (id, x) => if (ids(id)) c.add(x) }
    c
  }

  /** Everything the listeners saw, credited or not. */
  def total: Counts = {
    val c = new Counts
    counts.asScala.values.foreach(c.add)
    c
  }

  /** Self time per span name: duration minus the part of it covered by
    * the span's children.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans.filterNot(_.end.isNaN)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
          .sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
            case ((acc, reach), (a, b)) =>
              val from = a max reach
              (acc + math.max(0.0, b - from), reach max b)
          }._1
        (s.end - s.start) - covered
      }.sum
    }
  }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      val c = countsOf(span)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Collects `df`; traced, the query's scans are credited to the
    * current span when the query listener reports it.
    */
  def collect(df: DataFrame): Array[Row] = {
    if (enabled) stack.get.headOption.foreach(id => querySpan.put(df.queryExecution, id))
    df.collect()
  }

  /** Rows and files read by the scans of each query run through
    * [[collect]], from the executed (adaptive) plan's metrics.
    */
  private object queryListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val span = Option(querySpan.remove(qe)).map(_.intValue).getOrElse(-1)
      if (span < 0) return
      val c = countsOf(span)
      // file scans of the final adaptive plan, query stages and subqueries included
      val scans = collectWithSubqueries(qe.executedPlan) {
        case n if n.nodeName.startsWith("Scan") => n
      }
      def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      c.synchronized {
        c.scannedRows += scans.map(metric(_, "numOutputRows")).sum
        c.scannedFiles += scans.map(metric(_, "numFiles")).sum
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def spansJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
    "parent" -> s.parent, "request" -> s.request))
}

object Spark {
  /** Janino compilations so far (process-wide counter). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The `spark.*` per-layer metrics for a traced run. */
  def report(r: Result, t: Tracer, spark: SparkSession, codegen0: Long): Unit = {
    val c = t.total
    val (_, mem, disk) = graft.store.Checkpoints.storageFootprint(spark)
    r.layer("spark.jobs") = (c.jobs.toDouble, "count")
    r.layer("spark.stages") = (c.stages.toDouble, "count")
    r.layer("spark.tasks") = (c.tasks.toDouble, "count")
    r.layer("spark.failed_tasks") = (c.failedTasks.toDouble, "count")
    r.layer("spark.task_cpu_s") = (c.cpuNs / 1e9, "s")
    r.layer("spark.shuffle_write_bytes") = (c.shuffleWrite.toDouble, "B")
    r.layer("spark.spill_bytes") = (c.spill.toDouble, "B")
    r.layer("spark.input_bytes") = (c.inputBytes.toDouble, "B")
    r.layer("spark.gc_s") = (c.gcMs / 1e3, "s")
    r.layer("spark.codegen_compiles") = ((codegenCompiles() - codegen0).toDouble, "count")
    r.layer("spark.checkpoint_mb") = ((mem + disk) / 1048576.0, "MB")
  }
}
