package linkbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import pkel.io.StageStore

/** One timed call at a layer boundary. `parent` is -1 for a job's root. */
final case class Span(id: Int, parent: Int, job: String, name: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters summed over the tasks that ran while a span was innermost. */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var diskSpillBytes = 0L
  var outputBytes = 0L
  /** executor run time of each task, per Spark stage */
  val runMsByStage = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
}

/** Spans kept in memory and written out when the run ends. A span's id rides
  * into Spark as a thread-local job property, so [[TaskListener]] can
  * attribute every task to the innermost span that launched it. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var job = ""

  def beginJob(jobId: String): Span = { job = jobId; push("job", -1) }

  def span[T](name: String)(body: => T): T = {
    val s = push(name, open.headOption.map(_.id).getOrElse(-1))
    try body finally close(s)
  }

  /** Opens a span that [[close]] ends later, for boundaries that are not one
    * lexical call (a pipeline stage starts at its commit check and ends when
    * its commit returns). */
  def push(name: String, parent: Int): Span = {
    val s = Span(spans.size, parent, job, name, System.nanoTime())
    spans += s
    open = s :: open
    spark.sparkContext.setLocalProperty(Tracer.Property, s.id.toString)
    s
  }

  /** Ends `s` and every span still open inside it. */
  def close(s: Span): Unit = {
    val now = System.nanoTime()
    while (open.nonEmpty && open.head.id != s.id) { open.head.endNs = now; open = open.tail }
    if (open.nonEmpty) { s.endNs = now; open = open.tail }
    spark.sparkContext.setLocalProperty(Tracer.Property,
      open.headOption.map(_.id.toString).orNull)
  }

  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id).toSeq

  def subtree(p: Span): Seq[Span] = p +: children(p).flatMap(subtree)

  def toJson: String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValueAsString(spans.map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "job" -> s.job, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava).asJava)
  }
}

object Tracer {
  val Property = "linkbench.span"
}

/** Benchmark-owned listener: per-span task totals, keyed by the span id each
  * Spark stage was submitted under. Stages submitted with no span (untraced
  * jobs) are ignored. */
final class TaskListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val totals = new ConcurrentHashMap[Integer, TaskTotals]()
  @volatile var unattributedTasks = 0L

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .foreach(id => stageSpan.put(e.stageInfo.stageId, id.toInt))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)) match {
      case Some(span) if m != null =>
        val t = totals.computeIfAbsent(span, _ => new TaskTotals)
        t.synchronized {
          t.tasks += 1
          t.cpuNs += m.executorCpuTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.diskSpillBytes += m.diskBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
          t.runMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
        }
      case _ => unattributedTasks += 1
    }
  }

  /** Totals over the given spans (callers pass a span's subtree). */
  def sum(spans: Seq[Span]): TaskTotals = {
    val out = new TaskTotals
    spans.flatMap(s => Option(totals.get(Integer.valueOf(s.id)))).foreach { t =>
      out.tasks += t.tasks; out.cpuNs += t.cpuNs
      out.shuffleWriteBytes += t.shuffleWriteBytes; out.diskSpillBytes += t.diskSpillBytes
      out.outputBytes += t.outputBytes
      t.runMsByStage.foreach { case (k, v) => out.runMsByStage.getOrElseUpdate(k, ArrayBuffer.empty) ++= v }
    }
    out
  }
}

/** A [[StageStore]] that records a span per pipeline stage — from the
  * stage's commit check to the return of its commit — with a child span
  * around `StageStore.commit`, and delegates all storage to `inner`. Each job
  * gets a fresh root, so reading a committed stage back is a measurement
  * error and throws. */
final class TracingStore(inner: StageStore, tracer: Tracer, job: Span,
    protected val spark: SparkSession) extends StageStore {
  def root: String = inner.root
  def runId: String = inner.runId
  private var stage: Option[Span] = None

  def isCommitted(name: String, fingerprint: String): Boolean = {
    stage.foreach(tracer.close)
    stage = Some(tracer.push(s"stage.$name", job.id))
    inner.isCommitted(name, fingerprint)
  }

  protected def committedLocation(name: String): String =
    throw new IllegalStateException(s"stage '$name' replayed from a fresh root")

  def commit(name: String, df: DataFrame, fingerprint: String,
      audit: Option[StageStore.Audit]): DataFrame = {
    val out = tracer.span("StageStore.commit")(inner.commit(name, df, fingerprint, audit))
    stage.foreach(tracer.close)
    stage = None
    out
  }
}
