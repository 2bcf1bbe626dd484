package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's instrument: spans around the benchmark's own calls
  * into each layer, and a SparkListener that sums task metrics per job
  * group. A span sets its name as the job group of the calling thread
  * (Spark's local properties are inherited by threads the layer starts),
  * so every job is attributed to the innermost span that started it.
  * Spans and per-job records stay in memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val groups = mutable.Map.empty[String, Agg]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execDesc = mutable.Map.empty[Long, String]
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]

  def start(): Unit = spark.sparkContext.addSparkListener(this)

  /** Detach after the listener bus has delivered every event so far. */
  def stop(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  // ---- spans ---------------------------------------------------------

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val s = synchronized {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s; stack = s :: stack; s
    }
    sc.setJobGroup(name, name)
    try body finally synchronized {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def durationS(name: String): Double =
    synchronized(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum)

  /** Span time not covered by its children. */
  def selfS(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L; var reach = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)
  def children(s: Span): Seq[Span] = synchronized(spans.filter(_.parent == s.id).toSeq)

  // ---- listener ------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, group, exec, System.nanoTime())
    e.stageIds.foreach(stageJob(_) = e.jobId)
    groups.getOrElseUpdate(group, new Agg).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val runNs = m.executorRunTime * 1000000L
      j.taskNs += runNs
      val a = groups.getOrElseUpdate(j.group, new Agg)
      a.taskNs += runNs
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDesc(s.executionId) = s.physicalPlanDescription
    }
    case _ =>
  }

  /** Totals over every job group named `name` or nested under `name.`. */
  def agg(name: String): Agg = synchronized {
    val out = new Agg
    groups.foreach { case (g, a) =>
      if (g == name || g.startsWith(name + ".")) {
        out.jobs += a.jobs; out.taskNs += a.taskNs; out.shuffleBytes += a.shuffleBytes
        out.spillBytes += a.spillBytes; out.writtenBytes += a.writtenBytes
      }
    }
    out
  }

  def jobsIn(group: String): Seq[Job] = synchronized(jobs.values.filter(_.group == group).toSeq)
  def planOf(execId: Long): String = synchronized(execDesc.getOrElse(execId, ""))

  def put(name: String, value: Double): Unit = layerMetrics(name) = value

  def writeSpans(path: String): Unit = {
    val out = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try synchronized(spans.foreach { s =>
      out.println(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> selfS(s)))
    }) finally out.close()
  }
}

object Tracer {
  val Mb = 1e6

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L)
  final class Agg {
    var jobs = 0; var taskNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var writtenBytes = 0L
  }
  final case class Job(id: Int, group: String, execId: Long, start: Long, var end: Long = -1L,
                       var taskNs: Long = 0L)
}
