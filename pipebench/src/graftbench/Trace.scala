package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one job, as the listener saw it. */
final case class JobStat(startMs: Long, var endMs: Long, var outBytes: Long, var shuffleBytes: Long)

/** One traced call: name, interval, parent span and operation id, plus the
  * Spark work the listener assigned to it through its job group.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var gcMs = 0L
  // filled by the listener
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var planningMs = 0L
  val jobStats = mutable.ArrayBuffer.empty[JobStat]
  val taskTimes = mutable.ArrayBuffer.empty[(Long, Long)] // (launch, end of run) ms
  def seconds: Double = (endNs - startNs) / 1e9

  /** Most tasks running at once, from each task's launch time plus its
    * executor deserialize and run time. Listener events and the driver's
    * finish times lag the executor, so counting with them overcounts.
    */
  def maxConcurrent: Int = {
    val edges = taskTimes.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    edges.scanLeft(0)(_ + _._2).max
  }
}

/** Records spans around the program's public calls and assigns Spark job,
  * stage and task metrics to them by job group (a `SparkListener`), and
  * planning time by interval (a `QueryExecutionListener`). The listeners are
  * registered only inside [[attached]]. Spans stay in memory until [[dump]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, durationMs)

  private val GroupPrefix = "graftbench-span-"
  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(g => spans(g.stripPrefix(GroupPrefix).toInt))

  private object listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Span]
    private val stageJob = mutable.HashMap.empty[Int, JobStat]
    private val jobs = mutable.HashMap.empty[Int, JobStat]

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        val j = JobStat(e.time, e.time, 0L, 0L)
        s.jobs += 1; s.jobStats += j; jobs(e.jobId) = j
        e.stageIds.foreach { id => stageSpan(id) = s; stageJob(id) = j }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.taskTimes += ((e.taskInfo.launchTime,
            e.taskInfo.launchTime + m.executorDeserializeTime + m.executorRunTime))
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRecords += m.outputMetrics.recordsWritten
          stageJob.get(e.stageId).foreach { j =>
            j.outBytes += m.outputMetrics.bytesWritten
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
  }

  /** Run `body` with both listeners registered, and only then, so that the
    * untraced half of a pair runs without them.
    */
  def attached[T](body: => T): T = {
    GraftBenchBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    try body
    finally {
      settle()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** A new operation id for a root span. */
  def newOp(): Int = { nextOp += 1; nextOp }

  /** Run `body` inside a span; every Spark job it starts joins the span's job group. */
  def span[T](name: String, op: Int = -1)(body: => T): T = {
    val parent = stack.headOption
    val s = synchronized {
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(newOp()))
      spans += s
      s
    }
    stack.push(s)
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    val gc0 = gcMillis
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = gcMillis - gc0
      stack.pop()
      parent match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait for the listener bus, then assign planning time to innermost spans. */
  def settle(): Unit = {
    GraftBenchBridge.drainListenerBus(sc)
    synchronized {
      planning.foreach { case (t, ms) =>
        spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs).foreach(_.planningMs += ms)
      }
      planning.clear()
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum
  def all: Seq[Span] = spans.toSeq

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"max_concurrent_tasks":${s.maxConcurrent},""" +
        s""""planning_ms":${s.planningMs},"gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWrite},""" +
        s""""spill_bytes":${s.spill},"input_bytes":${s.inBytes},"input_records":${s.inRecords},""" +
        s""""output_bytes":${s.outBytes},"output_records":${s.outRecords}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
