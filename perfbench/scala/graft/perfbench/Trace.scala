package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds on a monotonic clock, aligned once with the wall
  * clock so span bounds compare with Spark's epoch-millisecond task times.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans around the benchmark's calls into each layer. Kept in memory and
  * written once when the run ends; recording is off unless `enabled`.
  * One driver thread issues every call, so spans nest strictly.
  */
final class Tracer(val runId: String) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val pass: Int, val start: Long) { var end: Long = -1L }

  var enabled = false
  var pass = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        pass, Clock.nowUs)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = Clock.nowUs; stack = stack.tail }
    }

  def json: String = spans.map(s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""pass":${s.pass},"start_us":${s.start},"end_us":${s.end},""" +
      s""""run":${Json.str(runId)}}""").mkString("[", ",\n", "]")
}

/** Task and job events, attributed to spans afterwards by launch time. */
final class TaskListener extends SparkListener {
  // launch_ms, finish_ms, run_ms, cpu_ns, shuffle_read_bytes, shuffle_write_bytes, spill_bytes
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  val jobs = new ConcurrentLinkedQueue[Array[Long]]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Array(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Array(e.jobId.toLong, e.time))

  def json: String =
    s"""{"tasks":${tasks.asScala.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},""" +
      s""""jobs":${jobs.asScala.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")}}"""
}

/** Per executed query: when planning ended (epoch ms), optimizer and
  * planner time, and how many in-memory cache scans the executed plan
  * holds (a cache scan is a reuse of a session-persisted frame).
  */
final class QeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  // planned_ms, optimize_ms, planning_ms, cache_scans
  val events = new ConcurrentLinkedQueue[Array[Long]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def took(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    val scans = collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
    events.add(Array(at, took("optimization"), took("planning"), scans.toLong))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def json: String = events.asScala.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
