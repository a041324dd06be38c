package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around each call into a layer, plus the
  * Spark work that ran under them. Spans and engine events are kept in
  * memory and written out once, when the run ends.
  *
  * Untraced runs construct this with `enabled = false`: [[span]] is then
  * a plain call and no listener is registered.
  *
  * Engine events are attributed to spans by time (a job belongs to every
  * span open when it started). One caller drives the engine, so the open
  * spans are exactly the call that submitted the job, even when the
  * engine fans the call out over its own threads.
  */
final class Trace(val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Wall-clock milliseconds with nanosecond resolution, on the same
    * epoch as Spark's listener event times.
    */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private final case class Span(id: Int, name: String, parent: Int,
      op: String, start: Double, end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  /** The op (tick, request, pass or setup phase) spans belong to. */
  @volatile var op: String = "setup"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = nowMs
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, op, start, nowMs)
      }
    }

  private final case class Job(id: Int, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final case class Stage(id: Int, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleBytes: Long)
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val plans = ArrayBuffer.empty[(Double, Long)]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized { jobs += Job(e.jobId, e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val st =
        if (m == null) Stage(i.stageId, i.numTasks, 0L, 0L, 0L)
        else Stage(i.stageId, i.numTasks, m.executorRunTime,
          m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      stages.synchronized { stages += st }
    }
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      plans.synchronized { plans += ((nowMs, ms)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Plans)
  }

  /** Stop listening; wait (bounded) until every started job has ended,
    * since listener events arrive asynchronously.
    */
  def detach(spark: SparkSession): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def pending = jobs.synchronized(jobs.exists(_.end < 0))
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(Plans)
  }

  /** Spans, jobs, stages and planning events as JSON arrays. */
  def toJson: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${Json.str(s.op)},"start":${s.start}%.3f,"end":${s.end}%.3f}""")
      .mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.synchronized(jobs.toList).map(j =>
      s"""{"id":${j.id},"start":${j.start},"end":${j.end},"stages":[${j.stages.mkString(",")}]}""")
      .mkString(",")
    sb ++= "],\"stages\":["
    sb ++= stages.synchronized(stages.toList).map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"shuffle_bytes":${s.shuffleBytes}}""")
      .mkString(",")
    sb ++= "],\"plans\":["
    sb ++= plans.synchronized(plans.toList).map { case (t, ms) =>
      f"""{"t":$t%.3f,"ms":$ms}""" }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

/** Minimal JSON writing for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
