package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: a setup that builds what the timed ops read, and one
  * closed-loop op. A single caller runs the ops back to back, each after
  * the previous one returned.
  */
trait Workload {
  /** Input items one op handles (rows, docs or queries). */
  def itemsPerOp: Long
  /** Make every input from the seed; not part of setup time. */
  def generate(): Unit
  /** Build the stores and models the ops read. */
  def build(): Unit
  /** Calls made before timing starts. */
  def warmup(): Unit
  /** One timed op. Returns named extra timings for this op. */
  def op(i: Int): Map[String, Double]
  /** Output checks for op `i`, run after it is timed. */
  def check(i: Int): Unit
  /** Checks and figures taken once, after the last op. */
  def finish(): Unit
  /** Bytes the workload's stores hold on disk, and the input bytes they
    * admitted.
    */
  def storeBytes: (Long, Long)
}

/** Options from the command line. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: String, out: String, expect: String)

/** Drives one workload run: session, setup, timed closed loop, checks,
  * and the raw record the Python front end turns into metrics.
  */
final class Harness(val opts: Opts) {
  val trace = new Trace(opts.traced)
  private var sparkOpt: Option[SparkSession] = None
  def spark: SparkSession = sparkOpt.get
  def work(sub: String): String = s"${opts.work}/$sub"

  private val setupPhases = ArrayBuffer.empty[(String, Double)]
  private val opLat = ArrayBuffer.empty[Double]
  private val opExtra = ArrayBuffer.empty[Map[String, Double]]
  private val opJvm = ArrayBuffer.empty[(Double, Double)]
  private val errors = ArrayBuffer.empty[String]
  private val figures = ArrayBuffer.empty[(String, Double)]
  private var failedOps = 0
  private var genSec = 0.0
  private var firstOpMs = 0.0
  private var opFailed = false
  private var itemsPerOp = 0L

  def figure(name: String, v: Double): Unit = figures += (name -> v)

  /** Record a failed check or call: exception class and the first line
    * of its message. The op in progress counts as failed.
    */
  def fail(what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .find(_.nonEmpty).getOrElse("")
    errors += Json.obj("what" -> Json.str(what),
      "class" -> Json.str(e.getClass.getName), "message" -> Json.str(msg))
    System.err.println(s"[perfbench] FAIL $what: ${e.getClass.getName}: $msg")
    opFailed = true
  }

  /** A named output check: fails loudly when `ok` is false or throws. */
  def check(name: String)(ok: => Boolean, detail: => String = ""): Unit =
    try {
      if (!ok) fail(name, new AssertionError(s"check failed: $name $detail"))
    } catch { case e: Exception => fail(name, e) }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }

  private def phase[T](name: String)(body: => T): T = {
    val (r, s) = timed(trace.span(s"setup.$name")(body))
    setupPhases += (name -> s)
    r
  }

  // ---- JVM telemetry ----
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  private var oldPeak = 0L
  /** Old-generation occupancy after a full collection — what the run
    * keeps live — sampled after every op, outside its timing. Occupancy
    * after young collections would count promoted garbage instead.
    */
  private def sampleOldGen(): Unit = {
    System.gc()
    oldPools.foreach { p =>
      val u = p.getCollectionUsage
      if (u != null && u.getUsed > oldPeak) oldPeak = u.getUsed
    }
  }
  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  private val threadMx = ManagementFactory.getThreadMXBean
  private def allocMb: Double = threadMx match {
    case tm: com.sun.management.ThreadMXBean =>
      tm.getThreadAllocatedBytes(tm.getAllThreadIds).filter(_ > 0L).sum / 1e6
    case _ => 0.0
  }

  /** A session on `cores` local cores with the engine's standard
    * configuration.
    */
  def session(cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.build(s"perfbench-${opts.workload}")
    require(s.sparkContext.defaultParallelism == cores,
      s"expected local[$cores], got parallelism ${s.sparkContext.defaultParallelism}")
    sparkOpt = Some(s)
    s
  }

  /** Rebuild the session on one core with otherwise identical settings —
    * the single-threaded baseline pass of the traced run.
    */
  def singleCoreSession(): SparkSession = {
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) =>
        k == "spark.master" || k.startsWith("spark.driver.") ||
          k == "spark.app.id" || k == "spark.executor.id" ||
          k == "spark.app.startTime" }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder().master("local[1]")
      .withExtensions(new graft.functions.GraftExtensions)
    conf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", "1")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sparkOpt = Some(s)
    s
  }

  def run(mk: Harness => Workload, cores: Int): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var w: Workload = null
    var setupOk = true
    try {
      phase("session") { session(cores) }
      trace.attach(spark)
      w = mk(this)
      val (_, g) = timed(trace.span("setup.generate")(w.generate()))
      genSec = g
      phase("build") { w.build() }
      phase("warmup") { w.warmup() }
    } catch { case e: Exception => fail("setup", e); setupOk = false }

    if (setupOk && !opFailed) {
      firstOpMs = trace.nowMs
      val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
      var i = 0
      var consecutive = 0
      do {
        opFailed = false
        trace.op = s"op$i"
        val (g0, a0) = if (opts.traced) (gcMs, allocMb) else (0.0, 0.0)
        val t0 = System.nanoTime()
        val extra = try trace.span("op")(w.op(i))
          catch { case e: Exception => fail(s"op$i", e); Map.empty[String, Double] }
        opLat += secs(t0)
        opExtra += extra
        if (opts.traced) opJvm += ((gcMs - g0, allocMb - a0))
        trace.op = s"check$i"
        if (!opFailed) w.check(i)
        sampleOldGen()
        if (opFailed) { failedOps += 1; consecutive += 1 } else consecutive = 0
        i += 1
      } while (System.nanoTime() < deadline && consecutive < 3)
      trace.op = "finish"
      opFailed = false
      try w.finish() catch { case e: Exception => fail("finish", e) }
      if (opFailed) failedOps = math.max(failedOps, 1)
      try {
        val (sb, ib) = w.storeBytes
        figure("store_bytes", sb.toDouble)
        figure("input_bytes", ib.toDouble)
      } catch { case e: Exception => fail("store_bytes", e); failedOps = math.max(failedOps, 1) }
    } else failedOps = 1
    trace.detach(spark)

    sampleOldGen()
    if (w != null) itemsPerOp = w.itemsPerOp
    val attempted = math.max(1, opLat.size)
    writeRecord(attempted, setupPhases.map(_._2).sum, jvmStartMs, cores)
    try spark.stop() catch { case _: Exception => }
    if (failedOps == 0 && errors.isEmpty) 0 else 1
  }

  private def writeRecord(attempted: Int, setupSec: Double,
      jvmStartMs: Double, cores: Int): Unit = {
    val extras = opExtra.flatMap(_.keys).distinct
    val rec = Json.obj(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "traced" -> opts.traced.toString,
      "cores" -> cores.toString,
      "items_per_op" -> itemsPerOp.toString,
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "errors" -> Json.arr(errors),
      "setup_s" -> Json.num(setupSec),
      "setup_phases" -> Json.obj(setupPhases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "generate_s" -> Json.num(genSec),
      "jvm_to_first_op_s" -> Json.num(
        if (firstOpMs > 0) (firstOpMs - jvmStartMs) / 1e3 else 0.0),
      "op_s" -> Json.arr(opLat.map(Json.num)),
      "op_extra" -> Json.obj(extras.toSeq.map(k =>
        k -> Json.arr(opExtra.flatMap(_.get(k)).map(Json.num))): _*),
      "op_gc_ms" -> Json.arr(opJvm.map(x => Json.num(x._1))),
      "op_alloc_mb" -> Json.arr(opJvm.map(x => Json.num(x._2))),
      "figures" -> Json.obj(figures.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "old_gen_peak_mb" -> Json.num(oldPeak / 1e6),
      "trace" -> (if (opts.traced) trace.toJson else "null"))
    val f = new File(opts.out)
    val tmp = new File(opts.out + ".tmp")
    val pw = new java.io.PrintWriter(tmp, "UTF-8")
    try pw.write(rec) finally pw.close()
    if (!tmp.renameTo(f)) throw new java.io.IOException(s"rename to $f failed")
  }
}

/** Entry point: `graft.perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --expect FILE`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val opts = Opts(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("work"),
      need("out"), m.getOrElse("expect", ""))
    val mk: Harness => Workload = opts.workload match {
      case "weather_etl" => new WeatherEtl(_)
      case "corpus_maintain" => new CorpusMaintain(_)
      case "retrieval_serve" => new RetrievalServe(_)
      case "curate_10x" => new Curate10x(_)
      case w => sys.error(s"unknown workload $w")
    }
    val cores = graft.GraftSession.cpus.toInt
    val code = new Harness(opts).run(mk, cores)
    System.exit(code)
  }
}
