package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of one benchmark run (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String, spec: String,
                      traceOut: String, result: String, cores: Int, sf: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("spec"),
      need("trace-out"), need("result"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("sf"))
  }
}

/** The closed loop every workload runs in: one client thread, one
  * operation at a time. Records each operation's latency, counts failures
  * (exceptions and failed output checks alike), measures whole passes over
  * the workload's operation list until `--seconds` have elapsed, and, when
  * tracing, folds each operation's listener events into per-op counts. */
final class Harness(val spark: SparkSession, val args: Args, val tracer: Option[Tracer]) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val ops = mutable.ArrayBuffer.empty[Op]
  val counts = mutable.ArrayBuffer.empty[OpCounts]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var firstOpMs: Long = -1L
  var peakLiveHeapMb = 0.0
  /** Workload-specific values measured outside the operations. */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0

  /** Progress note on stderr, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s $msg")

  def attempted: Int = ops.size + checks.size
  def failed: Int = ops.count(!_.ok) + checks.count(!_._2)

  /** An output check, untimed. Its failure counts as a failed operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!r) System.err.println(s"[perfbench] check failed: $name")
    checks += name -> r
  }

  /** One registry query: construction (`fn(spark, dir)`, which may start
    * eager jobs) then execution into the `noop` sink. */
  def queryOp(name: String, pass: Int)(construct: => DataFrame): Unit = {
    val id = newId()
    tracer.foreach(_.phase(id, "construct"))
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    var t1 = -1L
    val ok = try {
      val df = construct
      t1 = System.nanoTime()
      tracer.foreach(_.plan(df.queryExecution))
      tracer.foreach(_.phase(id, "exec"))
      df.write.format("noop").mode("overwrite").save()
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e"); false }
    val t2 = System.nanoTime(); val ms2 = System.currentTimeMillis()
    if (t1 < 0) t1 = t2
    finish(Op(id, name, "queries", "query", pass, ms0, ms2, (t2 - t0) / 1e9,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok))
  }

  /** Any other operation: a sink call, an index append, a serving read.
    * `body` returns false when its output check fails. */
  def op(name: String, layer: String, kind: String, pass: Int)(body: => Boolean): Unit = {
    val id = newId()
    tracer.foreach(_.phase(id, "exec"))
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val ok = try body catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e"); false }
    val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
    finish(Op(id, name, layer, kind, pass, ms0, ms1, (t1 - t0) / 1e9, 0.0, 0.0, ok))
  }

  private def newId(): Int = {
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    nextId += 1; nextId
  }

  private def finish(op: Op): Unit = {
    ops += op
    tracer.foreach { t => t.clearPhase(); t.drain(); counts += t.close(op, jvmStartMs) }
  }

  /** Whole passes until `--seconds` have elapsed since the first pass
    * began, and at least `minPasses`. After each pass, outside its wall
    * time, a full GC measures the live heap. */
  def timed(minPasses: Int)(pass: Int => Unit): Unit = {
    tracer.foreach(_.reset())
    log("timed region starts")
    val start = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < args.seconds) {
      val t0 = System.nanoTime()
      pass(p)
      passWalls += (System.nanoTime() - t0) / 1e9
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peakLiveHeapMb = math.max(peakLiveHeapMb, used / 1048576.0)
      p += 1
    }
  }

  def setupS: Double = (firstOpMs - jvmStartMs) / 1e3
}

object Harness {
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
