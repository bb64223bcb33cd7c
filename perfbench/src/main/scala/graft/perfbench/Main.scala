package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** One benchmark run of one workload.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --data <dir> --out <result.json>
  * }}}
  * `setup_s` runs from JVM start to the first timed operation: the JVM,
  * the SparkSession, the workload's warm-up, its inputs and its indexes.
  */
trait Workload {
  /** Build inputs and indexes under `dir` on the current session. */
  def prepare(ctx: Ctx, dir: String): Unit
  /** Run for `ctx.seconds`, check outputs, fill `ctx.report`. */
  def measure(ctx: Ctx, dir: String): Unit
}

final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val cores: Int, val work: String, val data: String, val report: Report,
    val tracer: Tracer) {
  val engine = new EngineRecorder
  val progress = new ProgressRecorder
  private var session: SparkSession = _
  def spark: SparkSession = session

  def newSession(): SparkSession = {
    // the session confs of graft.Bench, at one task thread per core
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    // one event per epoch; `llm`'s end-to-end figures read it
    session.streams.addListener(progress)
    if (tracer.enabled) {
      session.sparkContext.addSparkListener(engine)
      session.listenerManager.register(engine)
    }
    session
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val report = new Report(workload, seed, traced)
    val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
    val ctx = new Ctx(workload, seed, opt("seconds").toInt, opt("cores").toInt,
      opt("work"), opt("data"), report, tracer)
    val w: Workload = workload match {
      case "cdc"   => new CdcWorkload(ctx)
      case "llm"   => new IngestWorkload(ctx)
      case other         => sys.error(s"unknown workload $other")
    }
    var code = 0
    try {
      log("set-up")
      ctx.newSession()
      log("session ready")
      val dir = s"${ctx.work}/run"
      w.prepare(ctx, dir)
      report.end("setup_s", (System.nanoTime() - jvmStartNs) / 1e9, "s", 1,
        "JVM start to the first timed operation")
      log("measure")
      w.measure(ctx, dir)
      log("done")
      report.per("jvm.gc_ms", gcMs, "ms", 1, "collector time over the whole run")
      if (traced) Files.writeString(Paths.get(opt("out") + ".trace.json"), tracer.toJson)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        report.fail(1, s"run threw ${t.getClass.getSimpleName}: ${t.getMessage}")
        code = 3
    } finally {
      Files.writeString(Paths.get(opt("out")), report.toJson)
      try if (ctx.spark != null) ctx.spark.stop() catch { case _: Throwable => () }
    }
    System.exit(code)
  }

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** JVM start on the `System.nanoTime` clock */
  private val jvmStartNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L

  /** Progress line on stderr (the runner keeps it in the run's log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2fs] $msg")

  /** Total garbage-collector time of this JVM so far, ms. */
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }

  /** High-water resident set of this process, MB (Linux VmHWM). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
