package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed operation (a crawl iteration or a schedule pass). Warm-up
  * operations are recorded but not measured. */
final case class Op(name: String, start: Double, end: Double, count: Long, measured: Boolean,
                    cpuS: Double = Double.NaN, var ok: Boolean = true, var error: String = "")

final case class Check(name: String, ok: Boolean, detail: String)

/** Everything one workload run observed; serialised for run.py. */
final class Run(val workload: String, val seed: Long, val trace: Boolean, val launch: Double) {
  val spans = new Spans
  val ops = mutable.ArrayBuffer[Op]()
  val checks = mutable.ArrayBuffer[Check]()
  val info = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Any]()

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += Check(name, ok, if (ok) "" else detail)
    ok
  }
}

/** Context shared by the workloads. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Double, work: Path,
                     run: Run, recorder: Option[SparkRecorder])

/** Benchmark JVM entry. Usage:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --out <file> --launch <epoch s>`
  * Writes one JSON record of raw observations to `--out`; run.py turns
  * it into metrics. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "crawl-small" -> CrawlWorkload.run,
    "frontier-schedule" -> ScheduleWorkload.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val body = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val run = new Run(workload, a("seed").toLong, trace, a.get("launch").map(_.toDouble).getOrElse(Clock.now()))
    Files.createDirectories(work)

    val spark = run.spans("session", "setup") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = if (trace) {
      val r = new SparkRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    run.info("session_ready") = Clock.now()

    try body(Ctx(spark, cores, run.seed, a("seconds").toDouble, work, run, recorder))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        run.check("workload completed", ok = false, e.toString)
    }
    run.info("vm_hwm_kb") = vmHwmKb()
    recorder.foreach { _ =>
      // let the listener bus drain so the last job/SQL events are counted
      val bus = spark.sparkContext
      val t0 = System.nanoTime()
      while (bus.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() - t0 < 5e9) Thread.sleep(10)
      Thread.sleep(500)
    }
    val out = Json.obj(
      "workload" -> run.workload, "seed" -> run.seed, "trace" -> run.trace, "cores" -> cores,
      "launch" -> run.launch,
      "ops" -> Json.arr(run.ops.toSeq.map(o => Json.obj("name" -> o.name, "start" -> o.start, "end" -> o.end,
        "count" -> o.count, "measured" -> o.measured, "cpu_s" -> o.cpuS, "ok" -> o.ok, "error" -> o.error))),
      "checks" -> Json.arr(run.checks.toSeq.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))),
      "info" -> run.info.toMap,
      "layers" -> run.layers.toMap,
      "spans" -> Json.arr(run.spans.all.map(Json.span)),
      "jobs" -> Json.arr(recorder.map(_.jobsJson).getOrElse(Nil)),
      "sql" -> Json.arr(recorder.map(_.execsJson).getOrElse(Nil)),
      "handler_s" -> recorder.map(_.handlerNs.get / 1e9).getOrElse(0.0))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (kB), from /proc. */
  def vmHwmKb(): Long = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) return -1L
    scala.io.Source.fromFile(p.toFile).getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Bytes of regular files under `dir`. */
  def duBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
