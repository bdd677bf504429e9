package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One wall clock for everything the benchmark records: epoch seconds,
  * advanced by `nanoTime` so durations keep sub-millisecond digits while
  * staying comparable with Spark listener event times (epoch ms). */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1000.0
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** A span around one benchmark call. Parents are explicit; Spark jobs and
  * SQL executions recorded by [[SparkRecorder]] are attached to spans
  * afterwards by interval containment (see metrics.py). */
final case class Span(id: Int, parent: Int, name: String, kind: String, start: Double, end: Double,
                      attrs: Map[String, Double], tags: Map[String, String])

/** In-memory span recorder; written out once, at the end of the run. */
final class Spans {
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var next = 1

  def current: Int = if (stack.isEmpty) 0 else stack.top

  /** Time `body` as a child of the innermost open span. */
  def apply[T](name: String, kind: String, tags: Map[String, String] = Map.empty)(body: => T): T =
    counted(name, kind, tags)(body)(_ => Map.empty)

  /** Like [[apply]]; `attrs` computes the span's counts from its result. */
  def counted[T](name: String, kind: String, tags: Map[String, String] = Map.empty)(body: => T)
                (attrs: T => Map[String, Double]): T = {
    val id = next; next += 1
    val parent = current
    stack.push(id)
    val t0 = Clock.now()
    try {
      val r = body
      done += Span(id, parent, name, kind, t0, Clock.now(), attrs(r), tags)
      r
    } catch {
      case e: Throwable =>
        done += Span(id, parent, name, kind, t0, Clock.now(), Map.empty, tags + ("error" -> e.toString))
        throw e
    } finally stack.pop()
  }

  /** Record a span whose bounds were observed elsewhere (e.g. a crawl
    * iteration delimited by STATUS.json rewrites). */
  def add(name: String, kind: String, start: Double, end: Double, parent: Int,
          attrs: Map[String, Double] = Map.empty, tags: Map[String, String] = Map.empty): Unit = {
    done += Span(next, parent, name, kind, start, end, attrs, tags)
    next += 1
  }

  def all: Seq[Span] = done.toSeq
}

/** Outside-in Spark instrumentation: per-job task counters and per-SQL-
  * execution write/scan metrics, from public listener events only. */
final class SparkRecorder extends SparkListener {
  final class Job(val id: Int, val start: Double, val site: String) {
    @volatile var end: Double = -1
    val tasks = new AtomicLong; val cpuNs = new AtomicLong; val runMs = new AtomicLong
    val gcMs = new AtomicLong; val shuffleW = new AtomicLong; val shuffleR = new AtomicLong
    val spill = new AtomicLong; val inRecords = new AtomicLong; val inBytes = new AtomicLong
  }
  final class Exec(val id: Long, val start: Double, val desc: String) {
    @volatile var end: Double = -1
    @volatile var path: String = ""
    val values = new ConcurrentHashMap[String, AtomicLong]()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // accumulator id -> (execution, metric name) for the SQL metrics we keep
  private val accs = new ConcurrentHashMap[Long, (Long, String)]()
  val handlerNs = new AtomicLong

  private val keep = Set("number of written files", "written output", "number of files read", "size of files read")
  private val writeCmd = "InsertIntoHadoopFsRelationCommand\\s+([^,\\s]+)".r

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time / 1000.0, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1000.0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      if (m != null) {
        j.cpuNs.addAndGet(m.executorCpuTime); j.runMs.addAndGet(m.executorRunTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.inRecords.addAndGet(m.inputMetrics.recordsRead); j.inBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private def register(execId: Long, plan: SparkPlanInfo): Unit = {
    val x = execs.get(execId)
    def walk(p: SparkPlanInfo): Unit = {
      if (x != null && x.path.isEmpty)
        writeCmd.findFirstMatchIn(p.simpleString).foreach(m => x.path = m.group(1))
      p.metrics.foreach(mi => if (keep.contains(mi.name)) accs.put(mi.accumulatorId, (execId, mi.name)))
      p.children.foreach(walk)
    }
    walk(plan)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs.put(e.executionId, new Exec(e.executionId, e.time / 1000.0, e.description))
        register(e.executionId, e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveExecutionUpdate => register(e.executionId, e.sparkPlanInfo)
      case e: SparkListenerDriverAccumUpdates =>
        e.accumUpdates.foreach { case (acc, v) =>
          Option(accs.get(acc)).foreach { case (execId, name) =>
            Option(execs.get(execId)).foreach(_.values.computeIfAbsent(name, _ => new AtomicLong).addAndGet(v))
          }
        }
      case e: SparkListenerSQLExecutionEnd => Option(execs.get(e.executionId)).foreach(_.end = e.time / 1000.0)
      case _ =>
    }
  }

  def jobsJson: Seq[String] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Json.obj("id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.site,
      "tasks" -> j.tasks.get, "cpu_s" -> j.cpuNs.get / 1e9, "run_s" -> j.runMs.get / 1e3,
      "gc_s" -> j.gcMs.get / 1e3, "shuffle_write_b" -> j.shuffleW.get, "shuffle_read_b" -> j.shuffleR.get,
      "spill_b" -> j.spill.get, "input_records" -> j.inRecords.get, "input_b" -> j.inBytes.get)
  }

  def execsJson: Seq[String] = execs.values.asScala.toSeq.sortBy(_.id).map { x =>
    val v = (k: String) => Option(x.values.get(k)).map(_.get).getOrElse(0L)
    Json.obj("id" -> x.id, "start" -> x.start, "end" -> x.end, "desc" -> x.desc, "path" -> x.path,
      "files_written" -> v("number of written files"), "bytes_written" -> v("written output"),
      "files_read" -> v("number of files read"), "bytes_read" -> v("size of files read"))
  }
}

/** Minimal JSON writer (the harness has no JSON dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String = kv.map { case (k, x) => s"${str(k)}:${value(x)}" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): Raw = Raw(xs.mkString("[", ",", "]"))

  def span(s: Span): String = obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs, "tags" -> s.tags)
}
