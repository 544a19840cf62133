package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One timed operation of the closed loop. `kind` is "op" for the
  * workload's unit operation, "lookup" or "commit" for the others. */
final case class OpRecord(kind: String, nanos: Long, startMs: Long, endMs: Long)

/** Timed operations of a run, and the attempted/failed census. */
final class OpLog {
  val records = ArrayBuffer.empty[OpRecord]
  var attempted = 0
  var failed = 0

  /** Time `body` as one operation of `kind`. An exception counts the
    * operation as failed and yields None. */
  def timed[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = body
      records += OpRecord(kind, System.nanoTime() - t0, ms0, System.currentTimeMillis())
      Some(a)
    } catch {
      case e: Exception =>
        records += OpRecord(kind, System.nanoTime() - t0, ms0, System.currentTimeMillis())
        failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Record the verdict of an operation's output check. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }

  def seconds(kind: String): Seq[Double] =
    records.filter(_.kind == kind).map(_.nanos / 1e9).toSeq
  def busySeconds: Double = records.map(_.nanos).sum / 1e9
}

/** A span: a timed call into one layer. `parent` is the enclosing span
  * (-1 at the top) and `op` the index of the operation that caused it. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory span recorder; with `on` false every call is a plain call. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** name -> (summed self seconds, span count) over the spans of timed
    * operations (op >= 0); self time is a span's duration minus the time
    * its child spans cover. */
  def selfTimes: Map[String, (Double, Int)] = {
    val childNanos = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    spans.filter(_.op >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => s.end - s.start - childNanos.getOrElse(s.id, 0L)).sum / 1e9, ss.size)
    }
  }
}

/** Scheduler census from Spark's public listener hooks: jobs and tasks by
  * wall-clock window, plus a callback per finished SQL execution. */
final class SparkCensus extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(launch: Long, inputBytes: Long, shuffleBytes: Long)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val onPlan = ArrayBuffer.empty[QueryExecution => Unit]

  def whenExecuted(f: QueryExecution => Unit): Unit = synchronized { onPlan += f; () }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks += Task(e.taskInfo.launchTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { onPlan.foreach(_(qe)) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Per-operation means over the given windows: jobs, in-job seconds
    * (union of job intervals inside the window), between-job seconds
    * (window time covered by no job), tasks, shuffle and input bytes.
    * Call after the SparkContext stopped, so every event was delivered. */
  def perOp(windows: Seq[OpRecord]): Seq[Metric] = synchronized {
    val n = math.max(1, windows.size).toDouble
    var nJobs, nTasks = 0L
    var inJob, between, shuffle, input = 0.0
    windows.foreach { w =>
      val js = jobs.values.filter(j => j.start >= w.startMs && j.start <= w.endMs).toSeq
      nJobs += js.size
      val ivs = js.map(j => (j.start, if (j.end < 0) w.endMs else math.min(j.end, w.endMs)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      ivs.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      inJob += covered / 1e3
      between += math.max(0L, w.endMs - w.startMs - covered) / 1e3
      val ts = tasks.filter(t => t.launch >= w.startMs && t.launch <= w.endMs)
      nTasks += ts.size
      shuffle += ts.map(_.shuffleBytes).sum.toDouble
      input += ts.map(_.inputBytes).sum.toDouble
    }
    Seq(
      Metric("spark.jobs_per_op", nJobs / n, "jobs"),
      Metric("spark.in_job_s", inJob / n, "s"),
      Metric("spark.between_jobs_s", between / n, "s"),
      Metric("spark.tasks_per_op", nTasks / n, "tasks"),
      Metric("spark.shuffle_bytes_per_op", shuffle / n, "B"),
      Metric("spark.input_bytes_per_op", input / n, "B"))
  }
}

object Jvm {
  /** JVM start, epoch milliseconds. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }
}

object Disk {
  /** On-disk bytes of the live files of each table's head version. */
  def liveBytes(spark: SparkSession, tables: Seq[String]): Long =
    tables.map(t => graft.table.VersionedTable(t).detail(spark).select("size_bytes").head().getLong(0)).sum

  /** Bytes of the regular files under `root`. */
  def bytes(root: Path): Long = {
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try {
      var n = 0L
      s.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
      n
    } finally s.close()
  }
}

object Json {
  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    java.math.BigDecimal.valueOf(x).toPlainString
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"
}
