package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed, the run's scratch
  * directory, the operation log and the span recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val ops: OpLog, val tracer: Tracer, val census: Option[SparkCensus]) {
  /** Set to false when something outside the timed operations (the initial
    * load, the warm-up batches, the store build) produced a wrong result. */
  var setupOk = true
  /** Log a setup milestone with its time since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - Jvm.startMs) / 1e3}%.2f s: $what")
  def setupCheck(ok: Boolean, what: => String): Unit =
    if (!ok) { setupOk = false; System.err.println(s"perfbench: setup check failed: $what") }
}

/** A closed-loop workload with one client: `setup` once, then whole
  * `round`s until the timed operations have run for the requested time,
  * then `finish` (end-of-run output checks, untimed). */
trait Workload {
  def setup(): Unit
  def round(): Unit
  def finish(): Unit
  /** Workload-specific end-to-end metrics (setup_s and run_s are common);
    * `busyS` is the summed wall time of the timed operations. */
  def endToEnd(busyS: Double): Seq[Metric]
  /** Workload-specific per-layer metrics of a traced run, from what the run
    * recorded (the session is stopped by then). */
  def perLayer(): Seq[Metric]
}

object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "run_s", "op_p50_s", "op_p90_s", "bytes_per_row",
    "cdc_rows_per_s", "lookup_p50_s", "commit_p50_s", "docs_per_s")

  val StageTypes: Seq[String] = Seq("DelimitedExtract", "TypingTransform", "SQLTransform",
    "TableExtract", "TableMergeLoad", "DedupIndexAdmit", "VectorIndexAdmit")

  /** Every per-layer metric a traced run prints, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "etl.parse_s" -> "s") ++ StageTypes.map(t => s"etl.stage_s.$t" -> "s") ++ Seq(
    "table.merge_s" -> "s",
    "table.files_touched_ratio" -> "ratio",
    "table.bytes_written_per_op" -> "B",
    "table.snapshot_s" -> "s",
    "table.files_scanned_ratio" -> "ratio",
    "table.append_s" -> "s",
    "table.lookup_s" -> "s",
    "catalog.analyze_s" -> "s",
    "dedup.sig_admit_s" -> "s",
    "dedup.vec_admit_s" -> "s",
    "dedup.store_files" -> "files",
    "dedup.vec_rows_read_per_doc" -> "rows/doc",
    "spark.jobs_per_op" -> "jobs",
    "spark.in_job_s" -> "s",
    "spark.between_jobs_s" -> "s",
    "spark.tasks_per_op" -> "tasks",
    "spark.shuffle_bytes_per_op" -> "B",
    "spark.input_bytes_per_op" -> "B",
    "jvm.gc_s" -> "s")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val cpus = kv("cpus").toInt
    val work = Paths.get(kv("work")).toAbsolutePath

    val spark = Session.create(cpus, work)
    val census = if (trace) Some(new SparkCensus) else None
    census.foreach(_.attach(spark))
    val ctx = new Ctx(spark, seed, work, new OpLog, new Tracer(trace), census)
    val w: Workload = workload match {
      case "scd2_cdc" => new Scd2Cdc(ctx)
      case "lake_reads" => new LakeReads(ctx)
      case "dedup_admit" => new DedupAdmit(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    val gc0 = Jvm.gcSeconds
    var rounds = 0
    while (ctx.ops.busySeconds < seconds) { w.round(); rounds += 1 }
    val busyS = ctx.ops.busySeconds
    // the closed loop's cycle time: a fixed-length run's own wall is the
    // requested time plus part of a round, which does not follow the
    // program's speed (one more round fitting in reads as slower)
    val runS = busyS / rounds
    val gcS = Jvm.gcSeconds - gc0
    System.err.println(f"perfbench: $rounds rounds; op seconds: " +
      ctx.ops.seconds("op").map(x => f"$x%.3f").mkString(" "))
    w.finish()

    // stopping drains the listener bus, so every job, task and SQL
    // execution of the run reached the census before it is read
    spark.stop()
    val metrics =
      if (!trace) {
        val e2e = Seq(Metric("setup_s", setupS, "s"), Metric("run_s", runS, "s")) ++ w.endToEnd(busyS)
        require(e2e.map(_.name).sorted == EndToEnd.sorted,
          s"workload $workload reports ${e2e.map(_.name)}, not $EndToEnd")
        e2e
      } else {
        System.err.println(f"perfbench: traced run: op_p50_s=${Stats.median(ctx.ops.seconds("op"))}%.4f " +
          f"ops=${ctx.ops.seconds("op").size} setup_s=$setupS%.3f run_s=$runS%.3f rounds=$rounds")
        val got = w.perLayer() ++ census.get.perOp(ctx.ops.records.filter(_.kind == "op").toSeq) :+
          Metric("jvm.gc_s", gcS, "s")
        val extra = got.map(_.name).filterNot(n => PerLayer.exists(_._1 == n))
        require(extra.isEmpty, s"unlisted per-layer metrics $extra")
        // a layer the workload does not reach did no work: it reads 0
        PerLayer.map { case (n, u) => got.find(_.name == n).getOrElse(Metric(n, 0.0, u)) }
      }
    val line = Json.result(ctx.setupOk, ctx.ops.attempted, ctx.ops.failed, metrics)
    System.out.println(line)
    System.out.flush()
  }
}

object Session {
  def create(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", work.resolve("graft-warehouse").toString)
      .withExtensions(new graft.catalog.GraftExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
