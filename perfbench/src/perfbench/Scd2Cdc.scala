package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.table.VersionedTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `scd2_cdc`: the reference SCD2 job. An initial contact load, then daily
  * CDC batches, each a headerless CSV run as one workflow document:
  * DelimitedExtract, TypingTransform with a schema doc, a SQL projection
  * with an md5 checksum, TableExtract of the current table, the dual-row
  * staging SQL and a TableMergeLoad with pruneKeys. After each batch the
  * client looks up a few of the batch's ids and appends a run-log row. */
final class Scd2Cdc(ctx: Ctx) extends Workload {
  import Scd2Cdc._
  private val spark: SparkSession = ctx.spark
  private val lake: Path = ctx.work.resolve("lake")
  private val landing: Path = ctx.work.resolve("landing")
  private val contactPath = lake.resolve("contact")
  private val contact = VersionedTable(contactPath.toString)
  private val runlog = new Pipeline.RunLog(ctx, lake.resolve("runlog").toString)
  private val gen = new ContactGen(ctx.seed, InitialRows, BatchRows, NewShare, ChangedShare,
    Recent, UniformPerBatch)
  private val model = new Scd2Model
  private val planted = mutable.Map(0 -> InitialRows)
  private val rnd = new java.util.Random(ctx.seed * 31 + 7)
  private var batch = 0
  private var firstTimed = Int.MaxValue
  private val opFailed = mutable.Set.empty[Int]
  private var cdcRows = 0L
  private var headRows = 0L
  private var lakeBytes = 0L
  // traced runs only
  private val written = mutable.ArrayBuffer.empty[Long]
  private val scanned = mutable.ArrayBuffer.empty[Double]
  private var touchedRatio = 0.0

  private def writeCsv(name: String, rows: Seq[Contact]): Path = {
    val p = landing.resolve(name)
    Files.write(p, rows.map(_.csv).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  private def params(csv: Path, k: Int): Map[String, String] = Map(
    "landing" -> csv.toString, "lake" -> lake.toString, "etl_ts" -> Scd2Model.tsSql(k),
    "meta" -> landing.resolve("contact_meta.json").toString)

  def setup(): Unit = {
    Files.createDirectories(lake)
    Files.createDirectories(landing)
    Files.write(landing.resolve("contact_meta.json"), SchemaDoc.getBytes(StandardCharsets.UTF_8))
    ctx.mark("session ready")
    val initial = gen.initial()
    Pipeline.run(ctx, Pipeline.doc(params(writeCsv("initial.csv", initial), 0),
      Seq(Extract, Typing, Projection.replace("SELECT ", s"SELECT /*+ REPARTITION_BY_RANGE($InitialFiles, id) */ "),
        """{"type": "TableLoad", "name": "load initial", "inputView": "delta_load",
          | "outputURI": "${lake}/contact"}""".stripMargin)))
    model.load(initial, 0)
    ctx.mark("initial load committed")
    (1 to WarmupBatches).foreach { i => runBatch(timed = false); ctx.mark(s"warm-up batch $i") }
  }

  def round(): Unit = runBatch(timed = true)

  private def runBatch(timed: Boolean): Unit = {
    batch += 1
    val k = batch
    val (rows, nNew, nChanged) = gen.batch()
    planted(k) = nNew + nChanged
    val doc = Pipeline.doc(params(writeCsv(s"cdc_$k.csv", rows), k), BatchStages)
    runlog.log(k, "start", Seq(rows.size.toLong, 0L, 0L), timed)
    if (!timed) Pipeline.run(ctx, doc)
    else {
      firstTimed = math.min(firstTimed, k)
      ctx.tracer.op = k
      val before = if (ctx.tracer.on) Disk.bytes(contactPath) else 0L
      if (ctx.ops.timed("op")(Pipeline.run(ctx, doc)).isEmpty) opFailed += k
      if (ctx.tracer.on) written += Disk.bytes(contactPath) - before
      cdcRows += rows.size
    }
    model.apply(rows, k)

    if (timed) (1 to LookupsPerBatch).foreach { _ =>
      val ids = (0 until LookupKeys).map(_ => rows(rnd.nextInt(rows.size)).id).toSet
      ctx.ops.timed("lookup") {
        val (df, kept, total) = ctx.tracer.span("table.lookup")(
          contact.readByKeys(spark, "id", ids.toSeq.map(_.toString)))
        if (ctx.tracer.on) scanned += kept.toDouble / math.max(1, total)
        df.filter(col("id").isin(ids.toSeq: _*)).collect().toSeq
      }.foreach(got => ctx.ops.check(Scd2Check.lookup(model.rowsOf(ids), got.map(Scd2Cdc.toRow)),
        s"lookup of ids $ids after batch $k"))
    }
    runlog.log(k, "done", Seq(rows.size.toLong, nNew.toLong, nChanged.toLong), timed)
  }

  def finish(): Unit = {
    val head = contact.read(spark).collect().toSeq.map(toRow)
    headRows = head.size.toLong
    var bad = Scd2Check.diff(model.head, head) ++ Scd2Check.properties(head, planted.toMap)
    // time travel to sampled earlier versions: batch k committed version k
    val sampled = Set(0, batch - 1, 1 + rnd.nextInt(batch - 1))
    sampled.foreach { v =>
      val rows = contact.read(spark, versionAsOf = Some(v.toLong)).collect().toSeq.map(toRow)
      if (Scd2Check.diff(model.asOf(v), rows).nonEmpty) bad += v
    }
    val logged = runlog.rows()
    (1 to batch).foreach { k =>
      val ok = logged.contains((k.toLong, "start")) &&
        logged.get((k.toLong, "done")).exists(c => c(1) + c(2) == planted(k))
      if (k >= firstTimed) ctx.ops.check(ok, s"run-log rows of batch $k")
      else ctx.setupCheck(ok, s"run-log rows of warm-up batch $k")
    }
    bad.foreach { k =>
      if (k < firstTimed) ctx.setupCheck(ok = false, s"initial load or warm-up batch $k")
      else if (!opFailed(k)) ctx.ops.check(ok = false, s"SCD2 output of batch $k")
    }
    lakeBytes = Disk.liveBytes(spark, Seq(contactPath.toString))
    if (ctx.tracer.on) {
      val h = contact.history(spark).collect().map(r => r.getAs[Long]("version") -> r).toMap
      val ratios = (firstTimed to batch).flatMap { k =>
        for (cur <- h.get(k.toLong); prev <- h.get(k - 1L) if !cur.isNullAt(cur.fieldIndex("files_removed")))
          yield cur.getAs[Long]("files_removed").toDouble / math.max(1, prev.getAs[Int]("n_files"))
      }
      touchedRatio = if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size
    }
  }

  def endToEnd(busyS: Double): Seq[Metric] = {
    val op = ctx.ops.seconds("op")
    Seq(
      Metric("op_p50_s", Stats.median(op), "s"),
      Metric("op_p90_s", Stats.quantile(op, 0.9), "s"),
      Metric("bytes_per_row", lakeBytes.toDouble / headRows, "B/row"),
      Metric("cdc_rows_per_s", cdcRows / busyS, "rows/s"),
      Metric("lookup_p50_s", Stats.median(ctx.ops.seconds("lookup")), "s"),
      Metric("commit_p50_s", Stats.median(ctx.ops.seconds("commit")), "s"),
      Metric("docs_per_s", cdcRows / busyS, "docs/s"))
  }

  def perLayer(): Seq[Metric] = {
    val ops = ctx.ops.seconds("op").size
    Pipeline.stageMetrics(ctx, ops) ++ Seq(
      Metric("table.merge_s", Pipeline.perOp(ctx, "etl.stage_s.TableMergeLoad", ops), "s"),
      Metric("table.files_touched_ratio", touchedRatio, "ratio"),
      Metric("table.bytes_written_per_op", written.sum.toDouble / math.max(1, written.size), "B"),
      Metric("table.lookup_s", Pipeline.perOp(ctx, "table.lookup", scanned.size), "s"),
      Metric("table.files_scanned_ratio", scanned.sum / math.max(1, scanned.size), "ratio"),
      Metric("table.append_s", Pipeline.perOp(ctx, "table.append", ctx.ops.seconds("commit").size), "s"))
  }
}

object Scd2Cdc {
  val InitialRows = 10000
  val InitialFiles = 16
  val BatchRows = 1000
  val NewShare = 0.3
  val ChangedShare = 0.5
  val Recent = 2000
  val UniformPerBatch = 6
  val WarmupBatches = 2
  val LookupsPerBatch = 3
  val LookupKeys = 4

  val SchemaDoc: String =
    """[{"name": "id", "type": "long", "nullable": false},
      | {"name": "name", "type": "string"},
      | {"name": "email", "type": "string"},
      | {"name": "state", "type": "string"}]""".stripMargin

  private val Extract =
    """{"type": "DelimitedExtract", "name": "extract cdc", "inputURI": "${landing}",
      | "outputView": "cdc_raw", "delimiter": "Comma", "header": false, "quote": "None"}""".stripMargin
  private val Typing =
    """{"type": "TypingTransform", "name": "type cdc", "inputView": "cdc_raw",
      | "outputView": "cdc_typed", "schemaURI": "${meta}"}""".stripMargin
  private val Projection =
    """{"type": "SQLTransform", "name": "project cdc", "outputView": "delta_load",
      | "sql": "SELECT id, name, email, state, ${etl_ts} AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to, true AS iscurrent, md5(concat(name, email, state)) AS checksum FROM cdc_typed"}""".stripMargin

  /** The reference job's CDC stages (scd2-job.ipynb): staged dual rows,
    * then the pruned MERGE. */
  val BatchStages: Seq[String] = Seq(Extract, Typing, Projection,
    """{"type": "TableExtract", "name": "read current", "inputURI": "${lake}/contact",
      | "outputView": "current_snapshot"}""".stripMargin,
    """{"type": "SQLTransform", "name": "stage dual rows", "outputView": "staged_update",
      | "sql": "SELECT CAST(NULL AS BIGINT) AS mergeKey, new.* FROM current_snapshot old INNER JOIN delta_load new ON old.id = new.id WHERE old.iscurrent = true AND old.checksum <> new.checksum UNION SELECT id AS mergeKey, * FROM delta_load"}""".stripMargin,
    """{"type": "TableMergeLoad", "name": "scd2 merge", "inputView": "staged_update",
      | "outputURI": "${lake}/contact", "condition": "source.mergeKey = target.id",
      | "whenMatchedUpdate": {"condition": "target.iscurrent = true AND target.checksum <> source.checksum",
      |   "values": {"valid_to": "source.valid_from", "iscurrent": "false"}},
      | "whenNotMatchedByTargetInsert": {"values": {}},
      | "pruneKeys": {"targetKey": "id", "sourceKey": "mergeKey"}}""".stripMargin)

  def toRow(r: Row): Scd2Row = {
    def batchOf(i: Int): Option[Int] =
      Option(r.getTimestamp(i)).map(t => Scd2Model.batchOf(t.toLocalDateTime))
    Scd2Row(r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name")),
      r.getString(r.fieldIndex("email")), r.getString(r.fieldIndex("state")),
      batchOf(r.fieldIndex("valid_from")).getOrElse(-1), batchOf(r.fieldIndex("valid_to")),
      r.getBoolean(r.fieldIndex("iscurrent")), r.getString(r.fieldIndex("checksum")))
  }
}
