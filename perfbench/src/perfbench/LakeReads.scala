package perfbench

import scala.collection.mutable

import graft.table.VersionedTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One generated row of the `events` table. */
final case class Event(k: Long, grp: Int, amount: Long, ver: Int)

/** Answer of the filtered aggregate `count(*), sum(amount), max(k)` over
  * one `grp` at one version. */
final case class GroupAgg(n: Long, sum: Long, maxK: Long)

/** Expected answers of the read path, computed arithmetically from the rows
  * the generator wrote at each version (versions only ever add rows). */
final class LakeModel(val groups: Int) {
  private val perVersion = mutable.ArrayBuffer.empty[Array[GroupAgg]]
  private val byKey = mutable.LongMap.empty[Event]
  val keys = mutable.ArrayBuffer.empty[Long]

  def latest: Int = perVersion.size - 1

  /** Record version `latest + 1` as the previous version plus `rows`. */
  def commit(rows: Seq[Event]): Unit = {
    val prev = perVersion.lastOption.getOrElse(Array.fill(groups)(GroupAgg(0, 0, Long.MinValue)))
    val next = prev.clone()
    rows.foreach { e =>
      val a = next(e.grp)
      next(e.grp) = GroupAgg(a.n + 1, a.sum + e.amount, math.max(a.maxK, e.k))
      byKey(e.k) = e
      keys += e.k
    }
    perVersion += next
  }

  def agg(v: Int, g: Int): GroupAgg = perVersion(v)(g)
  def row(k: Long): Event = byKey(k)
  def liveRows: Long = keys.size.toLong
}

object LakeCheck {
  def read(expected: GroupAgg, got: GroupAgg): Boolean = expected == got
  /** A key lookup must return exactly the key's row. */
  def lookup(expected: Event, got: Seq[Event]): Boolean = got == Seq(expected)
}

/** `lake_reads`: the interactive read path. Setup builds an `events` table
  * whose history is far deeper than the 8-entry snapshot cache and spans
  * several 32-version snapshot anchors, with a Bloom index on the key. Each
  * round then runs time-travel SQL aggregates at versions drawn across the
  * whole history, key lookups through `readByKeys`, and one small append. */
final class LakeReads(ctx: Ctx) extends Workload {
  import LakeReads._
  private val spark: SparkSession = ctx.spark
  private val path = ctx.work.resolve("lake").resolve("events")
  private val table = VersionedTable(path.toString)
  private val rnd = new java.util.Random(ctx.seed)
  private val model = new LakeModel(Groups)
  private val usedKeys = mutable.HashSet.empty[Long]
  private var appended = 0L
  private var lakeBytes = 0L
  private val scanned = mutable.ArrayBuffer.empty[Double]

  private def rows(n: Int, ver: Int): Seq[Event] = (0 until n).map { _ =>
    var k = rnd.nextLong() & KeyMask
    while (!usedKeys.add(k)) k = rnd.nextLong() & KeyMask
    Event(k, rnd.nextInt(Groups), 1 + rnd.nextInt(1000000), ver)
  }

  private def frame(es: Seq[Event]) = {
    val l = new java.util.ArrayList[Row](es.size)
    es.foreach(e => l.add(Row(e.k, e.grp, e.amount, e.ver)))
    spark.createDataFrame(l, Schema).coalesce(1)
  }

  private def append(n: Int): Long = {
    val es = rows(n, model.latest + 1)
    val v = table.append(frame(es))
    model.commit(es)
    v
  }

  def setup(): Unit = {
    ctx.mark("session ready")
    table.setProperties(Map("bloomIndexColumns" -> "k"))
    val es = rows(InitialRows, 0)
    table.commit(frame(es).repartition(InitialFiles))
    model.commit(es)
    (1 to HistoryAppends).foreach { _ =>
      val v = append(HistoryRows)
      ctx.setupCheck(v == model.latest, s"history append committed version $v, expected ${model.latest}")
      if (v % 10 == 0) ctx.mark(s"history version $v")
    }
    // warm-up: one round's worth of each operation, untimed
    versions().take(8).foreach(v => readAt(v, rnd.nextInt(Groups)))
    (1 to LookupsPerRound).foreach(_ => lookup(model.keys(rnd.nextInt(model.keys.size))))
  }

  private def sqlText(v: Int, g: Int): String =
    s"SELECT count(*) AS n, sum(amount) AS s, max(k) AS mk FROM graft.`$path` " +
      s"VERSION AS OF $v WHERE grp = $g"

  private def readAt(v: Int, g: Int): GroupAgg = {
    val df = ctx.tracer.span("catalog.analyze")(spark.sql(sqlText(v, g)))
    ctx.tracer.span("table.snapshot")(df.queryExecution.executedPlan)
    val r = ctx.tracer.span("spark.execute")(df.collect()).head
    GroupAgg(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
  }

  private def lookup(k: Long): Seq[Event] = {
    val (df, kept, total) = ctx.tracer.span("table.lookup")(
      table.readByKeys(spark, "k", Seq(k.toString)))
    if (ctx.tracer.on) scanned += kept.toDouble / math.max(1, total)
    df.filter(col("k") === k).collect().toSeq.map(r =>
      Event(r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
  }

  /** Every other committed version (odd or even by a coin flip), in random
    * order. A read's cost grows with its version's distance from the
    * snapshot anchor below it, so a round that sweeps the history sees the
    * same cost distribution in every run. */
  private def versions(): Seq[Int] = {
    val vs = rnd.nextInt(2) to model.latest by 2
    vs.zip(vs.map(_ => rnd.nextInt())).sortBy(_._2).map(_._1)
  }

  /** True at `per` evenly spaced positions among `n` (1-based `i`). */
  private def every(i: Int, n: Int, per: Int): Boolean = i * per / n != (i - 1) * per / n

  def round(): Unit = {
    val vs = versions()
    vs.zipWithIndex.foreach { case (v, i0) =>
      val i = i0 + 1
      val g = rnd.nextInt(Groups)
      ctx.tracer.op += 1
      ctx.ops.timed("op")(readAt(v, g)).foreach(got =>
        ctx.ops.check(LakeCheck.read(model.agg(v, g), got), s"aggregate of grp $g at version $v: $got"))
      if (every(i, vs.size, LookupsPerRound)) {
        val k = model.keys(rnd.nextInt(model.keys.size))
        ctx.ops.timed("lookup")(lookup(k)).foreach(got =>
          ctx.ops.check(LakeCheck.lookup(model.row(k), got), s"lookup of key $k: $got"))
      }
      if (every(i, vs.size, AppendsPerRound)) {
        val expected = model.latest + 1
        ctx.ops.timed("commit")(ctx.tracer.span("table.append")(append(AppendRows))).foreach { v =>
          ctx.ops.check(v == expected, s"append committed version $v, expected $expected")
          appended += AppendRows
        }
      }
    }
  }

  def finish(): Unit = lakeBytes = Disk.liveBytes(spark, Seq(path.toString))

  def endToEnd(busyS: Double): Seq[Metric] = {
    val op = ctx.ops.seconds("op")
    Seq(
      Metric("op_p50_s", Stats.median(op), "s"),
      Metric("op_p90_s", Stats.quantile(op, 0.9), "s"),
      Metric("bytes_per_row", lakeBytes.toDouble / model.liveRows, "B/row"),
      Metric("cdc_rows_per_s", appended / busyS, "rows/s"),
      Metric("lookup_p50_s", Stats.median(ctx.ops.seconds("lookup")), "s"),
      Metric("commit_p50_s", Stats.median(ctx.ops.seconds("commit")), "s"),
      Metric("docs_per_s", appended / busyS, "docs/s"))
  }

  def perLayer(): Seq[Metric] = {
    val reads = ctx.ops.seconds("op").size
    Seq(
      Metric("catalog.analyze_s", Pipeline.perOp(ctx, "catalog.analyze", reads), "s"),
      Metric("table.snapshot_s", Pipeline.perOp(ctx, "table.snapshot", reads), "s"),
      Metric("table.lookup_s", Pipeline.perOp(ctx, "table.lookup", ctx.ops.seconds("lookup").size), "s"),
      Metric("table.files_scanned_ratio", scanned.sum / math.max(1, scanned.size), "ratio"),
      Metric("table.append_s", Pipeline.perOp(ctx, "table.append", ctx.ops.seconds("commit").size), "s"))
  }
}

object LakeReads {
  val Groups = 16
  val InitialRows = 5000
  val InitialFiles = 4
  val HistoryAppends = 32
  val HistoryRows = 100
  val AppendRows = 50
  val LookupsPerRound = 3
  val AppendsPerRound = 4
  val KeyMask: Long = (1L << 40) - 1

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("grp", IntegerType, nullable = false),
    StructField("amount", LongType, nullable = false), StructField("ver", IntegerType, nullable = false)))
}
