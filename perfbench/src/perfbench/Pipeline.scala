package perfbench

import graft.etl.Runner
import graft.table.VersionedTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Runs a workflow document the way `Runner.runWorkflow` does. A traced
  * run parses and executes the stages itself, so that `Runner.fromJson`
  * and each `Stage.execute` get a span; the documents the benchmark writes
  * use no retries, scoped confs, authentication or environment gates, which
  * is all `Runner.run` adds around the same calls. */
object Pipeline {
  def run(ctx: Ctx, doc: String): Unit =
    if (!ctx.tracer.on) { Runner.runWorkflow(ctx.spark, doc); () }
    else {
      val (jobs, params) = ctx.tracer.span("etl.parse")(Runner.fromJson(doc))
      jobs.foreach(_.spec.stages.foreach { st =>
        ctx.tracer.span("etl.stage_s." + st.getClass.getSimpleName)(st.execute(ctx.spark, params))
      })
    }

  /** The client's run log: a "start" row before each batch and a "done"
    * row with the batch's counts after it, each one small append. */
  final class RunLog(ctx: Ctx, path: String) {
    private val table = VersionedTable(path)
    def log(batch: Int, phase: String, counts: Seq[Long], timed: Boolean): Unit = {
      val df = ctx.spark.createDataFrame(java.util.List.of(
        Row(batch.toLong, phase, counts(0), counts(1), counts(2))), RunLogSchema)
      if (!timed) { table.append(df); () }
      else ctx.ops.timed("commit")(ctx.tracer.span("table.append")(table.append(df)))
    }
    /** (batch, phase) -> the three counts. */
    def rows(): Map[(Long, String), Seq[Long]] = table.read(ctx.spark).collect().map(r =>
      (r.getLong(0), r.getString(1)) -> Seq(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  val RunLogSchema: StructType = StructType(Seq(
    StructField("batch", LongType), StructField("phase", StringType), StructField("n0", LongType),
    StructField("n1", LongType), StructField("n2", LongType)))

  /** A one-job workflow document. */
  def doc(params: Map[String, String], stages: Seq[String]): String =
    s"""{"parameters": {${params.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")}},
       | "jobs": [{"name": "job", "stages": [${stages.mkString(",\n")}]}]}""".stripMargin

  /** Mean self seconds per operation of every span named `name`. */
  def perOp(ctx: Ctx, name: String, ops: Int): Double =
    ctx.tracer.selfTimes.get(name).map(_._1 / math.max(1, ops)).getOrElse(0.0)

  /** Per-layer stage metrics of a traced run, per timed operation. */
  def stageMetrics(ctx: Ctx, ops: Int): Seq[Metric] =
    (Seq(Metric("etl.parse_s", perOp(ctx, "etl.parse", ops), "s")) ++
      Main.StageTypes.map(t => Metric(s"etl.stage_s.$t", perOp(ctx, s"etl.stage_s.$t", ops), "s")))
}
