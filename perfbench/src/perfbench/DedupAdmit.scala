package perfbench

import scala.collection.mutable

import graft.table.VersionedTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A generated document; `kind` is its planted truth: "unique", "exact"
  * (same text as `of`), "near" (one word of `of`'s text replaced) or "emb"
  * (fresh text, embedding a power-of-two rescaling of `of`'s). */
final case class Doc(id: Long, text: String, emb: Array[Float], kind: String, of: Long)

/** One verdict row of an admission gate. */
final case class Verdict(id: Long, verdict: String, dupOf: Option[Long])

/** Seeded document generator with a store model: which documents each
  * store holds after every batch, from the gates' verdicts. */
final class DocGen(seed: Long, val dim: Int) {
  private val rnd = new java.util.Random(seed)
  private val vocab: Vector[String] = {
    val syll = Vector("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
      "qui", "ro", "sa", "te", "vu", "wo", "xe", "zi")
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 6000)
      words += (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.size))).mkString
    words.toVector
  }
  private var nextId = 0L
  /** Documents held by both stores (candidates for planted duplicates). */
  val both = mutable.ArrayBuffer.empty[Doc]
  val sigStored = mutable.LongMap.empty[Doc]
  val vecStored = mutable.LongMap.empty[Doc]

  private def text(): String =
    (0 until 100 + rnd.nextInt(41)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
  private def emb(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
  private def unique(): Doc = { nextId += 1; Doc(nextId, text(), emb(), "unique", -1L) }

  def corpus(n: Int): Seq[Doc] = {
    val docs = (1 to n).map(_ => unique())
    docs.foreach { d => both += d; sigStored(d.id) = d; vecStored(d.id) = d }
    docs
  }

  /** A batch of `n` documents with the given shares of planted duplicates. */
  def batch(n: Int, exact: Double, near: Double, embDup: Double): Seq[Doc] = {
    val nExact = math.round(n * exact).toInt
    val nNear = math.round(n * near).toInt
    val nEmb = math.round(n * embDup).toInt
    def orig(): Doc = both(rnd.nextInt(both.size))
    val docs = (0 until n).map { i =>
      nextId += 1
      if (i < nExact) { val o = orig(); Doc(nextId, o.text, emb(), "exact", o.id) }
      else if (i < nExact + nNear) {
        val o = orig()
        val ws = o.text.split(' ')
        val at = rnd.nextInt(ws.length)
        var w = vocab(rnd.nextInt(vocab.size))
        while (w == ws(at)) w = vocab(rnd.nextInt(vocab.size))
        ws(at) = w
        Doc(nextId, ws.mkString(" "), emb(), "near", o.id)
      } else if (i < nExact + nNear + nEmb) {
        val o = orig()
        val scale = if (rnd.nextBoolean()) 2.0f else 0.5f
        Doc(nextId, text(), o.emb.map(_ * scale), "emb", o.id)
      } else Doc(nextId, text(), emb(), "unique", -1L)
    }
    val order = docs.map(_ => rnd.nextInt()).toArray
    docs.zip(order).sortBy(_._2).map(_._1)
  }

  /** Record what the stores hold after a batch's verdicts. */
  def stored(docs: Seq[Doc], sigAdmitted: Set[Long], vecAdmitted: Set[Long]): Unit =
    docs.foreach { d =>
      if (sigAdmitted(d.id)) sigStored(d.id) = d
      if (vecAdmitted(d.id)) { vecStored(d.id) = d; both += d }
    }
}

object DedupCheck {
  /** The signature gate: exact duplicates name their original, one-word
    * edits are near duplicates of their original, everything else admits. */
  def expectedSig(d: Doc): Verdict = d.kind match {
    case "exact" => Verdict(d.id, "exact_dup", Some(d.of))
    case "near" => Verdict(d.id, "near_dup", Some(d.of))
    case _ => Verdict(d.id, "admitted", None)
  }

  /** Batch ids whose signature verdict differs from the planted truth
    * (a missing or extra verdict counts too). */
  def sig(docs: Seq[Doc], got: Seq[Verdict]): Set[Long] = {
    val byId = got.groupBy(_.id)
    docs.filter(d => !byId.get(d.id).contains(Seq(expectedSig(d)))).map(_.id).toSet ++
      byId.keySet.filterNot(docs.map(_.id).toSet)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Batch ids whose vector verdict is wrong: every document the signature
    * gate admitted gets exactly one verdict; a planted embedding duplicate
    * must be caught; a near_dup must name a stored vector (not itself) whose
    * cosine is at least `threshold` (to the engine's 6-decimal rounding). */
  def vec(submitted: Seq[Doc], stored: Long => Option[Doc], got: Seq[Verdict],
      threshold: Double): Set[Long] = {
    val byId = got.groupBy(_.id)
    submitted.filterNot { d =>
      byId.get(d.id) match {
        case Some(Seq(Verdict(_, "admitted", None))) => d.kind != "emb"
        case Some(Seq(Verdict(_, "near_dup", Some(o)))) =>
          o != d.id && stored(o).exists(s => cosine(d.emb, s.emb) >= threshold - 5e-7)
        case _ => false
      }
    }.map(_.id).toSet ++ byId.keySet.filterNot(submitted.map(_.id).toSet)
  }

  /** Store row counts: (sigs, bands, vectors) against the model. */
  def counts(sigDocs: Long, vecDocs: Long, got: (Long, Long, Long)): Boolean =
    got == ((sigDocs, 8 * sigDocs, vecDocs))
}

/** `dedup_admit`: incremental dedup admission. Setup builds a
  * SignatureStore and a VectorStore from a seed corpus; each batch then runs
  * one workflow: DedupIndexAdmit, a SQL step keeping the admitted documents,
  * VectorIndexAdmit. After each batch the client looks up a few of the
  * batch's ids in the signature store and appends a run-log row. */
final class DedupAdmit(ctx: Ctx) extends Workload {
  import DedupAdmit._
  private val spark: SparkSession = ctx.spark
  private val lake = ctx.work.resolve("lake")
  private val sigRoot = lake.resolve("sigstore").toString
  private val vecRoot = lake.resolve("vecstore").toString
  private val vecTable = s"$vecRoot/assigned"
  private val sigs = VersionedTable(s"$sigRoot/sigs")
  private val runlog = new Pipeline.RunLog(ctx, lake.resolve("runlog").toString)
  private val audit = VersionedTable(lake.resolve("verdicts").toString)
  private val gen = new DocGen(ctx.seed, Dim)
  private val rnd = new java.util.Random(ctx.seed * 17 + 3)
  private var batchNo = 0
  private var docs = 0L
  private var lakeBytes = 0L
  private var storedDocs = 0L
  // traced runs only
  private var vecInputs = 0L
  private var storedRead = 0L
  private var storeFiles = 0.0
  private val scanned = mutable.ArrayBuffer.empty[Double]

  private def frame(ds: Seq[Doc]) = {
    val l = new java.util.ArrayList[Row](ds.size)
    ds.foreach(d => l.add(Row(d.id, d.text, s"doc-${d.id}", d.emb.toSeq)))
    spark.createDataFrame(l, DocSchema)
  }

  def setup(): Unit = {
    ctx.census.foreach(_.whenExecuted { qe =>
      // the VectorStore probe joins the batch's probe rows with the stored
      // (sv, snv) rows of the probed partitions; the scans of the store in
      // that execution count the stored vectors the probe read. (The
      // compared pairs themselves have no metric: the cosine filter is
      // fused into the join, whose output counts only the matches.)
      val ns = nodes(qe.executedPlan)
      if (ns.exists(p => p.nodeName.contains("Join") && p.output.exists(_.name == "snv"))) {
        val read = ns.collect {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(vecTable)) => s
        }.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
        synchronized { storedRead += read }
      }
    })
    ctx.mark("session ready")
    frame(gen.corpus(CorpusDocs)).createOrReplaceTempView("corpus_docs")
    Pipeline.run(ctx, Pipeline.doc(Map("sigstore" -> sigRoot, "vecstore" -> vecRoot), Seq(
      """{"type": "DedupIndexBuild", "name": "build signatures", "inputView": "corpus_docs",
        | "storeURI": "${sigstore}"}""".stripMargin,
      """{"type": "SQLTransform", "name": "corpus vectors", "outputView": "corpus_vecs",
        | "sql": "SELECT doc_id AS vec_id, label, embedding FROM corpus_docs"}""".stripMargin,
      """{"type": "VectorIndexBuild", "name": "build vectors", "inputView": "corpus_vecs",
        | "storeURI": "${vecstore}"}""".stripMargin)))
    ctx.mark("stores built")
    (1 to WarmupBatches).foreach { i => runBatch(timed = false); ctx.mark(s"warm-up batch $i") }
  }

  def round(): Unit = runBatch(timed = true)

  private def runBatch(timed: Boolean): Unit = {
    batchNo += 1
    val batch = gen.batch(BatchDocs, ExactShare, NearShare, EmbShare)
    frame(batch).createOrReplaceTempView("batch_docs")
    val doc = Pipeline.doc(Map("sigstore" -> sigRoot, "vecstore" -> vecRoot), BatchStages)
    runlog.log(batchNo, "start", Seq(batch.size.toLong, 0L, 0L), timed)
    def admit(): (Seq[Verdict], Seq[Verdict]) = {
      Pipeline.run(ctx, doc)
      (spark.table("sig_decisions").collect().toSeq.map(verdict),
        spark.table("vec_decisions").collect().toSeq.map(verdict))
    }
    ctx.tracer.op = if (timed) batchNo else -1
    val out = if (timed) ctx.ops.timed("op")(admit()) else Some(admit())
    if (timed) docs += batch.size
    out.foreach { case (sigV, vecV) =>
      val badSig = DedupCheck.sig(batch, sigV)
      val sigAdmitted = sigV.filter(_.verdict == "admitted").map(_.id).toSet
      val submitted = batch.filter(d => sigAdmitted(d.id))
      val badVec = DedupCheck.vec(submitted, gen.vecStored.get, vecV, Threshold)
      val ok = badSig.isEmpty && badVec.isEmpty
      val what = s"batch $batchNo verdicts: signature ${badSig.take(5)}, vector ${badVec.take(5)}"
      if (timed) ctx.ops.check(ok, what) else ctx.setupCheck(ok, what)
      vecInputs += submitted.size
      gen.stored(batch, sigAdmitted, vecV.filter(_.verdict == "admitted").map(_.id).toSet)
    }
    if (ctx.tracer.on && timed) storeFiles = liveFiles()

    val probes = (0 until LookupsPerBatch).map(_ =>
      (0 until LookupKeys).map(_ => batch(rnd.nextInt(batch.size))).distinct)
    if (timed) {
      probes.foreach { probe =>
        ctx.ops.timed("lookup") {
          val (df, kept, total) = ctx.tracer.span("table.lookup")(
            sigs.readByKeys(spark, "doc_id", probe.map(_.id.toString)))
          if (ctx.tracer.on) scanned += kept.toDouble / math.max(1, total)
          df.filter(col("doc_id").isin(probe.map(_.id): _*)).select("doc_id").collect()
            .map(_.getLong(0)).toSeq
        }.foreach { got =>
          val expected = probe.map(_.id).filter(gen.sigStored.contains)
          ctx.ops.check(got.sorted == expected.sorted, s"signature lookup of ${probe.map(_.id)}: $got")
        }
      }
    }
    // the client's audit trail of the gates' decisions: one row per document
    out.foreach { case (sigV, vecV) =>
      val vec = vecV.map(v => v.id -> v.verdict).toMap
      val rows = new java.util.ArrayList[Row](sigV.size)
      sigV.foreach(v => rows.add(Row(batchNo.toLong, v.id, v.verdict, vec.getOrElse(v.id, null))))
      val df = spark.createDataFrame(rows, AuditSchema)
      if (!timed) { audit.append(df); () }
      else ctx.ops.timed("commit")(ctx.tracer.span("table.append")(audit.append(df)))
    }
    runlog.log(batchNo, "done", Seq(batch.size.toLong,
      out.map(_._1.count(_.verdict == "admitted").toLong).getOrElse(-1L),
      out.map(_._2.count(_.verdict == "admitted").toLong).getOrElse(-1L)), timed)
  }

  private def liveFiles(): Double =
    Seq(s"$sigRoot/sigs", s"$sigRoot/bands", vecTable).map { t =>
      VersionedTable(t).detail(spark).select("num_files").head().getLong(0)
    }.sum.toDouble

  def finish(): Unit = {
    val got = (sigs.read(spark).count(), VersionedTable(s"$sigRoot/bands").read(spark).count(),
      VersionedTable(vecTable).read(spark).count())
    ctx.ops.check(DedupCheck.counts(gen.sigStored.size.toLong, gen.vecStored.size.toLong, got),
      s"store row counts $got, expected ${gen.sigStored.size} signatures and ${gen.vecStored.size} vectors")
    val logged = runlog.rows().keySet
    val expected = (1 to batchNo).flatMap(b => Seq((b.toLong, "start"), (b.toLong, "done"))).toSet
    ctx.ops.check(logged == expected, s"run log holds ${logged.size} rows after $batchNo batches")
    val audited = audit.read(spark).count()
    ctx.ops.check(audited == batchNo.toLong * BatchDocs, s"verdict audit holds $audited rows after $batchNo batches")
    storedDocs = gen.sigStored.size.toLong
    lakeBytes = Disk.liveBytes(spark, Seq(s"$sigRoot/sigs", s"$sigRoot/bands", s"$vecRoot/cents", vecTable))
  }

  def endToEnd(busyS: Double): Seq[Metric] = {
    val op = ctx.ops.seconds("op")
    Seq(
      Metric("op_p50_s", Stats.median(op), "s"),
      Metric("op_p90_s", Stats.quantile(op, 0.9), "s"),
      Metric("bytes_per_row", lakeBytes.toDouble / storedDocs, "B/row"),
      Metric("cdc_rows_per_s", docs / busyS, "rows/s"),
      Metric("lookup_p50_s", Stats.median(ctx.ops.seconds("lookup")), "s"),
      Metric("commit_p50_s", Stats.median(ctx.ops.seconds("commit")), "s"),
      Metric("docs_per_s", docs / busyS, "docs/s"))
  }

  def perLayer(): Seq[Metric] = {
    val ops = ctx.ops.seconds("op").size
    Pipeline.stageMetrics(ctx, ops) ++ Seq(
      Metric("dedup.sig_admit_s", Pipeline.perOp(ctx, "etl.stage_s.DedupIndexAdmit", ops), "s"),
      Metric("dedup.vec_admit_s", Pipeline.perOp(ctx, "etl.stage_s.VectorIndexAdmit", ops), "s"),
      Metric("dedup.store_files", storeFiles, "files"),
      Metric("dedup.vec_rows_read_per_doc", storedRead.toDouble / math.max(1L, vecInputs), "rows/doc"),
      Metric("table.lookup_s", Pipeline.perOp(ctx, "table.lookup", scanned.size), "s"),
      Metric("table.files_scanned_ratio", scanned.sum / math.max(1, scanned.size), "ratio"),
      Metric("table.append_s", Pipeline.perOp(ctx, "table.append", ctx.ops.seconds("commit").size), "s"))
  }
}

object DedupAdmit {
  val Dim = 64
  val CorpusDocs = 400
  val BatchDocs = 60
  val ExactShare = 0.1
  val NearShare = 0.1
  val EmbShare = 0.1
  val WarmupBatches = 1
  val LookupsPerBatch = 5
  val LookupKeys = 2
  val Threshold: Double = graft.dedup.VectorStore.DefaultThreshold

  val AuditSchema: StructType = StructType(Seq(
    StructField("batch", LongType), StructField("doc_id", LongType),
    StructField("sig_verdict", StringType), StructField("vec_verdict", StringType)))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("label", StringType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  val BatchStages: Seq[String] = Seq(
    """{"type": "DedupIndexAdmit", "name": "signature gate", "inputView": "batch_docs",
      | "storeURI": "${sigstore}", "outputView": "sig_decisions"}""".stripMargin,
    """{"type": "SQLTransform", "name": "keep admitted", "outputView": "admitted_vecs",
      | "sql": "SELECT b.doc_id AS vec_id, b.label, b.embedding FROM batch_docs b JOIN sig_decisions d ON b.doc_id = d.doc_id WHERE d.verdict = 'admitted'"}""".stripMargin,
    """{"type": "VectorIndexAdmit", "name": "embedding gate", "inputView": "admitted_vecs",
      | "storeURI": "${vecstore}", "outputView": "vec_decisions"}""".stripMargin)

  private def verdict(r: Row): Verdict =
    Verdict(r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))

  /** Every node of an executed plan, adaptive stages included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
