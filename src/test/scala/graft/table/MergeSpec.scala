package graft.table

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MERGE kernel clause semantics (SURVEY.md §5: each branch + the
  * window-function oracle equivalence). */
class MergeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, "a", true, "h1"),   // will match + update-cond true (changed)
    (2L, "b", true, "h2"),   // will match + update-cond false (unchanged)
    (3L, "c", true, "h3")    // target-only: untouched
  ).toDF("id", "val", "iscurrent", "checksum")

  private def source = Seq(
    (Some(1L), "a2", true, "h1x"),  // matches id=1, different checksum
    (Some(2L), "b", true, "h2"),    // matches id=2, same checksum → no-op
    (None, "a2", true, "h1x"),      // null mergeKey → forced insert
    (Some(9L), "z", true, "h9")     // no target match → insert
  ).toDF("mergeKey", "val", "iscurrent", "checksum")
    .withColumn("id", coalesce($"mergeKey", lit(100L)))

  test("update / no-op / insert / untouched branches account every row exactly once") {
    val out = Merge.merge(
      target, source,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(
        Some("target.checksum <> source.checksum"),
        Map("iscurrent" -> "false"))),
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(None, Map.empty)))

    val rows = out.orderBy("id", "val").collect().toSeq
    assert(rows === Seq(
      Row(1L, "a", false, "h1"),    // expired
      Row(2L, "b", true, "h2"),     // matched, cond false → unchanged
      Row(3L, "c", true, "h3"),     // target-only → unchanged
      Row(9L, "z", true, "h9"),     // not-matched insert
      Row(100L, "a2", true, "h1x")  // null-mergeKey forced insert
    ))
  }

  test("matched delete removes the row; update clause takes precedence") {
    val out = Merge.merge(
      target, source,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(
        Some("target.checksum <> source.checksum"), Map("val" -> "source.val"))),
      whenMatchedDelete = Some(Merge.MatchedDelete(None)))
    // id=1: update-cond true → updated (not deleted); id=2: update-cond false
    // → delete applies; id=3 target-only stays
    assert(out.orderBy("id").collect().toSeq === Seq(
      Row(1L, "a2", true, "h1"),
      Row(3L, "c", true, "h3")))
  }

  test("insert with explicit values map") {
    val out = Merge.merge(
      target, source.filter($"mergeKey" === 9L),
      condition = "source.mergeKey = target.id",
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(
        None, Map("id" -> "source.mergeKey", "val" -> "upper(source.val)"))))
    val inserted = out.filter($"id" === 9L).collect().head
    assert(inserted === Row(9L, "Z", null, null))
  }

  test("no insert clause drops source-only rows") {
    val out = Merge.merge(target, source, condition = "source.mergeKey = target.id")
    assert(out.count() === 3) // just the target, unchanged
  }

  test("two source rows both modifying one target row fail the cardinality check") {
    val dupSource = Seq(
      (Some(1L), "x", true, "hA"),
      (Some(1L), "y", true, "hB")
    ).toDF("mergeKey", "val", "iscurrent", "checksum")
      .withColumn("id", coalesce($"mergeKey", lit(100L)))
    // the violation is detected during the (single) merge execution, so it
    // surfaces as a Spark job failure wrapping the raise_error message
    val e = intercept[Exception] {
      Merge.merge(target, dupSource,
        condition = "source.mergeKey = target.id",
        whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("val" -> "source.val"))))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("MERGE cardinality violation")))
    // opting out reproduces the raw join semantics (documented escape hatch)
    val out = Merge.merge(target, dupSource,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("val" -> "source.val"))),
      validateCardinality = false)
    assert(out.filter($"id" === 1L).count() === 2)
  }

  test("multi-match is tolerated when only one source row modifies (Delta semantics)") {
    // id=1 matches two source rows, but the update condition only holds for
    // one of them — the row is updated from that one, emitted exactly once
    val dupSource = Seq(
      (Some(1L), "winner", true, "hCHANGED"),
      (Some(1L), "loser", true, "h1") // same checksum → update-cond false
    ).toDF("mergeKey", "val", "iscurrent", "checksum")
      .withColumn("id", coalesce($"mergeKey", lit(100L)))
    val out = Merge.merge(target, dupSource,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(
        Some("target.checksum <> source.checksum"), Map("val" -> "source.val"))))
    assert(out.orderBy("id").collect().toSeq === Seq(
      Row(1L, "winner", true, "h1"),
      Row(2L, "b", true, "h2"),
      Row(3L, "c", true, "h3")))
  }

  test("multi-match with no modifying source row keeps the target row once, unchanged") {
    val dupSource = Seq(
      (Some(1L), "x", true, "h1"),
      (Some(1L), "y", true, "h1") // both same checksum → neither modifies
    ).toDF("mergeKey", "val", "iscurrent", "checksum")
      .withColumn("id", coalesce($"mergeKey", lit(100L)))
    val out = Merge.merge(target, dupSource,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(
        Some("target.checksum <> source.checksum"), Map("val" -> "source.val"))))
    assert(out.orderBy("id").collect().toSeq === Seq(
      Row(1L, "a", true, "h1"),
      Row(2L, "b", true, "h2"),
      Row(3L, "c", true, "h3")))
  }

  test("insert-only merge keeps a multiply-matched target row exactly once") {
    val dupSource = Seq(
      (Some(1L), "x", true, "hA"),
      (Some(1L), "y", true, "hB"),
      (Some(9L), "z", true, "h9")
    ).toDF("mergeKey", "val", "iscurrent", "checksum")
      .withColumn("id", coalesce($"mergeKey", lit(100L)))
    val out = Merge.merge(target, dupSource,
      condition = "source.mergeKey = target.id",
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(None, Map.empty)))
    // target id=1 matched twice but has no matched clause → appears once,
    // unchanged; id=9 inserted; ids 2,3 untouched
    assert(out.orderBy("id").collect().toSeq === Seq(
      Row(1L, "a", true, "h1"),
      Row(2L, "b", true, "h2"),
      Row(3L, "c", true, "h3"),
      Row(9L, "z", true, "h9")))
  }

  test("a NULL clause condition means 'clause does not apply', never delete") {
    val nullSource = Seq((Some(1L), null.asInstanceOf[String], true, "h1x"))
      .toDF("mergeKey", "val", "iscurrent", "checksum")
      .withColumn("id", $"mergeKey")
    val out = Merge.merge(target, nullSource,
      condition = "source.mergeKey = target.id",
      whenMatchedDelete = Some(Merge.MatchedDelete(Some("source.val = 'D'"))))
    // source.val IS NULL → delete condition is NULL → row kept unchanged
    assert(out.count() === 3)
    assert(out.filter($"id" === 1L).collect().head === Row(1L, "a", true, "h1"))
  }

  test("not-matched-by-source update/delete act only on target-only rows") {
    val out = Merge.merge(
      target, source,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("val" -> "source.val"))),
      whenNotMatchedBySourceUpdate = Some(Merge.NotMatchedBySourceUpdate(
        Some("target.id = 3"), Map("iscurrent" -> "false"))))
    // id=3 is target-only → flagged stale; matched rows keep normal handling
    assert(out.orderBy("id").collect().toSeq === Seq(
      Row(1L, "a2", true, "h1"),
      Row(2L, "b", true, "h2"),
      Row(3L, "c", false, "h3")))

    val out2 = Merge.merge(
      target, source,
      condition = "source.mergeKey = target.id",
      whenNotMatchedBySourceDelete = Some(Merge.NotMatchedBySourceDelete(None)))
    // target-only id=3 dropped; matched rows unchanged; source-only dropped (no insert)
    assert(out2.select("id").orderBy("id").collect().toSeq === Seq(Row(1L), Row(2L)))
  }

  test("schemaEvolution widens the target with source-only columns; off = refuses nothing silently") {
    val root = tmpDir("mrg-evo-") + "/t"
    val t = VersionedTable(root)
    t.commit(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
      numPartitions = Some(4), sortBy = Seq("k"))
    val src = Seq((10L, -1.0, "ten"), (200L, 2.0, "two hundred"))
      .toDF("k", "v", "label")
    // without the flag: the widened column simply does not exist in the
    // output (the kernel pins to the recorded schema) — prove the flag is
    // load-bearing, not cosmetic
    t.mergeCow(spark, src, "source.k = target.k", "k", "k",
      Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))), None,
      Some(Merge.NotMatchedInsert(None, Map.empty)))
    assert(t.read(spark).columns.toSeq === Seq("k", "v"))
    // with the flag: label appends (nullable), old rows back-fill null,
    // matched updates can SET it, inserts carry it
    val src2 = Seq((20L, -2.0, "twenty"), (300L, 3.0, "three hundred"))
      .toDF("k", "v", "label")
    t.mergeCow(spark, src2, "source.k = target.k", "k", "k",
      Some(Merge.MatchedUpdate(None, Map("v" -> "source.v", "label" -> "source.label"))),
      None, Some(Merge.NotMatchedInsert(None, Map.empty)),
      schemaEvolution = true)
    val out = t.read(spark)
    assert(out.columns.toSeq === Seq("k", "v", "label"))
    assert(out.filter("k = 20").head.getString(2) === "twenty")
    assert(out.filter("k = 300").head.getString(2) === "three hundred")
    assert(out.filter("k = 10").head.isNullAt(2)) // untouched rows: null back-fill
    assert(out.filter("label IS NULL").count() === 100) // 99 originals + k=200
    // the widened schema is RECORDED: a fresh read (new reader, no state)
    // sees it, and stats-bounded reads still work
    assert(VersionedTable(root).read(spark).schema.fieldNames.contains("label"))
  }

  test("a narrowing cast on a merge key side rejects the prune pair; widening passes") {
    val t = VersionedTable(tmpDir("mrg-cast-") + "/t")
    t.commit(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val src = Seq((5L, -5.0)).toDF("k", "v")
    // CAST(source.k AS INT) with a BIGINT source.k WRAPS values: two distinct
    // longs can collide after the cast, so the conjunct does not imply the
    // equi-key and file pruning on it would be unsound — refuse fast
    val e = intercept[IllegalArgumentException] {
      t.mergeCow(spark, src, "target.k = CAST(source.k AS INT)", "k", "k",
        Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    }
    assert(e.getMessage.contains("WIDENING"))
    // the analyzer-shaped WIDENING cast is still accepted (INT source
    // against the BIGINT key)
    val srcInt = Seq((5, -5.0)).toDF("k", "v")
    val (_, touched) = t.mergeCow(spark, srcInt,
      "target.k = CAST(source.k AS BIGINT)", "k", "k",
      Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    assert(touched >= 1)
    assert(t.read(spark).filter("v = -5.0").count() === 1)
    // mergeMor applies the same gate
    intercept[IllegalArgumentException] {
      t.mergeMor(spark, src, "CAST(target.k AS INT) = source.k", "k", "k",
        Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    }
  }

  test("SCD2 merge result equals the window-function formulation (independent oracle)") {
    // randomized-ish CDC via hashing over a range
    val n = 500
    val initial = spark.range(n).select(
      $"id",
      md5(concat(lit("v0-"), $"id")).as("checksum"),
      lit(true).as("iscurrent"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    // ~1/3 changed, ~1/5 new
    val cdc = spark.range(n + n / 5).filter($"id" % 3 === 0 || $"id" >= n).select(
      $"id",
      when($"id" < n, md5(concat(lit("v1-"), $"id")))
        .otherwise(md5(concat(lit("v0-"), $"id"))).as("checksum"),
      lit(true).as("iscurrent"),
      lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")).as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))

    initial.createOrReplaceTempView("t_initial")
    cdc.createOrReplaceTempView("t_cdc")
    val staged = spark.sql(
      """SELECT CAST(NULL AS BIGINT) AS mergeKey, new.*
        |FROM t_initial old INNER JOIN t_cdc new ON old.id = new.id
        |WHERE old.iscurrent = true AND old.checksum <> new.checksum
        |UNION
        |SELECT id AS mergeKey, * FROM t_cdc""".stripMargin)

    val merged = Merge.merge(initial, staged,
      condition = "source.mergeKey = target.id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(
        Some("target.iscurrent = true AND target.checksum <> source.checksum"),
        Map("valid_to" -> "source.valid_from", "iscurrent" -> "false"))),
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(None, Map.empty)))

    // oracle: latest row per key via row_number = the current row; older = expired
    merged.createOrReplaceTempView("t_merged")
    val current = spark.sql(
      """SELECT id, checksum FROM (
        |  SELECT id, checksum, row_number() OVER (
        |    PARTITION BY id ORDER BY valid_from DESC) rn
        |  FROM t_merged) x WHERE rn = 1""".stripMargin)
    val expectedCurrent = spark.sql(
      """SELECT coalesce(c.id, i.id) AS id,
        |       coalesce(c.checksum, i.checksum) AS checksum
        |FROM t_initial i FULL OUTER JOIN t_cdc c ON i.id = c.id""".stripMargin)
    assert(current.exceptAll(expectedCurrent).count() === 0)
    assert(expectedCurrent.exceptAll(current).count() === 0)

    // exactly the changed keys have an expired row
    val expired = merged.filter($"iscurrent" === false)
    val changedKeys = spark.sql(
      """SELECT i.id FROM t_initial i JOIN t_cdc c ON i.id = c.id
        |WHERE i.checksum <> c.checksum""".stripMargin)
    assert(expired.select("id").exceptAll(changedKeys).count() === 0)
    assert(changedKeys.exceptAll(expired.select("id")).count() === 0)
    assert(expired.filter($"valid_to".isNull).count() === 0)
  }

  test("stats-off partitioned table: partition VALUES confine a key-merge") {
    // the derived stores (postings/assigned) commit collectStats = false;
    // a merge keyed on the partition column must still touch ONLY the
    // matching partitions' files — the manifest partition values are exact
    // min=max bounds (round-16: statless used to mean "touch everything",
    // i.e. a full-store rewrite per bucket-confined sync evict)
    val t = VersionedTable(tmpDir("mrg-pv-") + "/t")
    t.commit(spark.range(0, 400)
        .selectExpr("id AS k", "id % 8 AS b").repartition(col("b")),
      partitionBy = Seq("b"), collectStats = false)
    val files0 = t.filesOf(t.resolve())
    assert(files0.size >= 8)
    assert(t.statsOf(t.resolve()).values.forall(_.isEmpty),
      "precondition: the commit recorded no column stats")
    // delete rows of exactly ONE partition value, keyed on the partition col
    val src = Seq((3L, 3L), (11L, 3L)).toDF("k", "b")
    val (_, touched) = t.mergeCow(spark, src,
      "source.b = target.b AND source.k = target.k",
      targetKey = "b", sourceKey = "b",
      whenMatchedDelete = Some(Merge.MatchedDelete(None)))
    val perPart = files0.groupBy(f =>
      t.partitionValuesOf(0L).getOrElse(f, Map.empty).get("b").flatten)
    assert(touched === perPart.get(Some("3")).map(_.size).getOrElse(0),
      "only the b=3 partition's files may be rewritten")
    assert(t.read(spark).count() === 398)
    assert(t.read(spark).filter("k IN (3, 11)").count() === 0)
    // untouched partitions carried verbatim: their original files survive
    val filesAfter = t.filesOf(t.resolve()).toSet
    assert(files0.filter(f => !perPart.get(Some("3")).exists(_.contains(f)))
      .forall(filesAfter.contains))
  }

  /** A 4-file table whose first file's recorded `k` bounds are strings no
    * BIGINT cast accepts (a foreign or damaged writer's stats): the merge
    * prune must keep that file touched, never skip it. */
  private def forgedBoundsTable(prefix: String): (VersionedTable, String) = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.{ArrayNode, TextNode}
    val t = VersionedTable(tmpDir(prefix) + "/t")
    t.commit(spark.range(0, 400).selectExpr("id AS k", "id AS v"),
      numPartitions = Some(4), sortBy = Seq("k"))
    val forged = t.filesOf(0L).find(f => t.statsOf(0L)(f)("k")._1 == "0").get
    val log = java.nio.file.Paths.get(t.root, "_graft_log", "v00000000.json")
    val mapper = new ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(log))
    val bounds = node.get("stats").get(forged).get("k").asInstanceOf[ArrayNode]
    bounds.set(0, TextNode.valueOf("zzz"))
    bounds.set(1, TextNode.valueOf("zzz"))
    java.nio.file.Files.write(log, mapper.writeValueAsBytes(node))
    VersionedTable.clearStateCache()
    assert(t.statsOf(0L)(forged)("k")._1 === "zzz")
    (t, forged)
  }

  test("a key bound that does not cast keeps its file touched, with or " +
      "without a checkpoint") {
    assert(!spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "precondition: a failed cast yields null (the ANSI-off session)")
    Seq(false, true).foreach { checkpointed =>
      val (t, forged) = forgedBoundsTable("mrg-badbound-")
      if (checkpointed) assert(t.checkpoint(spark) === 0L)
      val (_, touched) = t.mergeCow(spark, Seq((5L, -1L)).toDF("k", "v"),
        "source.k = target.k", targetKey = "k", sourceKey = "k",
        whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
      assert(touched === 1, s"checkpointed=$checkpointed: the forged file must be touched")
      assert(!t.filesOf(t.resolve()).contains(forged))
      assert(t.read(spark).filter("k = 5").select("v").as[Long].collect().toSeq === Seq(-1L),
        s"checkpointed=$checkpointed: the update must land")
      assert(t.read(spark).count() === 400)
    }
  }
}
