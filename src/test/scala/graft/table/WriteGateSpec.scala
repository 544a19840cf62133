package graft.table

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Path

/** The write gate (CHECK constraints and NOT NULL columns) of `append` and
  * `mergeCow` is checked inside the write job, on the rows being written:
  * a violating batch still raises [[ConstraintViolationException]] and
  * publishes nothing, and gating costs no Spark job of its own. */
class WriteGateSpec extends AnyFunSuite with SparkSpec with JobCensus {
  import spark.implicits._

  /** 40 rows, `p` the partition column when `partitioned`. When `gated`,
    * every column is NOT NULL (as `spark.range` derives them) and
    * `amount > 0` and `p <> 'bad'` are CHECKs; otherwise every column is
    * nullable and the table has no gate at all. */
  private def table(root: String, partitioned: Boolean, gated: Boolean): VersionedTable = {
    val t = VersionedTable(root)
    val rows = spark.range(0, 40).selectExpr("id",
      "CAST(id + 1 AS DOUBLE) AS amount", "CAST(id % 4 AS STRING) AS p")
    t.commit(
      if (gated) rows
      else spark.createDataFrame(rows.rdd, org.apache.spark.sql.types.StructType(
        rows.schema.fields.map(_.copy(nullable = true)))),
      numPartitions = Some(2), partitionBy = if (partitioned) Seq("p") else Nil)
    if (gated) {
      t.addConstraint(spark, "amount_pos", "amount > 0")
      t.addConstraint(spark, "p_ok", "p <> 'bad'")
    }
    t
  }

  private def batch(rows: (java.lang.Long, Double, String)*) =
    rows.toDF("id", "amount", "p")

  private def insertMerge(t: VersionedTable, src: org.apache.spark.sql.DataFrame) =
    t.mergeCow(spark, src, "source.id = target.id", targetKey = "id", sourceKey = "id",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None,
        Map("amount" -> "source.amount", "p" -> "source.p"))),
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(None, Map.empty)))

  for (partitioned <- Seq(false, true)) {
    val kind = if (partitioned) "partitioned" else "unpartitioned"

    test(s"$kind: a violating append or merge throws and publishes no version") {
      val t = table(tmpDir("gate-") + "/t", partitioned, gated = true)
      val head = t.resolve()
      val neg = intercept[ConstraintViolationException](
        t.append(batch((100L, -1.0, "0"), (101L, 2.0, "1"))))
      assert(neg.getMessage.contains("amount_pos") && neg.getMessage.contains("1 row(s)"),
        neg.getMessage)
      // a CHECK on the partition column sees the batch's partition values
      val bad = intercept[ConstraintViolationException](t.append(batch((102L, 1.0, "bad"))))
      assert(bad.getMessage.contains("p_ok"), bad.getMessage)
      // NULL violates a CHECK, and a null in the non-null column fails NOT NULL
      intercept[ConstraintViolationException](
        t.append(Seq[(java.lang.Long, Option[Double], String)]((103L, None, "0"))
          .toDF("id", "amount", "p")))
      val nn = intercept[ConstraintViolationException](t.append(batch((null, 1.0, "0"))))
      assert(nn.getMessage.contains("NOT NULL `id`"), nn.getMessage)
      // merges: a violating insert, and an update pushing a row out of bounds
      intercept[ConstraintViolationException](insertMerge(t, batch((200L, -5.0, "2"))))
      intercept[ConstraintViolationException](insertMerge(t, batch((3L, 1.0, "bad"))))
      assert(t.resolve() === head, "no rejected write may publish a version")
      assert(t.read(spark).count() === 40)
      // clean writes still go through
      t.append(batch((100L, 1.5, "0")))
      insertMerge(t, batch((3L, 9.0, "3"), (201L, 2.5, "1")))
      assert(t.resolve() === head + 2)
      assert(t.read(spark).count() === 42)
      assert(t.read(spark).filter("id = 3").select("amount").as[Double].head() === 9.0)
    }

    test(s"$kind: a gated append or merge runs as many Spark jobs as an ungated one") {
      val base = tmpDir("gate-jobs-")
      val plain = table(base + "/plain", partitioned, gated = false)
      val gated = table(base + "/gated", partitioned, gated = true)
      val rows = batch((100L, 1.5, "0"), (101L, 2.5, "1"))
      // one append each first, so both counted appends run warm
      plain.append(rows)
      gated.append(rows)
      val next = batch((102L, 3.5, "2"))
      val (_, plainJobs) = jobsDuring(plain.append(next))
      val (_, gatedJobs) = jobsDuring(gated.append(next))
      assert(gatedJobs === plainJobs,
        s"the gate rides the write job: $gatedJobs jobs vs $plainJobs ungated")
      val src = batch((5L, 7.0, "1"), (300L, 4.0, "3"))
      val (_, plainMerge) = jobsDuring(insertMerge(plain, src))
      val (_, gatedMerge) = jobsDuring(insertMerge(gated, src))
      assert(gatedMerge === plainMerge,
        s"the gate rides the merge's write job: $gatedMerge jobs vs $plainMerge ungated")
      assert(gated.read(spark).count() === plain.read(spark).count())
    }
  }

  test("a constraint added while an append is in flight is checked before publish") {
    val root = tmpDir("gate-race-") + "/t"
    table(root, partitioned = false, gated = true)
    // a store whose first manifest write first lets a concurrent writer add
    // a constraint: the append's publish collides and retries on that head
    def racing(name: String, expr: String): CommitStore = new CommitStore {
      private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
        if (target.getFileName.toString.startsWith("v") && fired.compareAndSet(false, true))
          VersionedTable(root).addConstraint(spark, name, expr)
        LinkCommitStore.putIfAbsent(target, bytes)
      }
    }
    val head = VersionedTable(root).resolve()
    // passes the gate the write observed, fails the one added meanwhile
    val rejected = intercept[ConstraintViolationException](
      VersionedTable(root, racing("late", "amount < 100")).append(batch((100L, 500.0, "0"))))
    assert(rejected.getMessage.contains("late ("), rejected.getMessage)
    assert(!rejected.getMessage.contains("amount_pos"), rejected.getMessage)
    val t = VersionedTable(root)
    assert(t.resolve() === head + 1, "only the concurrent ALTER published")
    assert(t.read(spark).count() === 40)
    // a batch passing the late constraint publishes on the new head
    val v = VersionedTable(root, racing("later", "amount < 60")).append(batch((100L, 50.0, "0")))
    assert(v === head + 3)
    assert(t.constraintsOf(v).keySet === Set("amount_pos", "p_ok", "late", "later"))
    assert(t.read(spark).filter("id = 100").count() === 1)
  }
}
