package graft.table

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Versioned reads scan the manifest's files through a
  * [[ManifestFileIndex]] instead of handing the paths to
  * `spark.read.parquet`, whose `InMemoryFileIndex` lists them again (a Spark
  * job above 32 paths). The oracle throughout is that `spark.read.parquet`
  * scan of the same files: rows, `_metadata` positions and `inputFiles`
  * must not change. */
class ManifestFileIndexSpec extends AnyFunSuite with SparkSpec with JobCensus {
  import spark.implicits._

  private val ListingJob = "Listing leaf files and directories"

  private def absPaths(t: VersionedTable, files: Seq[String]): Seq[String] =
    files.map(f => Paths.get(t.root).resolve(f).toString)

  /** Rows of `df`'s `cols` with each row's file and position, sorted. */
  private def positioned(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(df.col) ++
        Seq(df.col("_metadata.file_path"), df.col("_metadata.row_index")): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `scanFiles` over `files` agrees with `spark.read.parquet` of the same
    * paths on rows, `_metadata` positions and `inputFiles`. */
  private def assertScanParity(t: VersionedTable, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType, byId: Boolean = false,
      physical: Seq[String] = Nil): Unit = {
    val ours = t.scanFiles(spark, files, Some(schema), byId)
    val theirs = spark.read.parquet(absPaths(t, files): _*)
    val oursCols = schema.fieldNames.toSeq
    val theirCols = if (physical.nonEmpty) physical else oursCols
    assert(positioned(ours, oursCols) === positioned(theirs, theirCols))
    assert(ours.inputFiles.sorted.toSeq === theirs.inputFiles.sorted.toSeq)
  }

  test("a read of a 40-file version runs no listing job") {
    val t = VersionedTable(tmpDir("mfi-40-") + "/t")
    t.commit(spark.range(0, 4000).selectExpr("id AS k", "id % 7 AS g"),
      numPartitions = Some(40))
    val files = t.filesOf(t.resolve())
    assert(files.size === 40)
    // the control: Spark's own reader lists 40 paths in a job
    val (_, control) = jobsStarted(spark.read.parquet(absPaths(t, files): _*).count())
    assert(control.exists(_.startsWith(ListingJob)),
      s"spark.read.parquet of 40 paths should list them in a job: ${control.mkString("; ")}")
    val (n, jobs) = jobsStarted(t.read(spark).filter("g = 3").count())
    assert(n === (0 until 4000).count(_ % 7 == 3))
    assert(!jobs.exists(_.startsWith(ListingJob)), jobs.mkString("; "))
    // the SQL path too
    val (m, sqlJobs) = jobsStarted(
      spark.sql(s"SELECT count(*) FROM graft.`${t.root}` WHERE g = 3").head().getLong(0))
    assert(m === n)
    assert(!sqlJobs.exists(_.startsWith(ListingJob)), sqlJobs.mkString("; "))
  }

  test("plain table: rows, positions and inputFiles equal spark.read.parquet") {
    val t = VersionedTable(tmpDir("mfi-plain-") + "/t")
    t.commit(spark.range(0, 300).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
      numPartitions = Some(3))
    t.append(spark.range(300, 350).selectExpr("id AS k", "CAST(id AS STRING) AS s"))
    val v = t.resolve()
    assertScanParity(t, t.filesOf(v), t.schemaOf(v).get)
    val read = t.read(spark)
    assert(read.inputFiles.sorted.toSeq ===
      spark.read.parquet(absPaths(t, t.filesOf(v)): _*).inputFiles.sorted.toSeq)
    assert(read.as[(Long, String)].collect().toSet ===
      (0L until 350L).map(i => (i, i.toString)).toSet)
  }

  test("MOR deletion vectors: live rows and DV reads match spark.read.parquet") {
    val t = VersionedTable(tmpDir("mfi-dv-") + "/t")
    t.commit(spark.range(0, 400).selectExpr("id AS k", "id * 2 AS v"), numPartitions = Some(4))
    val (_, deleted) = t.deleteMor(spark, "k % 5 = 0")
    assert(deleted === 80L)
    val v = t.resolve()
    val files = t.filesOf(v)
    assertScanParity(t, files, t.schemaOf(v).get)
    // an independent oracle for the live rows: every position of the data
    // files minus the DV's (file, row_index) tombstones, both read by Spark
    val rootAbs = Paths.get(t.root).toAbsolutePath.toString + "/"
    val dvPaths = Files.walk(Paths.get(t.root, "dv")).iterator().asScala
      .map(_.toString).filter(p => p.endsWith(".parquet") && !p.contains("/.")).toSeq
    val tombs = spark.read.parquet(dvPaths: _*).as[(String, Long)].collect().toSet
    assert(tombs.size === 80)
    val oracle = spark.read.parquet(absPaths(t, files): _*)
      .select($"k", $"v", $"_metadata.file_path", $"_metadata.row_index")
      .as[(Long, Long, String, Long)].collect()
      .filterNot { case (_, _, fp, ri) =>
        tombs.contains((new java.net.URI(fp).getPath.stripPrefix(rootAbs), ri)) }
      .map { case (k, v, _, _) => (k, v) }.toSet
    assert(t.read(spark).as[(Long, Long)].collect().toSet === oracle)
    assert(oracle === (0L until 400L).filter(_ % 5 != 0).map(k => (k, k * 2)).toSet)
    // the DV files themselves: same rows and positions through either reader
    val dvRel = dvPaths.map(_.stripPrefix(rootAbs))
    val dvSchema = spark.read.parquet(dvPaths: _*).schema
    assertScanParity(t, dvRel, dvSchema)
  }

  test("partitioned table with escaped and null partition values") {
    val t = VersionedTable(tmpDir("mfi-part-") + "/t")
    val rows = Seq((1L, "a b"), (2L, "x/y"), (3L, "100%"), (4L, null), (5L, "plain"),
      (6L, "a b"), (7L, null))
    t.commit(rows.toDF("k", "p"), numPartitions = Some(1), partitionBy = Seq("p"))
    val v = t.resolve()
    val files = t.filesOf(v)
    assert(files.size === 5)
    val dataSchema = org.apache.spark.sql.types.StructType(
      t.schemaOf(v).get.fields.filterNot(_.name == "p"))
    // the files hold only the data columns
    assertScanParity(t, files, dataSchema)
    assert(t.read(spark).as[(Long, Option[String])].collect().toSet ===
      rows.map { case (k, p) => (k, Option(p)) }.toSet)
    val (pruned, kept, total) = t.readPartitioned(spark, "p = 'x/y'")
    assert(kept === 1 && total === 5)
    assert(pruned.select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("id-tracked table after RENAME COLUMN reads by field id") {
    val t = VersionedTable(tmpDir("mfi-id-") + "/t")
    t.commit(spark.range(0, 120).selectExpr("id AS k", "id * 10 AS amount"),
      numPartitions = Some(2))
    t.renameColumn("amount", "total")
    val v = t.resolve()
    val schema = t.schemaOf(v).get
    assert(schema.fieldNames.toSeq === Seq("k", "total"))
    // the files still carry the old physical name
    assertScanParity(t, t.filesOf(v), schema, byId = true, physical = Seq("k", "amount"))
    assert(t.read(spark).select("k", "total").as[(Long, Long)].collect().toSet ===
      (0L until 120L).map(k => (k, k * 10)).toSet)
  }

  test("two reads of one version are the same result and share a cache entry") {
    val t = VersionedTable(tmpDir("mfi-same-") + "/t")
    t.commit(spark.range(0, 100).selectExpr("id AS k"), numPartitions = Some(2))
    t.append(spark.range(100, 110).selectExpr("id AS k"))
    val a = t.read(spark, versionAsOf = Some(1L))
    val b = t.read(spark, versionAsOf = Some(1L))
    assert(a.sameSemantics(b))
    assert(!a.sameSemantics(t.read(spark, versionAsOf = Some(0L))))
    a.cache()
    try {
      assert(a.count() === 110)
      val cached = b.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      assert(cached.nonEmpty, "a second read of the version must hit the cached first")
    } finally a.unpersist(blocking = true)
    // DV-carrying reads compare equal too
    t.deleteMor(spark, "k < 5")
    assert(t.read(spark).sameSemantics(t.read(spark)))
  }

  test("a read of a vacuumed file fails loudly") {
    val t = VersionedTable(tmpDir("mfi-gone-") + "/t")
    t.commit(spark.range(0, 100).selectExpr("id AS k"), numPartitions = Some(2))
    val gone = t.filesOf(t.resolve()).head
    Files.delete(Paths.get(t.root).resolve(gone))
    val e = intercept[java.io.FileNotFoundException](t.read(spark).count())
    assert(e.getMessage.contains(Paths.get(gone).getFileName.toString), e.getMessage)
  }

  test("a schema-less scan infers the files' schema") {
    val t = VersionedTable(tmpDir("mfi-infer-") + "/t")
    t.commit(Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    val files = t.filesOf(t.resolve())
    val df = t.scanFiles(spark, files, None)
    assert(df.schema.fieldNames.toSeq === Seq("k", "s"))
    assert(df.as[(Long, String)].collect().toSet === Set((1L, "x"), (2L, "y")))
    assert(df.collect().toSet === spark.read.parquet(absPaths(t, files): _*).collect().toSet)
  }
}
