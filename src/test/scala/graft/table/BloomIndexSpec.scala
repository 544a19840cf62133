package graft.table

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The per-file Bloom sidecar (`bloomIndexColumns` table property): built
  * at the write funnel, probed by merge file-pruning and equality-bounded
  * reads. The scenario min-max stats CANNOT serve: a high-cardinality key
  * whose values are uniform across files — every file's [min, max] spans
  * the whole domain, so range pruning keeps everything; the Bloom filter
  * knows which file actually holds a key. */
class BloomIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** 8 files, each a round-robin (uniform) sample of the key domain:
    * every file's range covers every key, the worst case for min-max. */
  private def uniformTable(root: String, indexed: Boolean): VersionedTable = {
    val t = VersionedTable(root)
    if (indexed) t.setProperties(Map("bloomIndexColumns" -> "k",
      "bloomIndexExpectedItems" -> "2000", "bloomIndexFpp" -> "0.01"))
    t.commit(spark.range(0, 8000).selectExpr("id * 37 % 8000 AS k", "id AS v"),
      numPartitions = Some(8))
    t
  }

  test("point-lookup merge prunes files via the Bloom sidecar where ranges cannot") {
    val base = tmpDir("bloom-")
    val control = uniformTable(base + "/plain", indexed = false)
    val (_, touchedAll) = control.mergeCow(spark,
      spark.sql("SELECT 1234L AS k, -1L AS v"),
      condition = "source.k = target.k", targetKey = "k", sourceKey = "k",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    assert(touchedAll === 8, "uniform keys defeat min-max pruning entirely")

    val t = uniformTable(base + "/t", indexed = true)
    // the sidecar landed next to the commit
    assert(Files.isDirectory(Paths.get(base, "t", "bloom")))
    val (_, touched) = t.mergeCow(spark,
      spark.sql("SELECT 1234L AS k, -1L AS v"),
      condition = "source.k = target.k", targetKey = "k", sourceKey = "k",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    // the key lives in one file; 1% fpp may pass the odd extra file but
    // never most of them — and the merge result is still exact
    assert(touched >= 1 && touched <= 3,
      s"bloom should prune ~7 of 8 files, touched $touched")
    assert(t.read(spark).filter("k = 1234").select("v").as[Long].head() === -1L)
    assert(t.read(spark).count() === 8000)

    // equality-bounded read probes the sidecar too (file-skip observable)
    val (df, kept, total) = t.readBounded(spark,
      Seq(("k", Some("1234"), Some("1234"))))
    assert(total === 8 && kept <= 3 && kept >= 1)
    assert(df.filter("k = 1234").count() === 1)
    // a range bound (not a point) does not probe blooms and keeps all
    val (_, keptRange, _) = t.readBounded(spark,
      Seq(("k", Some("10"), Some("7990"))))
    assert(keptRange === 8)
  }

  test("a Bloom-indexed NESTED leaf builds and probes like a top-level key") {
    // the nested-stats convention extended to sidecars: `bloomIndexColumns`
    // may name a struct leaf by DOTTED path (leafType's collision rule —
    // exact top-level first, then the struct walk); build hashes the leaf,
    // probes resolve the leaf type, and the prune fires on the same
    // uniform-key shape min-max cannot serve
    val root = tmpDir("bloom-nested-") + "/t"
    val t = VersionedTable(root)
    t.setProperties(Map("bloomIndexColumns" -> "meta.media_id",
      "bloomIndexExpectedItems" -> "2000", "bloomIndexFpp" -> "0.01"))
    t.commit(spark.range(0, 8000).selectExpr(
      "named_struct('media_id', id * 37 % 8000, 'format', 'png') AS meta",
      "id AS v"),
      numPartitions = Some(8))
    assert(Files.isDirectory(Paths.get(root, "bloom")),
      "the nested-leaf sidecar must have been built")
    // equality-bounded read probes the sidecar under the dotted name
    val (df, kept, total) = t.readBounded(spark,
      Seq(("meta.media_id", Some("1234"), Some("1234"))))
    assert(total === 8 && kept >= 1 && kept <= 3,
      s"nested bloom should prune ~7 of 8 files, kept $kept")
    assert(df.filter("meta.media_id = 1234").count() === 1)
    // point-lookup read face on the dotted name
    val (dfK, keptK, totalK) = t.readByKeys(spark, "meta.media_id", Seq("1234"))
    assert(totalK === 8 && keptK >= 1 && keptK <= 3)
    assert(dfK.filter("meta.media_id = 1234").count() === 1)
    // an unresolvable indexed name (array path / missing leaf) is skipped
    // at build AND probe — never a crash, never a wrong prune
    val u = VersionedTable(tmpDir("bloom-nested-u-") + "/t")
    u.setProperties(Map("bloomIndexColumns" -> "meta.missing,tags.element"))
    u.commit(spark.range(0, 100).selectExpr(
      "named_struct('media_id', id) AS meta", "array('a') AS tags", "id AS v"))
    assert(u.read(spark).count() === 100)
    val (_, keptU, totalU) = u.readBounded(spark,
      Seq(("meta.missing", Some("5"), Some("5"))))
    assert(keptU === totalU, "an unindexed miss must keep every candidate")
  }

  test("readByKeys: per-key stats skip on sorted layouts, bloom on uniform ones") {
    val base = tmpDir("bloom-rbk-")
    // sorted: per-KEY stats keep ~1 file per key; the range HULL would keep all
    val s = VersionedTable(base + "/sorted")
    s.commit(spark.range(0, 8000).selectExpr("id AS k", "id % 5 AS v"),
      numPartitions = Some(8), sortBy = Seq("k"))
    val (dfS, keptS, totalS) = s.readByKeys(spark, "k", Seq("3", "7999"))
    assert(totalS === 8 && keptS === 2)
    assert(dfS.filter("k IN (3, 7999)").count() === 2)
    // uniform: stats cannot skip, the sidecar can
    val t = uniformTable(base + "/t", indexed = true)
    val (dfT, keptT, totalT) = t.readByKeys(spark, "k", Seq("1234"))
    assert(totalT === 8 && keptT >= 1 && keptT <= 3)
    assert(dfT.filter("k = 1234").count() === 1)
    // uniform + unindexed: both passes conservative — keeps all, still exact
    val plain = uniformTable(base + "/plain", indexed = false)
    val (dfP, keptP, _) = plain.readByKeys(spark, "k", Seq("1234"))
    assert(keptP === 8 && dfP.filter("k = 1234").count() === 1)
    // an absent key on the sorted table keeps only its range file; the
    // residual filter then serves zero rows (out-of-domain: zero files)
    val (dfNone, keptNone, _) = s.readByKeys(spark, "k", Seq("900000"))
    assert(keptNone === 0 && dfNone.count() === 0)
    // a DV-deleted row is not served even when its file is kept
    s.deleteMor(spark, "k = 3")
    val (dfDv, _, _) = s.readByKeys(spark, "k", Seq("3"))
    assert(dfDv.filter("k = 3").count() === 0)
  }

  test("IN-list point lookups probe the sidecar per member value") {
    val t = uniformTable(tmpDir("bloom-in-") + "/t", indexed = true)
    // the bounds channel would collapse IN (3, 7005) to the range
    // [3, 7005] — which covers every file's span and prunes nothing; the
    // exact-value channel probes each member's hash against the filters
    val (df, kept, total) = t.readBounded(spark,
      Seq(("k", Some("3"), Some("7005"))),
      exactValues = Seq(("k", Seq("3", "7005"))))
    assert(total === 8 && kept <= 4 && kept >= 1,
      s"two keys live in at most two files, kept $kept")
    assert(df.filter("k IN (3, 7005)").count() === 2)
    // the same lookup through the SQL front door (pushed In filter on the
    // graft-table relation) returns exact rows
    val reader = spark.read.format("graft-table")
      .option("path", t.root).load()
    assert(reader.filter("k IN (3, 7005)").count() === 2)
    assert(reader.count() === 8000)
  }

  test("bloom prune never drops a live key (every key of one file found)") {
    val t = uniformTable(tmpDir("bloom-all-") + "/t", indexed = true)
    // merge a batch touching MANY keys spread over all files: nothing lost
    val src = spark.range(0, 200).selectExpr("id * 41 % 8000 AS k", "0L - id AS v")
    val (_, touched) = t.mergeCow(spark, src,
      condition = "source.k = target.k", targetKey = "k", sourceKey = "k",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    assert(touched === 8, "200 uniform keys hit every file")
    val updated = t.read(spark).filter("v <= 0").count()
    assert(updated === 200)
  }

  test("COW delete/update point lookups prune their scan input via the sidecar") {
    val base = tmpDir("bloom-cow-")
    val t = uniformTable(base + "/t", indexed = true)
    // the touched-file COUNT is row-exact either way (the verbs row-scan);
    // what the sidecar narrows is the SCAN INPUT — assert the candidate
    // list the predicate pass plans (range stats alone keep all 8: every
    // file's [min, max] spans the key domain)
    val v = t.resolve()
    val files = t.read(spark).inputFiles
      .map(f => f.substring(f.indexOf("data/"))).toSeq
    assert(files.size === 8)
    val candEq = t.bloomPruneForPredicate(spark, v, files, "k = 1234")
    assert(candEq.size >= 1 && candEq.size <= 3,
      s"equality probe should confine the scan, planned ${candEq.size}")
    val (_, delTouched) = t.delete(spark, "k = 1234")
    assert(delTouched === 1 && t.read(spark).count() === 7999)
    val (_, updTouched) = t.update(spark, "k IN (7, 4321)", Map("v" -> "-1"))
    assert(updTouched >= 1 && updTouched <= 2)
    assert(t.read(spark).filter("v = -1").count() === 2)
    // MOR delete probes too (tombstones only matching files' rows)
    val (_, tombs) = t.deleteMor(spark, "k = 999")
    assert(tombs === 1L)
    assert(t.read(spark).count() === 7998)
  }

  test("a larger-than-cap key set skips the Bloom pass; the plan equals the range pass") {
    val root = tmpDir("bloom-cap-") + "/t"
    val t = VersionedTable(root)
    t.setProperties(Map("bloomIndexColumns" -> "k",
      "bloomIndexExpectedItems" -> "2000", "bloomIndexFpp" -> "0.01",
      "bloomProbeMaxKeys" -> "2")) // tiny cap to exercise the skip
    t.commit(spark.range(0, 8000).selectExpr("id * 37 % 8000 AS k", "id AS v"),
      numPartitions = Some(8))
    // under the cap the sidecar prunes (a single-key probe confines the scan)
    val files = t.read(spark).inputFiles
      .map(f => f.substring(f.indexOf("data/"))).toSeq
    assert(files.size === 8)
    val under = t.bloomPruneForPredicate(spark, t.resolve(), files, "k = 1234")
    assert(under.size < files.size, "a single-key probe is under the cap and prunes")
    // 3 point values > cap 2: the probe is skipped, the plan equals the
    // (range) candidate list unchanged
    assert(t.bloomPruneForPredicate(spark, t.resolve(), files,
      "k IN (1234, 777, 4321)") === files)
    // and a larger-than-cap merge still completes exactly, sidecar ignored:
    // range stats alone keep all 8 uniform files (the cap bounds DRIVER
    // memory, never correctness)
    val src = Seq(1234L, 777L, 4321L).toDF("k").selectExpr("k", "-1L AS v")
    val (_, touched) = t.mergeCow(spark, src,
      condition = "source.k = target.k", targetKey = "k", sourceKey = "k",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None, Map("v" -> "source.v"))))
    assert(touched === 8,
      s"above the cap the Bloom prune must not run (range pass keeps all 8), touched $touched")
    assert(t.read(spark).filter("v = -1").count() === 3)
  }

  test("cross-category probes are skipped (string literal vs numeric column)") {
    val t = uniformTable(tmpDir("bloom-cat-") + "/t", indexed = true)
    val v = t.resolve()
    val files = t.read(spark).inputFiles
      .map(f => f.substring(f.indexOf("data/"))).toSeq
    // a STRING literal against the BIGINT column must not probe (hashing a
    // canonical re-rendering can miss numerically-equal values like '20.0')
    assert(t.bloomPruneForPredicate(spark, v, files, "k = '1234'") === files)
    // the same-category probe still prunes
    assert(t.bloomPruneForPredicate(spark, v, files, "k = 1234").size < files.size)
  }

  test("vacuum retires a sidecar with its commit") {
    val root = tmpDir("bloom-vac-") + "/t"
    val t = uniformTable(root, indexed = true)
    val before = Files.list(Paths.get(root, "bloom")).count()
    assert(before === 1)
    t.commit(spark.range(0, 100).selectExpr("id AS k", "id AS v")) // overwrite
    t.vacuum(retainVersions = 1)
    // old commit's files AND its sidecar are gone; the new commit's remains
    assert(Files.list(Paths.get(root, "bloom")).count() === 1)
    // reads still work and the new commit's own sidecar keeps serving
    val (df, kept, total) = t.readBounded(spark, Seq(("k", Some("5"), Some("5"))))
    assert(t.read(spark).count() === 100 && kept >= 1 && kept <= total)
    assert(df.filter("k = 5").count() === 1)
  }

  private def filesOf(t: VersionedTable): Seq[String] =
    t.filesOf(t.resolve())

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so a sentinel job in its own group closes the window:
    * its start event arrives after every event `body` caused. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == s"$tag-sentinel" => sentinelSeen.countDown()
          case Some(g) if g == tag => counted.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "probe")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).rdd.count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, counted.get())
    } finally sc.removeSparkListener(l)
  }

  /** The Spark-side probe this suite's driver probe replaced, as an
    * independent oracle: key hashes from a Spark job over the literal
    * text, every sidecar row read by Spark's parquet reader, and the
    * left-join rule — a candidate with no row, or with a null filter,
    * survives; otherwise it survives iff some key might be present. */
  private def sparkProbe(t: VersionedTable, candidates: Seq[String],
      column: String, keys: Seq[String], sqlType: String): Seq[String] = {
    val lits = keys.map(k => s"'$k'").mkString(", ")
    val hashes = spark.range(1)
      .selectExpr(s"explode(array($lits)) AS __s")
      .selectExpr(s"xxhash64(CAST(__s AS $sqlType))").as[Long].collect().toSeq
    val rows = spark.read.parquet(s"${t.root}/bloom/*.parquet")
      .filter($"column" === column).select("path", "bloom")
      .as[(String, Array[Byte])].collect().groupBy(_._1)
    candidates.filter(f => rows.get(f).forall(_.exists { case (_, b) =>
      b == null || hashes.exists(
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)).mightContainLong)
    }))
  }

  test("a warm readByKeys probe prunes on the driver: zero Spark jobs") {
    val t = uniformTable(tmpDir("bloom-jobs-") + "/t", indexed = true)
    VersionedTable.bloomCache.clear()
    val ((_, keptCold, _), coldJobs) = jobsDuring(t.readByKeys(spark, "k", Seq("1234")))
    assert(keptCold >= 1 && keptCold <= 3)
    assert(coldJobs === 0, "8 sidecar parts are under the driver bound: no job either")
    val ((df, kept, total), warmJobs) = jobsDuring(t.readByKeys(spark, "k", Seq("777", "4321")))
    assert(warmJobs === 0, s"a warm probe must run no Spark job, ran $warmJobs")
    assert(total === 8 && kept >= 1 && kept <= 4)
    assert(df.filter("k IN (777, 4321)").count() === 2)
    // the equality and IN channels of readBounded are driver-side too
    val (_, boundedJobs) = jobsDuring(t.readBounded(spark,
      Seq(("k", Some("5"), Some("5"))), exactValues = Seq(("k", Seq("5", "6")))))
    assert(boundedJobs === 0)
  }

  /** Key sets over the uniform table plus its 400-key append: a key of
    * each commit, an absent key, and 20 random sets of 1–4 keys. */
  private val probeKeySets: Seq[Seq[String]] = {
    val rnd = new scala.util.Random(7)
    Seq(Seq("1234"), Seq("8100"), Seq("999999")) ++
      (1 to 20).map(_ => Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(8400).toString))
  }

  test("driver probe keeps exactly the files the Spark-side probe kept") {
    val base = tmpDir("bloom-oracle-")
    val t = uniformTable(base + "/t", indexed = true)
    // a second, differently sized commit: two sidecars, two filter sizes
    t.append(spark.range(8000, 8400).selectExpr("id AS k", "id AS v").repartition(2))
    val files = filesOf(t)
    val v = t.resolve()
    probeKeySets.foreach { keys =>
      val driver = t.bloomPruneForPredicate(spark, v, files,
        s"k IN (${keys.mkString(", ")})")
      assert(driver === sparkProbe(t, files, "k", keys, "BIGINT"), s"keys $keys")
      val (_, kept, _) = t.readByKeys(spark, "k", keys)
      assert(kept <= driver.size)
    }
    // the nested-leaf table of the suite: same rule on a dotted name
    val n = VersionedTable(tmpDir("bloom-oracle-n-") + "/t")
    n.setProperties(Map("bloomIndexColumns" -> "meta.media_id",
      "bloomIndexExpectedItems" -> "2000", "bloomIndexFpp" -> "0.01"))
    n.commit(spark.range(0, 8000).selectExpr(
      "named_struct('media_id', id * 37 % 8000, 'format', 'png') AS meta", "id AS v"),
      numPartitions = Some(8))
    Seq("1234", "5", "7999").foreach { k =>
      val (_, kept, _) = n.readByKeys(spark, "meta.media_id", Seq(k))
      assert(kept === sparkProbe(n, filesOf(n), "meta.media_id", Seq(k), "BIGINT").size)
    }
  }

  test("a file whose sidecar directory was deleted survives every probe") {
    val root = tmpDir("bloom-gone-") + "/t"
    val t = uniformTable(root, indexed = true)
    t.append(spark.range(8000, 8400).selectExpr("id AS k", "id AS v").repartition(2))
    val files = filesOf(t)
    val v = t.resolve()
    // warm the cache, then delete the first commit's sidecar
    assert(t.bloomPruneForPredicate(spark, v, files, "k = 8100").size <= 2)
    val firstCid = t.filesOf(0L).head.split('/')(1)
    val appended = files.filterNot(_.contains(firstCid))
    val sidecar = Paths.get(root, "bloom", s"$firstCid.parquet")
    Files.walk(sidecar).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    val kept = t.bloomPruneForPredicate(spark, v, files, "k = 8100")
    assert(files.filter(_.contains(firstCid)).forall(kept.contains),
      "files without a sidecar must survive even with a warm cache")
    assert(kept.count(appended.contains) >= 1 && kept.count(appended.contains) <= 2)
    assert(t.read(spark).filter("k = 1234").count() === 1)
    val (df, _, _) = t.readByKeys(spark, "k", Seq("1234"))
    assert(df.filter("k = 1234").count() === 1)
  }

  test("a table dropped and recreated at the same path is never served stale filters") {
    val root = tmpDir("bloom-recreate-") + "/t"
    val t = uniformTable(root, indexed = true)
    assert(t.readByKeys(spark, "k", Seq("1234"))._2 <= 3) // warm
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    rmTree(Paths.get(root))
    VersionedTable.clearStateCache()
    val t2 = VersionedTable(root)
    t2.setProperties(Map("bloomIndexColumns" -> "k"))
    t2.commit(spark.range(0, 800).selectExpr("id * 10 + 1 AS k", "id AS v"),
      numPartitions = Some(4))
    val (df, kept, total) = t2.readByKeys(spark, "k", Seq("1231"))
    assert(total === 4 && kept >= 1)
    assert(df.filter("k = 1231").count() === 1)
    // the same sidecar path replaced in place: the directory fingerprint
    // changes, so the cached filters are dropped, not served. The new
    // content holds a null filter for every file — all of them survive.
    val files = filesOf(t2)
    val cid = files.head.split('/')(1)
    val sidecar = Paths.get(root, "bloom", s"$cid.parquet")
    assert(t2.bloomPruneForPredicate(spark, t2.resolve(), files, "k = 1231").size < 4)
    rmTree(sidecar)
    files.map(f => (f, "k", null: Array[Byte])).toDF("path", "column", "bloom")
      .coalesce(1).write.parquet(sidecar.toString)
    assert(t2.bloomPruneForPredicate(spark, t2.resolve(), files, "k = 1231") === files)
  }

  test("above the driver bound the sidecars load in one job, same files kept") {
    val base = tmpDir("bloom-bound-")
    val t = uniformTable(base + "/t", indexed = true)
    t.append(spark.range(8000, 8400).selectExpr("id AS k", "id AS v").repartition(2))
    val files = filesOf(t)
    val v = t.resolve()
    val probes = Seq("k = 1234", "k IN (3, 7005, 8200)", "k = 999999")
    VersionedTable.bloomCache.clear()
    val onDriver = probes.map(p => t.bloomPruneForPredicate(spark, v, files, p))
    val key = "spark.graft.stats.footerDriverMaxFiles"
    spark.conf.set(key, "0")
    try {
      VersionedTable.bloomCache.clear()
      val (inJob, jobs) = jobsDuring(
        probes.map(p => t.bloomPruneForPredicate(spark, v, files, p)))
      assert(inJob === onDriver)
      assert(jobs === 1, s"the cold load is one job, later probes hit the cache; ran $jobs")
    } finally spark.conf.unset(key)
  }

  test("filters are sized from the commit's row counts unless expectedItems is set") {
    def bloomBytes(t: VersionedTable): Seq[Int] = sidecarRows(t).map(_._3.length)
    val small = VersionedTable(tmpDir("bloom-size-") + "/t")
    small.setProperties(Map("bloomIndexColumns" -> "k"))
    small.commit(spark.range(0, 50).selectExpr("id AS k", "id AS v").coalesce(1))
    // 50 rows at the derived 1e-6 rate: 1,438 bits — a few hundred bytes,
    // not the 117 KB of a fixed 100k-item filter
    assert(bloomBytes(small).forall(_ < 512), bloomBytes(small))
    assert(small.readByKeys(spark, "k", Seq("7"))._1.filter("k = 7").count() === 1)
    assert(small.readByKeys(spark, "k", Seq("70"))._2 === 0, "an absent key keeps no file")
    val fixed = VersionedTable(tmpDir("bloom-size-fixed-") + "/t")
    fixed.setProperties(Map("bloomIndexColumns" -> "k", "bloomIndexExpectedItems" -> "100000"))
    fixed.commit(spark.range(0, 50).selectExpr("id AS k", "id AS v").coalesce(1))
    assert(bloomBytes(fixed).forall(_ > 100000), "the explicit override still sizes")
    // one commit of a 50-row and a 5,000-row file: each filter is sized
    // from its own file, so the small file's stays small
    def perFile(props: Map[String, String]): Map[String, Int] = {
      val t = VersionedTable(tmpDir("bloom-size-per-file-") + "/t")
      t.setProperties(props)
      t.commit(spark.range(0, 5050).selectExpr("id AS k", "IF(id < 50, 'small', 'big') AS p"),
        numPartitions = Some(1), partitionBy = Seq("p"))
      sidecarRows(t).map { case (path, _, b) =>
        (if (path.contains("/p=small/")) "small" else "big") -> b.length
      }.toMap
    }
    val derived = perFile(Map("bloomIndexColumns" -> "k"))
    assert(derived.keySet === Set("small", "big"))
    assert(derived("small") < 512 && derived("big") > 10000, derived)
    val explicit = perFile(Map("bloomIndexColumns" -> "k", "bloomIndexExpectedItems" -> "100000"))
    assert(explicit.values.forall(_ > 100000), explicit)
  }

  /** Every sidecar row of `t`: (table-relative file, column, filter bytes),
    * read by Spark's parquet reader. */
  private def sidecarRows(t: VersionedTable): Seq[(String, String, Array[Byte])] =
    spark.read.parquet(s"${t.root}/bloom/*.parquet").select("path", "column", "bloom")
      .as[(String, String, Array[Byte])].collect().toSeq

  private def sidecarFilters(t: VersionedTable): Map[(String, String), BloomFilter] =
    sidecarRows(t).map { case (p, c, b) =>
      (p, c) -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    }.toMap

  /** Every row's `xxhash64` of `column` per live data file, from an
    * independent read back of the committed files grouped by
    * `input_file_name`. */
  private def rebuiltHashes(t: VersionedTable, column: String): Map[String, Seq[Long]] = {
    val files = filesOf(t)
    val leaf = column.split('.').map(p => s"`$p`").mkString(".")
    spark.read.parquet(files.map(f => Paths.get(t.root).resolve(f).toString): _*)
      .selectExpr("input_file_name() AS f", s"xxhash64($leaf) AS h")
      .as[(String, Long)].collect().toSeq
      .groupBy { case (f, _) =>
        val abs = java.net.URI.create(f).getPath
        files.find(rel => abs.endsWith("/" + rel)).getOrElse(fail(s"$abs is not a live file"))
      }
      .map { case (f, hs) => f -> hs.map(_._2) }
  }

  test("an indexed append runs as many Spark jobs as the same append unindexed") {
    val base = tmpDir("bloom-append-jobs-")
    val plain = uniformTable(base + "/plain", indexed = false)
    val t = uniformTable(base + "/t", indexed = true)
    val batch = spark.range(8000, 8050).selectExpr("id AS k", "id AS v")
    // one append each first, so both counted appends run warm
    plain.append(batch)
    t.append(batch)
    val (_, plainJobs) = jobsDuring(plain.append(batch))
    val (_, indexedJobs) = jobsDuring(t.append(batch))
    assert(indexedJobs === plainJobs,
      s"the filters are built inside the write job: $indexedJobs jobs vs $plainJobs unindexed")
    assert(Files.list(Paths.get(t.root, "bloom")).count() === 3, "one sidecar per commit")
    assert(t.readByKeys(spark, "k", Seq("8010"))._1.filter("k = 8010").count() === 2)
  }

  test("every written key of every file is found by its own file's filter") {
    val cols = Seq("i", "b", "s", "d", "dt", "ts", "meta.media_id")
    // every column has nulls; `p` is the partition column of the second table
    val rows = spark.range(0, 2000).selectExpr(
      "IF(id % 11 = 0, NULL, CAST(id AS INT)) AS i",
      "IF(id % 13 = 0, NULL, id * 1000003) AS b",
      "IF(id % 7 = 0, NULL, concat('key-', id)) AS s",
      "IF(id % 17 = 0, NULL, CAST(id / 8 AS DECIMAL(12, 3))) AS d",
      "IF(id % 19 = 0, NULL, date_add(DATE'2020-01-01', CAST(id AS INT))) AS dt",
      "IF(id % 23 = 0, NULL, timestamp_micros(1600000000000000 + id * 1000001)) AS ts",
      "named_struct('media_id', IF(id % 29 = 0, NULL, id * 37), 'format', 'png') AS meta",
      "CASE id % 3 WHEN 0 THEN 'a/b' WHEN 1 THEN 'c d' ELSE NULL END AS p")
    def check(t: VersionedTable, nFiles: Int): Unit = {
      val files = filesOf(t)
      assert(files.size === nFiles)
      val filters = sidecarFilters(t)
      cols.foreach { c =>
        val rebuilt = rebuiltHashes(t, c)
        assert(rebuilt.keySet === files.toSet)
        rebuilt.foreach { case (f, hs) =>
          val bf = filters.getOrElse((f, c), fail(s"no filter for ($f, $c)"))
          assert(hs.forall(bf.mightContainLong), s"a key of $c in $f is not in its filter")
        }
        assert(rebuilt.values.flatten.toSet.contains(42L), s"the nulls of $c hash to the seed")
      }
      // probes of one written value per column keep that value's file
      Seq("i" -> "5", "b" -> "5000015", "s" -> "'key-5'", "d" -> "0.625",
          "dt" -> "DATE'2020-01-06'", "meta.media_id" -> "185").foreach { case (c, lit) =>
        val key = lit.stripPrefix("DATE").stripPrefix("'").stripSuffix("'")
        val (df, kept, total) = t.readByKeys(spark, c, Seq(key))
        assert(kept >= 1 && kept < total, s"$c = $key kept $kept of $total")
        assert(df.filter(s"$c = $lit").count() === 1, s"$c = $lit")
      }
    }
    val flat = VersionedTable(tmpDir("bloom-types-") + "/t")
    flat.setProperties(Map("bloomIndexColumns" -> cols.mkString(",")))
    flat.commit(rows, numPartitions = Some(4))
    check(flat, 4)
    // partitioned: paths carry escaped (a%2Fb) and null partition segments;
    // the partition column is not in the files and gets no filter
    val parted = VersionedTable(tmpDir("bloom-types-p-") + "/t")
    parted.setProperties(Map("bloomIndexColumns" -> (cols :+ "p").mkString(",")))
    parted.commit(rows, numPartitions = Some(2), partitionBy = Seq("p"))
    check(parted, 3)
    assert(!sidecarFilters(parted).keys.exists(_._2 == "p"))
  }

  test("kept files equal an independent rebuild of the filters from the written files") {
    /** Each file's filter rebuilt from its read-back hashes, sized as the
      * table sizes it; a file survives iff some key might be in it. */
    def rebuildProbe(t: VersionedTable, keys: Seq[String],
        sized: Long => BloomFilter): Seq[String] = {
      val lits = keys.map(k => s"'$k'").mkString(", ")
      val hashes = spark.range(1).selectExpr(s"explode(array($lits)) AS __s")
        .selectExpr("xxhash64(CAST(__s AS BIGINT))").as[Long].collect().toSeq
      val rebuilt = rebuiltHashes(t, "k").map { case (f, hs) =>
        val bf = sized(hs.size.toLong)
        hs.foreach(bf.putLong)
        f -> bf
      }
      filesOf(t).filter(f => rebuilt.get(f).forall(bf => hashes.exists(bf.mightContainLong)))
    }
    val explicit = uniformTable(tmpDir("bloom-rebuild-") + "/t", indexed = true)
    val derived = VersionedTable(tmpDir("bloom-rebuild-d-") + "/t")
    derived.setProperties(Map("bloomIndexColumns" -> "k"))
    derived.commit(spark.range(0, 8000).selectExpr("id * 37 % 8000 AS k", "id AS v"),
      numPartitions = Some(8))
    Seq(explicit, derived).foreach(
      _.append(spark.range(8000, 8400).selectExpr("id AS k", "id AS v").repartition(2)))
    Seq[(VersionedTable, Long => BloomFilter)](
      explicit -> (_ => BloomFilter.create(2000, 0.01)),
      derived -> (n => BloomFilter.create(n, VersionedTable.DerivedBloomFpp))
    ).foreach { case (t, sized) =>
      val files = filesOf(t)
      val v = t.resolve()
      probeKeySets.foreach { keys =>
        assert(t.bloomPruneForPredicate(spark, v, files, s"k IN (${keys.mkString(", ")})") ===
          rebuildProbe(t, keys, sized), s"${t.root}: keys $keys")
      }
    }
  }

  test("an append leaves its filters in the driver cache: the next lookup reads no sidecar") {
    val root = tmpDir("bloom-write-through-") + "/t"
    val t = uniformTable(root, indexed = true)
    VersionedTable.bloomCache.clear()
    t.append(spark.range(8000, 8400).selectExpr("id AS k", "id AS v").repartition(2))
    val first = t.filesOf(0L).map(_.split('/')(1)).toSet
    val appended = filesOf(t).filterNot(f => first.contains(f.split('/')(1)))
    val cid = appended.head.split('/')(1)
    val dir = Paths.get(root, "bloom", s"$cid.parquet").toAbsolutePath.normalize
    val cached = VersionedTable.fingerprint(dir)
      .flatMap(VersionedTable.bloomCache.get(dir.toString, _))
    assert(cached.map(_.filters.keySet) === Some(appended.map(_ -> "k").toSet))
    // garble the part in place: the directory's fingerprint stays the same,
    // so only a read of the file could notice
    val part = dir.resolve("part-00000.parquet")
    Files.write(part, "not parquet".getBytes("UTF-8"))
    val ((df, kept, _), jobs) = jobsDuring(t.readByKeys(spark, "k", Seq("8100")))
    assert(jobs === 0)
    assert(kept === 1 && df.filter("k = 8100").count() === 1)
    // the control: with the cache cleared, the same lookup reads the part
    VersionedTable.bloomCache.clear()
    intercept[Exception](t.readByKeys(spark, "k", Seq("8100")))
  }
}
