package graft.queries

import graft.dedup.TextIndexStore
import graft.table.VersionedTable
import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Paths

/** Incremental BM25 index maintenance ([[TextIndexStore]], SURVEY.md §2.12
  * / the s15 gate entry): a store grown by `admit` must be EXACTLY the
  * full-corpus build — postings append to their buckets, lexicon df merges
  * in place, nd/totalLen advance — and a second session must serve the
  * grown store without any rebuild. */
class TextIndexStoreSpec extends AnyFunSuite with SparkSpec {

  private def writeDocs(dir: String, n: Int): Unit =
    spark.range(0, n).selectExpr("id AS doc_id",
        "concat('spark merge sort dup w', id % 17, ' window etl x', id % 5) AS text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def indexRootFor(dir: String): String = {
    val base = spark.conf.get("spark.graft.index.root")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(Paths.get(dir).toAbsolutePath.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    s"$base/$key"
  }

  test("admit grows the index exactly: postings append, lexicon df merges, " +
      "stats match a full-corpus build") {
    val dir = tmpDir("txt-corpus-")
    writeDocs(dir, 200)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 150"), "fp0")
    val posts = VersionedTable(s"$root/postings")
    val vPosts0 = posts.resolve()
    assert(TextIndexStore.admit(spark, root,
      docs.filter("doc_id >= 150"), "fp1") === 50L)
    // growth is one APPEND on postings — never an overwrite/rebuild
    assert(posts.resolve() === vPosts0 + 1)
    val op = posts.history(spark).filter(s"version = ${vPosts0 + 1}")
      .select("operation").head.getString(0)
    assert(op === "APPEND", s"admit must append, got $op")
    assert(posts.properties.get("corpusFingerprint").contains("fp1"),
      "the fingerprint must advance with the admitted batch")
    // the grown store's corpus stats, lexicon and postings equal the
    // full-corpus build bit for bit (BM25 maintenance is exact)
    val full = tmpDir("txt-full-") + "/s"
    TextIndexStore.build(spark, full, docs, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    def lexRows(r: String): Seq[(String, Long)] =
      VersionedTable(s"$r/lexicon").read(spark)
        .selectExpr("word", "CAST(df AS BIGINT)").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSeq.sorted
    assert(lexRows(root) === lexRows(full))
    def postRows(r: String): Seq[(Long, String, Long, Long)] =
      VersionedTable(s"$r/postings").read(spark)
        .selectExpr("doc_id", "word", "tf", "len").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
        .toSeq.sorted
    assert(postRows(root) === postRows(full))
    // a batch with only already-known words still merges df correctly (no
    // inserts) and an empty batch is a no-op
    val v1 = posts.resolve()
    assert(TextIndexStore.admit(spark, root,
      docs.filter("doc_id < 0"), "fp2") === 0L)
    assert(posts.resolve() === v1, "an empty admit must commit nothing")
  }

  private def lexRowsOf(r: String): Seq[(String, Long)] =
    VersionedTable(s"$r/lexicon").read(spark)
      .selectExpr("word", "CAST(df AS BIGINT)").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq.sorted

  private def postRowsOf(r: String): Seq[(Long, String, Long, Long)] =
    VersionedTable(s"$r/postings").read(spark)
      .selectExpr("doc_id", "word", "tf", "len").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
      .toSeq.sorted

  test("a torn admit (crash after the postings append) is rolled forward " +
      "by the next admit — the store returns to serving-exact") {
    val dir = tmpDir("txt-torn-")
    writeDocs(dir, 180)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-torn-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 100"), "fp0")
    TextIndexStore.failpoint = Some("afterAppend")
    try intercept[IllegalStateException] {
      TextIndexStore.admit(spark, root, docs.filter("doc_id BETWEEN 100 AND 139"), "fp1")
    } finally TextIndexStore.failpoint = None
    // the tear is DETECTED, not silently served: the marker is present,
    // postings landed, lexicon and stats did not
    val posts = VersionedTable(s"$root/postings")
    assert(posts.properties.get("admitPending").contains("1"))
    assert(TextIndexStore.stats(root)._1 === 100L, "stats must not have advanced")
    // the next admit repairs first (lexicon merge + stats from the
    // appended slice), then admits its own batch
    assert(TextIndexStore.admit(spark, root,
      docs.filter("doc_id >= 140"), "fp2") === 40L)
    assert(!posts.properties.contains("admitPending"))
    val full = tmpDir("txt-torn-full-") + "/s"
    TextIndexStore.build(spark, full, docs, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(lexRowsOf(root) === lexRowsOf(full))
    assert(postRowsOf(root) === postRowsOf(full))
  }

  test("a torn admit (crash after the lexicon merge, stats missing) " +
      "completes via explicit repair without double-merging df") {
    val dir = tmpDir("txt-torn2-")
    writeDocs(dir, 150)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-torn2-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 100"), "fp0")
    TextIndexStore.failpoint = Some("afterLexicon")
    try intercept[IllegalStateException] {
      TextIndexStore.admit(spark, root, docs.filter("doc_id >= 100"), "fp1")
    } finally TextIndexStore.failpoint = None
    assert(TextIndexStore.repair(spark, root) === true)
    assert(TextIndexStore.repair(spark, root) === false, "repair is idempotent")
    val posts = VersionedTable(s"$root/postings")
    assert(posts.properties.get("corpusFingerprint").contains("fp1"),
      "repair must land the torn admit's fingerprint")
    val full = tmpDir("txt-torn2-full-") + "/s"
    TextIndexStore.build(spark, full, docs, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(lexRowsOf(root) === lexRowsOf(full))
  }

  test("the MOR evict flavor (physical=false) serves exactly and repairs — " +
      "tombstones instead of rewrites, same store contents") {
    val dir = tmpDir("txt-mor-")
    writeDocs(dir, 150)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-mor-store-") + "/s"
    TextIndexStore.build(spark, root, docs, "fp0")
    val posts = VersionedTable(s"$root/postings")
    // MOR evict: the postings commit carries DELETION VECTORS, no data-file
    // rewrite of the touched buckets
    assert(TextIndexStore.evict(spark, root,
      docs.filter("doc_id >= 120").select("doc_id"), "fp1",
      physical = false) === 30L)
    assert(posts.detail(spark).select("num_deletion_vectors")
      .collect().head.getLong(0) > 0L,
      "the MOR evict must have produced deletion vectors")
    val survivors = tmpDir("txt-mor-full-") + "/s"
    TextIndexStore.build(spark, survivors, docs.filter("doc_id < 120"), "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(survivors))
    assert(lexRowsOf(root) === lexRowsOf(survivors))
    assert(postRowsOf(root) === postRowsOf(survivors))
    // a torn MOR evict rolls forward from the marker-pinned pre-delete
    // version exactly like the COW flavor (time travel reads across a DV
    // commit identically)
    TextIndexStore.failpoint = Some("afterPostingsDelete")
    try intercept[IllegalStateException] {
      TextIndexStore.evict(spark, root,
        docs.filter("doc_id >= 100 AND doc_id < 120").select("doc_id"), "fp2",
        physical = false)
    } finally TextIndexStore.failpoint = None
    assert(posts.properties.get("evictPending").contains("1"))
    assert(TextIndexStore.repair(spark, root) === true)
    assert(!posts.properties.contains("evictPending"))
    val survivors2 = tmpDir("txt-mor-full2-") + "/s"
    TextIndexStore.build(spark, survivors2, docs.filter("doc_id < 100"), "fpG")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(survivors2))
    assert(lexRowsOf(root) === lexRowsOf(survivors2))
    assert(postRowsOf(root) === postRowsOf(survivors2))
    // and a later admit over the DV-carrying store stays exact
    assert(TextIndexStore.admit(spark, root,
      docs.filter("doc_id >= 100 AND doc_id < 110"), "fp3") === 10L)
    val survivors3 = tmpDir("txt-mor-full3-") + "/s"
    TextIndexStore.build(spark, survivors3, docs.filter("doc_id < 110"), "fpH")
    assert(postRowsOf(root) === postRowsOf(survivors3))
    assert(lexRowsOf(root) === lexRowsOf(survivors3))
  }

  test("a torn EVICT (crash after the postings delete) is rolled forward — " +
      "lexicon df and nd/totalLen do not stay overcounted") {
    val dir = tmpDir("txt-tevict-")
    writeDocs(dir, 150)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-tevict-store-") + "/s"
    TextIndexStore.build(spark, root, docs, "fp0")
    val victims = docs.filter("doc_id >= 120").select("doc_id")
    TextIndexStore.failpoint = Some("afterPostingsDelete")
    try intercept[IllegalStateException] {
      TextIndexStore.evict(spark, root, victims, "fp1")
    } finally TextIndexStore.failpoint = None
    // the tear is DETECTED: postings are gone but the marker is present and
    // lexicon/stats still count the victims — a blind retry would find no
    // postings to erase and silently keep the overcount forever
    val posts = VersionedTable(s"$root/postings")
    assert(posts.properties.get("evictPending").contains("1"))
    assert(TextIndexStore.stats(root)._1 === 150L, "stats must not have shrunk yet")
    // the next verb repairs first: the victims' rows are recovered from the
    // marker-pinned pre-delete version and the df decrement + stats replay
    assert(TextIndexStore.repair(spark, root) === true)
    assert(TextIndexStore.repair(spark, root) === false, "repair is idempotent")
    assert(!posts.properties.contains("evictPending"))
    assert(posts.properties.get("corpusFingerprint").contains("fp1"))
    val survivors = tmpDir("txt-tevict-full-") + "/s"
    TextIndexStore.build(spark, survivors, docs.filter("doc_id < 120"), "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(survivors))
    assert(lexRowsOf(root) === lexRowsOf(survivors))
    assert(postRowsOf(root) === postRowsOf(survivors))
  }

  test("a torn EVICT (crash after the lexicon decrement, stats missing) " +
      "completes via the next admit's implicit repair without double-decrementing") {
    val dir = tmpDir("txt-tevict2-")
    writeDocs(dir, 160)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-tevict2-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 120"), "fp0")
    TextIndexStore.failpoint = Some("afterLexiconEvict")
    try intercept[IllegalStateException] {
      TextIndexStore.evict(spark, root, docs.filter("doc_id >= 100").select("doc_id"), "fp1")
    } finally TextIndexStore.failpoint = None
    // next admit repairs the torn evict (stats commit only — the lexicon
    // decrement already landed and must NOT replay), then admits its batch
    assert(TextIndexStore.admit(spark, root,
      docs.filter("doc_id >= 120"), "fp2") === 40L)
    val posts = VersionedTable(s"$root/postings")
    assert(!posts.properties.contains("evictPending"))
    val expected = tmpDir("txt-tevict2-full-") + "/s"
    TextIndexStore.build(spark, expected,
      docs.filter("doc_id < 100 OR doc_id >= 120"), "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(expected))
    assert(lexRowsOf(root) === lexRowsOf(expected))
    assert(postRowsOf(root) === postRowsOf(expected))
  }

  test("re-admitting an already-indexed batch is a loud no-op: 0 admitted, " +
      "no commit, stats unchanged") {
    val dir = tmpDir("txt-dup-")
    writeDocs(dir, 120)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-dup-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 80"), "fp0")
    assert(TextIndexStore.admit(spark, root, docs.filter("doc_id >= 80"), "fp1") === 40L)
    val posts = VersionedTable(s"$root/postings")
    val v = posts.resolve()
    val s = TextIndexStore.stats(root)
    // full replay: every doc_id already indexed → dropped by the guard
    assert(TextIndexStore.admit(spark, root, docs.filter("doc_id >= 80"), "fpX") === 0L)
    assert(posts.resolve() === v && TextIndexStore.stats(root) === s,
      "a replayed batch must not double-count df/nd/totalLen")
    // partial overlap: only the genuinely new docs admit
    writeDocs(dir, 140) // 20 new docs beyond the indexed 120
    val docs2 = Tables.table(spark, dir, "documents")
    assert(TextIndexStore.admit(spark, root,
      docs2.filter("doc_id >= 80"), "fp2") === 20L)
    val full = tmpDir("txt-dup-full-") + "/s"
    TextIndexStore.build(spark, full, docs2, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(postRowsOf(root) === postRowsOf(full))
  }

  test("a replayed txn-stamped sync is a full no-op, even when the cursor " +
      "did not advance") {
    val base = tmpDir("txt-sync-replay-")
    val t = VersionedTable(s"$base/docs")
    def docs(from: Long, to: Long) = spark.range(from, to).selectExpr("id AS doc_id",
      "concat('spark merge sort dup w', id % 17, ' window etl x', id % 5) AS text")
    t.commit(docs(0, 100))
    val root = s"$base/idx"
    TextIndexStore.build(spark, root, t.read(spark), "fp0")
    TextIndexStore.markSynced(root, t.resolve())
    val synced0 = t.resolve()
    t.append(docs(100, 130))
    assert(TextIndexStore.syncFromTable(spark, root, t, "fp1",
      txn = Some(("sync-app", 1L)))._1 === 30L)
    val (stats, posts, lex) = (TextIndexStore.stats(root), postRowsOf(root), lexRowsOf(root))
    // the first run's admission is durable, but it died before the cursor
    // advanced: the replay must neither evict nor admit
    TextIndexStore.markSynced(root, synced0)
    assert(TextIndexStore.syncFromTable(spark, root, t, "fp1",
      txn = Some(("sync-app", 1L))) === ((0L, 0L)))
    assert(TextIndexStore.stats(root) === stats)
    assert(postRowsOf(root) === posts && lexRowsOf(root) === lex)
    // the next sync re-covers the range from the unmoved cursor: exact
    assert(TextIndexStore.syncFromTable(spark, root, t, "fp2",
      txn = Some(("sync-app", 2L))) === ((30L, 30L)))
    val full = tmpDir("txt-sync-replay-full-") + "/s"
    TextIndexStore.build(spark, full, docs(0, 130), "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(postRowsOf(root) === postRowsOf(full))
  }

  test("evict erases documents exactly: the store equals a build on " +
      "corpus-minus-docs, and a term whose last doc leaves exits the lexicon") {
    val dir = tmpDir("txt-evict-")
    writeDocs(dir, 200)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-evict-store-") + "/s"
    TextIndexStore.build(spark, root, docs, "fp0")
    val victims = docs.filter("doc_id % 10 = 0").select("doc_id")
    assert(TextIndexStore.evict(spark, root, victims, "fp1") === 20L)
    // exactness: identical to a store never containing the victims
    val minus = tmpDir("txt-evict-minus-") + "/s"
    TextIndexStore.build(spark, minus, docs.filter("doc_id % 10 != 0"), "fpM")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(minus))
    assert(lexRowsOf(root) === lexRowsOf(minus))
    assert(postRowsOf(root) === postRowsOf(minus))
    // no surviving row carries a forgotten doc_id
    assert(VersionedTable(s"$root/postings").read(spark)
      .filter("doc_id % 10 = 0").isEmpty)
    // w0/w10/... words: 'w0' appears only in doc_ids ≡ 0 (mod 17)... every
    // word here survives; instead assert df decrements exactly via the
    // lexicon equality above, and that re-evicting is a no-op
    assert(TextIndexStore.evict(spark, root, victims, "fp2") === 0L)
  }

  test("serving stays exact after OPTIMIZE of the hot postings buckets " +
      "(append-only growth has the same maintenance story as the vector store)") {
    val dir = tmpDir("txt-opt-")
    writeDocs(dir, 160)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-opt-store-") + "/s"
    TextIndexStore.build(spark, root, docs.filter("doc_id < 100"), "fp0")
    // several admit batches land small appended files in the same buckets
    TextIndexStore.admit(spark, root, docs.filter("doc_id BETWEEN 100 AND 119"), "fp1")
    TextIndexStore.admit(spark, root, docs.filter("doc_id BETWEEN 120 AND 139"), "fp2")
    TextIndexStore.admit(spark, root, docs.filter("doc_id >= 140"), "fp3")
    val posts = VersionedTable(s"$root/postings")
    val filesBefore = posts.history(spark).count()
    // binpack one hot bucket; stats stay opted out, partitions preserved
    posts.compactWhere(spark, "bucket = 7")
    assert(filesBefore >= 0) // compaction committed; serving must not notice
    val full = tmpDir("txt-opt-full-") + "/s"
    TextIndexStore.build(spark, full, docs, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(lexRowsOf(root) === lexRowsOf(full))
    assert(postRowsOf(root) === postRowsOf(full))
    // ...and the next admit still composes (the compaction commit is
    // cdfKind none — nothing in the maintenance path disturbs repair/guard)
    writeDocs(dir, 170)
    assert(TextIndexStore.admit(spark, root,
      Tables.table(spark, dir, "documents").filter("doc_id >= 100"), "fp4") === 10L)
  }

  test("a torn BUILD (crash before the lexicon) refuses to serve and " +
      "re-runs cleanly; only a completed store refuses a rebuild") {
    val dir = tmpDir("txt-tb-")
    writeDocs(dir, 100)
    val docs = Tables.table(spark, dir, "documents")
    val root = tmpDir("txt-tb-store-") + "/s"
    TextIndexStore.failpoint = Some("buildAfterPostings")
    try intercept[IllegalStateException](
      TextIndexStore.build(spark, root, docs, "fp0"))
    finally TextIndexStore.failpoint = None
    // no completion stamp: admit refuses instead of serving a half-store
    intercept[IllegalArgumentException](
      TextIndexStore.admit(spark, root, docs.filter("doc_id < 0"), "fpX"))
    // the re-run overwrites the torn halves and completes
    TextIndexStore.build(spark, root, docs, "fp1")
    val full = tmpDir("txt-tb-full-") + "/s"
    TextIndexStore.build(spark, full, docs, "fpF")
    assert(TextIndexStore.stats(root) === TextIndexStore.stats(full))
    assert(postRowsOf(root) === postRowsOf(full))
    // completed: a second build refuses
    intercept[IllegalArgumentException](
      TextIndexStore.build(spark, root, docs, "fp2"))
  }

  test("the s15 gate store serves from disk in a second session — growth " +
      "never triggers a rebuild") {
    val dir = tmpDir("txt-gate-")
    val lake = tmpDir("txt-lake-")
    spark.conf.set("spark.graft.index.root", lake)
    try {
      writeDocs(dir, 120)
      val out1 = SimilarityQueries.s15Bm25Admit.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(x => (x._1, x._4))
      assert(out1.nonEmpty)
      val gateRoot = indexRootFor(dir) + "/text_admit"
      val posts = VersionedTable(s"$gateRoot/postings")
      val v = posts.resolve()
      // build(v0) + admit(v1): the held-out slice arrived by append
      assert(v >= 1L)
      // "second driver": fresh verification memo — must verify the stored
      // fingerprint and serve, committing nothing
      SimilarityQueries.resetIndexCache()
      val out2 = SimilarityQueries.s15Bm25Admit.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(x => (x._1, x._4))
      assert(posts.resolve() === v,
        "a second session over an unchanged corpus must serve, not rebuild")
      assert(out1.toSeq === out2.toSeq)
    } finally spark.conf.unset("spark.graft.index.root")
  }
}
