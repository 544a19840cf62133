package graft.dedup

import graft.table.{Merge, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-resident BM25 inverted-index store with INCREMENTAL maintenance —
  * the lexical sibling of [[VectorStore]] (SURVEY.md §2.12): the corpus is
  * tokenized ONCE into hash-bucketed postings, and every later document
  * batch APPENDS its postings to the buckets it touches while the lexicon's
  * document frequencies MERGE in place — the corpus text is never
  * re-tokenized and the index never rebuilds wholesale on growth.
  *
  * Store layout (each a [[VersionedTable]], PARTITIONED BY `bucket` =
  * `pmod(xxhash64(word), Buckets)`):
  *  - `<root>/postings`: (doc_id, word, tf, len, bucket) — a keyword probe
  *    reads only its terms' bucket partitions (manifest partition pruning);
  *  - `<root>/lexicon`:  (word, df, bucket) — per-term document frequency.
  * Corpus-level stats ride in the postings table's properties: `nd` (doc
  * count) and `totalLen` (summed token count, a BIGINT so the running sum
  * is exact) — `avglen = totalLen / nd` is derived at serve time.
  *
  * Maintenance contract — EXACT, unlike [[VectorStore]]'s fixed-centroid
  * drift: BM25's corpus statistics are all additive (tf/len are per-doc,
  * df and nd and totalLen are sums), so a store grown by [[admit]] — or
  * shrunk by [[evict]] — is bit-identical in serving behavior to one
  * rebuilt from the surviving corpus: there is no recall decay to bound
  * and no retrain verb to schedule. The bucket count is the one fixed
  * layout choice (a probe's I/O unit); it is query-side invisible and can
  * only change via rebuild.
  *
  * Torn-admit protection: [[admit]] spans three independent commits
  * (postings append, lexicon merge, stats properties). A crash between
  * them would leave postings counted in neither df nor nd/totalLen while
  * the recorded fingerprint still validated — silently-corrupt serving. So
  * admit records an in-progress marker (the pre-admit postings/lexicon
  * versions plus the batch's stat deltas) in ONE atomic property commit
  * BEFORE the append, and clears it only in the final stats commit; the
  * next [[admit]]/[[evict]] (or an explicit [[repair]]) rolls a torn admit
  * FORWARD — every remaining step is deterministic from the appended
  * postings slice, which is the batch's full record.
  *
  * Exactly-once streaming admission: pass `txn = (appId, batchId)` and a
  * replayed micro-batch whose append already committed is recognized via
  * the table's idempotent-writer marks and skipped (after repair completes
  * any torn tail) — the same protocol the table streaming sink uses.
  *
  * Double-admission guard (defense in depth): admit anti-joins the batch's
  * doc_ids against the TOUCHED buckets' postings (partition-pruned — a
  * replayed document's words hash to the same buckets its stored postings
  * live in) and silently drops already-indexed documents, so a replayed or
  * overlapping batch is a no-op for the overlap instead of double-counting
  * df/nd/totalLen. The returned count says how many documents actually
  * admitted.
  *
  * Scale per batch: one tokenize pass over the BATCH, one bucket-pruned
  * doc_id overlap probe, one map-side-combined tf/df aggregation, one
  * partitioned append, one bucket-pruned lexicon merge — nothing touches
  * the stored corpus outside the batch's buckets. */
object TextIndexStore {

  /** Term-hash partition count — the probe I/O granularity. */
  val Buckets = 64

  /** Store format stamp: "2" = incremental (nd/totalLen properties). */
  val Format = "2"

  private def postingsTable(root: String) = VersionedTable(s"$root/postings")
  private def lexiconTable(root: String) = VersionedTable(s"$root/lexicon")

  private def bucketCol = expr(s"pmod(xxhash64(word), $Buckets)")

  /** The torn-admit marker's property keys (cleared atomically with the
    * final stats commit — marker present ⟺ an admit's tail is missing). */
  private val PendingKeys = Seq("admitPending", "admitPendingFingerprint",
    "admitPendingPostingsBase", "admitPendingLexiconBase",
    "admitPendingNd", "admitPendingLen")

  private def clearedPending = PendingKeys.map(_ -> "").toMap

  /** The torn-EVICT marker's property keys — the symmetric protection on
    * the erasure verb (an evict also spans three commits; a crash after the
    * postings delete would otherwise leave lexicon df and nd/totalLen
    * permanently overcounted, and a naive retry would find the postings
    * already gone and never decrement). */
  private val EvictPendingKeys = Seq("evictPending", "evictPendingFingerprint",
    "evictPendingPostingsBase", "evictPendingLexiconBase",
    "evictPendingNd", "evictPendingLen")

  private def clearedEvictPending = EvictPendingKeys.map(_ -> "").toMap

  /** Test-only fault injection: [[admit]]/[[build]] throw at the named
    * point — simulating the mid-operation crashes the pending marker and
    * the build completion stamp exist for. Points: "afterAppend" (postings
    * landed, lexicon did not), "afterLexicon" (lexicon merged, stats
    * commit missing), "buildAfterPostings" (a build torn before its
    * lexicon — no completion stamp), "afterPostingsDelete" (an evict's
    * postings delete landed, lexicon still overcounted),
    * "afterLexiconEvict" (lexicon decremented, stats commit missing). */
  @volatile private[graft] var failpoint: Option[String] = None
  private def trip(p: String): Unit =
    if (failpoint.contains(p))
      throw new IllegalStateException(s"injected failure at $p")

  /** Tokenize (doc_id, text) on single spaces — the corpus' own shape. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")

  /** (nd, totalLen) recorded at `root`. */
  def stats(root: String): (Long, Long) = {
    val p = postingsTable(root).properties
    (p("nd").toLong, p("totalLen").toLong)
  }

  /** Exact serving average document length, derived (not stored — a stored
    * double would drift from the exact integer accumulators). */
  def avgLen(root: String): Double = {
    val (nd, totalLen) = stats(root)
    totalLen.toDouble / nd
  }

  /** The bucket-pruned lexicon df merge shared by [[admit]] and [[repair]]:
    * the condition's bucket equi-conjunct is the prune key, so only the
    * batch's own term buckets are read or rewritten. */
  private def lexiconAdd(spark: SparkSession, root: String, dfBatch: DataFrame): Unit = {
    lexiconTable(root).mergeCow(spark, dfBatch,
      "source.bucket = target.bucket AND source.word = target.word",
      targetKey = "bucket", sourceKey = "bucket",
      whenMatchedUpdate = Some(Merge.MatchedUpdate(None,
        Map("df" -> "target.df + source.df"))),
      whenNotMatchedInsert = Some(Merge.NotMatchedInsert(None,
        Map("word" -> "source.word", "df" -> "source.df",
          "bucket" -> "source.bucket"))))
    ()
  }

  /** Roll a torn [[admit]] FORWARD (returns whether there was one). Every
    * post-append step is deterministic from the appended postings slice —
    * df per word is its per-word row count (one row per (doc_id, word)),
    * the stat deltas were recorded in the marker — so the store returns to
    * serving-exact without re-seeing the batch:
    *  - marker set, nothing appended → clear the marker (the admit never
    *    started writing data);
    *  - postings appended, lexicon unmoved → replay the lexicon merge from
    *    the slice, then the stats commit;
    *  - lexicon merged, stats missing → the stats commit alone (the marker
    *    clears atomically WITH the stats, so a present marker proves the
    *    stats never landed). */
  def repair(spark: SparkSession, root: String): Boolean = {
    val a = repairAdmit(spark, root)
    val e = repairEvict(spark, root)
    a || e
  }

  private def repairAdmit(spark: SparkSession, root: String): Boolean = {
    val postT = postingsTable(root)
    val props = postT.properties
    if (!props.get("admitPending").contains("1")) return false
    val postBase = props("admitPendingPostingsBase").toLong
    val lexBase = props("admitPendingLexiconBase").toLong
    if (postT.latestVersion().contains(postBase)) {
      postT.setProperties(clearedPending)
      return true
    }
    if (lexiconTable(root).latestVersion().contains(lexBase)) {
      val slice = postT.appendsSince(spark, postBase)
      lexiconAdd(spark, root, slice.groupBy("word", "bucket")
        .agg(expr("CAST(count(*) AS BIGINT)").as("df"))
        .select("word", "df", "bucket"))
    }
    val (nd, totalLen) = stats(root)
    postT.setProperties(Map(
      "corpusFingerprint" -> props("admitPendingFingerprint"),
      "nd" -> (nd + props("admitPendingNd").toLong).toString,
      "totalLen" -> (totalLen + props("admitPendingLen").toLong).toString)
      ++ clearedPending)
    true
  }

  /** Roll a torn [[evict]] FORWARD. The deleted docs' postings — the only
    * record of their term df contributions — are no longer in the live
    * table, but they ARE in the marker-pinned pre-delete version: the
    * victims' rows are exactly `read(asOf = postBase)` anti-joined against
    * the live doc_ids (the COW delete commit is atomic, so a bumped
    * postings version means every victim's rows left together). From that
    * slice the lexicon decrement and the stats commit replay
    * deterministically:
    *  - marker set, postings unmoved → clear the marker (the evict never
    *    started writing data; the caller re-runs it);
    *  - postings deleted, lexicon unmoved → replay the df decrement from
    *    the time-travel diff, then the stats commit;
    *  - lexicon decremented, stats missing → the stats commit alone. */
  private def repairEvict(spark: SparkSession, root: String): Boolean = {
    val postT = postingsTable(root)
    val props = postT.properties
    if (!props.get("evictPending").contains("1")) return false
    val postBase = props("evictPendingPostingsBase").toLong
    val lexBase = props("evictPendingLexiconBase").toLong
    if (postT.latestVersion().contains(postBase)) {
      postT.setProperties(clearedEvictPending)
      return true
    }
    if (lexiconTable(root).latestVersion().contains(lexBase)) {
      val victims = postT.read(spark, versionAsOf = Some(postBase))
        .join(postT.read(spark).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      lexiconTable(root).mergeCow(spark,
        victims.groupBy("word", "bucket")
          .agg(expr("CAST(count(*) AS BIGINT)").as("df"))
          .select("word", "df", "bucket"),
        "source.bucket = target.bucket AND source.word = target.word",
        targetKey = "bucket", sourceKey = "bucket",
        whenMatchedUpdate = Some(Merge.MatchedUpdate(Some("target.df > source.df"),
          Map("df" -> "target.df - source.df"))),
        whenMatchedDelete = Some(Merge.MatchedDelete(Some("target.df <= source.df"))))
    }
    val (nd, totalLen) = stats(root)
    postT.setProperties(Map(
      "corpusFingerprint" -> props("evictPendingFingerprint"),
      "nd" -> (nd - props("evictPendingNd").toLong).toString,
      "totalLen" -> (totalLen - props("evictPendingLen").toLong).toString)
      ++ clearedEvictPending)
    true
  }

  /** Bootstrap: tokenize the corpus once, lay out postings + lexicon by
    * term bucket, record the corpus stats and fingerprint. The final
    * property commit (carrying `indexFormat`) is the COMPLETION STAMP: a
    * build that crashed between its commits left no stamp, refuses to
    * serve or admit (both require the format), and is simply re-run — the
    * snapshot commits overwrite the torn halves. Only a COMPLETED store
    * refuses a rebuild. */
  def build(spark: SparkSession, root: String, docs: DataFrame,
      fingerprint: String): Unit = {
    val postT = postingsTable(root)
    require(postT.properties.get("indexFormat").isEmpty,
      s"$root already holds a completed text index store")
    val tok = tokenized(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val doclen = tok.groupBy("doc_id")
        .agg(expr("CAST(count(*) AS BIGINT)").as("len"))
      val s = doclen.agg(expr("CAST(count(*) AS BIGINT)").as("nd"),
        expr("CAST(coalesce(sum(len), 0) AS BIGINT)").as("tl")).head()
      val (nd, totalLen) = (s.getLong(0), s.getLong(1))
      require(nd > 0, s"cannot build a text index at $root from an empty corpus")
      val tf = tok.groupBy("doc_id", "word")
        .agg(expr("CAST(count(*) AS BIGINT)").as("tf"))
      // co-locate per bucket before the partitioned commit; stats ON — the
      // lexicon merge's file pruning keys on the bucket column's min/max
      postT.commit(
        tf.join(doclen, "doc_id").withColumn("bucket", bucketCol)
          .repartition(col("bucket")),
        partitionBy = Seq("bucket"), collectStats = false)
      trip("buildAfterPostings")
      lexiconTable(root).commit(
        tok.groupBy("word")
          .agg(expr("CAST(count(DISTINCT doc_id) AS BIGINT)").as("df"))
          .withColumn("bucket", bucketCol)
          .repartition(col("bucket")),
        partitionBy = Seq("bucket"), collectStats = true)
      postT.setProperties(Map(
        "corpusFingerprint" -> fingerprint,
        "nd" -> nd.toString,
        "totalLen" -> totalLen.toString,
        "indexFormat" -> Format))
    } finally { tok.unpersist(); () }
  }

  /** Admit a batch of documents: already-indexed doc_ids are dropped (see
    * the double-admission guard above), then the survivors' postings
    * append to their buckets, the lexicon's df counters merge in place,
    * the corpus stats advance, and the recorded fingerprint moves to
    * `fingerprint` — the store stays serving-exact for (build corpus ∪
    * every admitted batch) with no rebuild. `txn` makes the admission
    * exactly-once under streaming replay. Returns the number of documents
    * actually admitted (0 for a full replay — a loud no-op). */
  def admit(spark: SparkSession, root: String, batch: DataFrame,
      fingerprint: String, txn: Option[(String, Long)] = None): Long =
    admitImpl(spark, root, batch, fingerprint, txn, assumeFresh = false)

  /** [[admit]], with `assumeFresh = true` available to [[syncFromTable]]:
    * the sync's evict has just removed every changed doc_id from the store,
    * so the double-admission guard's bucket-pruned overlap probe is provably
    * empty — skipping it saves the probe read and two joins per sync while
    * producing the identical `fresh` frame. Every other caller keeps the
    * guard (their batches carry no such proof). */
  private def admitImpl(spark: SparkSession, root: String, batch: DataFrame,
      fingerprint: String, txn: Option[(String, Long)],
      assumeFresh: Boolean): Long = {
    val postT = postingsTable(root)
    require(postT.latestVersion().isDefined,
      s"$root holds no text index store — build(corpus) first")
    require(postT.properties.get("indexFormat").contains(Format),
      s"$root was built by an incompatible text-index format — rebuild")
    // a torn prior admit completes before anything new lands (and before
    // the replay check below — a torn replayed batch has its append mark)
    repair(spark, root)
    if (txn.exists { case (app, v) => postT.lastTxn(app).exists(_ >= v) })
      return 0L // replayed micro-batch: its admission is already durable
    val tok = tokenized(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // double-admission guard: a stored document's postings live in the
      // buckets its words hash to — the same buckets a replay's words
      // touch, so the partition-pruned probe is complete for replays (the
      // caller contract still asks for NEW doc_ids; this catches the
      // violation instead of silently corrupting df/nd/totalLen).
      // `assumeFresh` callers proved the overlap empty (sync's evict just
      // removed these ids) — the guard would compute `fresh ≡ tok`.
      // (tok is already persisted, so the assumeFresh arm re-uses it as-is)
      val fresh = if (assumeFresh) tok else {
        val touched = tok.select(bucketCol.as("bucket")).distinct()
        val (bucketPostings, _, _) =
          postT.readPrunedByJoinKeys(spark, touched, "bucket", "bucket")
        val existing = bucketPostings.select("doc_id")
          .join(tok.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
          .distinct()
        tok.join(existing, Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {
        val doclen = fresh.groupBy("doc_id")
          .agg(expr("CAST(count(*) AS BIGINT)").as("len"))
        val s = doclen.agg(expr("CAST(count(*) AS BIGINT)").as("nd"),
          expr("CAST(coalesce(sum(len), 0) AS BIGINT)").as("tl")).head()
        val (bd, blen) = (s.getLong(0), s.getLong(1))
        if (bd == 0) return 0L
        val tf = fresh.groupBy("doc_id", "word")
          .agg(expr("CAST(count(*) AS BIGINT)").as("tf"))
        // the torn-admit marker: one atomic property commit BEFORE the
        // append records everything repair needs to roll forward
        postT.setProperties(Map(
          "admitPending" -> "1",
          "admitPendingFingerprint" -> fingerprint,
          "admitPendingPostingsBase" -> postT.latestVersion().get.toString,
          "admitPendingLexiconBase" -> lexiconTable(root).latestVersion().get.toString,
          "admitPendingNd" -> bd.toString,
          "admitPendingLen" -> blen.toString))
        postT.append(
          tf.join(doclen, "doc_id").withColumn("bucket", bucketCol)
            .repartition(col("bucket")),
          collectStats = false, txn = txn)
        trip("afterAppend")
        lexiconAdd(spark, root,
          fresh.groupBy("word")
            .agg(expr("CAST(count(DISTINCT doc_id) AS BIGINT)").as("df"))
            .withColumn("bucket", bucketCol))
        trip("afterLexicon")
        val (nd, totalLen) = stats(root)
        // stats advance and the marker clears in ONE property commit — the
        // admit is atomic-or-repairable end to end
        postT.setProperties(Map(
          "corpusFingerprint" -> fingerprint,
          "nd" -> (nd + bd).toString,
          "totalLen" -> (totalLen + blen).toString) ++ clearedPending)
        bd
      } finally { fresh.unpersist(); () }
    } finally { tok.unpersist(); () }
  }

  /** Derived-index maintenance from the BASE TABLE's own change feed — the
    * index FOLLOWS the table, with no caller tracking membership: every
    * version in (syncedVersion, head] contributes its changed doc_ids, the
    * store evicts their stale postings and admits their CURRENT rows back
    * from the table. Inserts evict nothing, deletes admit nothing, updates
    * (delete+insert pairs in the feed) replace — one uniform rule, exact by
    * the same additivity that makes admit/evict exact. The synced cursor
    * rides in the postings properties; a crash before the cursor advance
    * re-syncs the same range, which CONVERGES (evict removes exactly what
    * the interrupted pass admitted, the re-admit restores it), so sync is
    * resumable and a replayed call past the cursor is a loud no-op.
    *
    * Scale per sync: the change feed is change-sized (append versions read
    * only their fresh files); the evict and admit are the store's own
    * bucket-pruned verbs over the CHANGED ids only — a 100 TB table whose
    * day touched 0.1 % syncs 0.1 %. Returns (admitted, evicted).
    *
    * `txn` stamps the admit's postings append with a streaming caller's
    * `(checkpoint, batchId)` identity
    * ([[graft.streaming.StreamingEtl.textIndexSyncStream]]) — lineage for
    * the commit record; exactly-once itself rides the CURSOR (a replayed
    * call past it no-ops, an interrupted sync converges), which also covers
    * the evict and property commits the txn mark cannot reach. */
  def syncFromTable(spark: SparkSession, root: String,
      table: graft.table.VersionedTable, fingerprint: String,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    val postT = postingsTable(root)
    require(postT.properties.get("indexFormat").contains(Format),
      s"$root was built by an incompatible text-index format — rebuild")
    repair(spark, root)
    // a replayed txn-stamped sync whose admission is already durable is a
    // full no-op, decided BEFORE the evict: the evict would remove the
    // changed docs and admitImpl's txn guard would then decline to
    // re-admit them. The cursor stays put (the head may have moved since
    // the first run); the next sync re-covers the range exactly.
    if (txn.exists { case (app, v) => postT.lastTxn(app).exists(_ >= v) })
      return (0L, 0L)
    val head = table.resolve()
    val from = postT.properties.get("syncedVersion").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$root carries no syncedVersion cursor — markSynced(buildVersion) " +
          "after building the store from a table snapshot"))
    if (head <= from) return (0L, 0L)
    val changed = table.changeFeed(spark, from, head)
      .select("doc_id").distinct().localCheckpoint(true)
    // churn evict KEEPS the COW flavor: the MOR (physical=false) variant
    // was A/B'd at sf0.1 and lost decisively (serve 18.2 → 25.0 s; q131's
    // twin 11.3 → 19.9 s) — at gate scale the bucket files are small, so
    // the rewrite MOR avoids is cheap while every sync commit pays the DV
    // write job + read-back and every subsequent store read pays the
    // anti-join. The flavor exists for deployments whose bucket files are
    // GBs, where the rewrite dominates (PLANS.md round-15 close).
    val evicted = evict(spark, root, changed, fingerprint)
    val current = table.read(spark)
      .join(changed, Seq("doc_id")).select("doc_id", "text")
    // assumeFresh: the evict above removed every changed id, so the admit's
    // double-admission probe is provably empty — skip it (identical rows)
    val admitted = admitImpl(spark, root, current, fingerprint, txn = txn,
      assumeFresh = true)
    postT.setProperties(Map("syncedVersion" -> head.toString))
    (admitted, evicted)
  }

  /** Record the table version a just-built store reflects — the cursor
    * [[syncFromTable]] advances from. */
  def markSynced(root: String, version: Long): Unit =
    postingsTable(root).setProperties(Map("syncedVersion" -> version.toString))

  /** Erase documents from the index — the right-to-be-forgotten verb
    * (SURVEY §2.12): after evict, no surviving postings row carries a
    * forgotten doc_id (their bag-of-words is otherwise RECONSTRUCTABLE
    * content), term df counters decrement exactly (a term whose last
    * document leaves exits the lexicon entirely), and nd/totalLen shrink —
    * the store serves as if rebuilt on corpus-minus-docs, by the same
    * additivity that makes [[admit]] exact. Old versions still reference
    * the rows until the store tables are vacuumed past the evict commits —
    * compliance-grade erasure is evict + vacuum, exactly as for the base
    * table.
    *
    * Cost: the docs' own postings are the only record of their terms, so
    * one slim postings scan filtered to the ids recovers (word, len,
    * bucket); the deletes themselves are bucket-pruned merges touching
    * only the docs' term buckets — COW rewrites under the PHYSICAL default
    * (erasure-grade), MOR deletion vectors under `physical = false`. The
    * MOR flavor is for deployments whose bucket files are large enough
    * that the rewrite dominates; at gate scale it MEASURES SLOWER (sf0.1
    * A/B: sync serve 18.2 → 25.0 s) because small-file rewrites are cheap
    * while every commit pays the DV write job and every later read the
    * anti-join — so the engine's own sync keeps COW (PLANS.md round-15
    * close). Batch forget requests amortize the scan. Returns the number
    * of documents actually erased.
    *
    * Torn-evict protection, symmetric with admit's: the three commits
    * (postings delete, lexicon decrement, stats) are guarded by an
    * `evictPending` marker written atomically BEFORE the delete and
    * cleared atomically WITH the stats commit; [[repair]] rolls a torn
    * evict forward from the marker-pinned pre-delete postings version
    * (the victims' rows remain time-travel-readable there), so a crash at
    * any point leaves the store repairable-exact rather than silently
    * overcounting df/nd/totalLen. */
  def evict(spark: SparkSession, root: String, docIds: DataFrame,
      fingerprint: String, physical: Boolean = true): Long = {
    val postT = postingsTable(root)
    require(postT.latestVersion().isDefined,
      s"$root holds no text index store — build(corpus) first")
    require(postT.properties.get("indexFormat").contains(Format),
      s"$root was built by an incompatible text-index format — rebuild")
    repair(spark, root)
    // pin the docs' postings BEFORE the delete below rewrites the store
    val mine = postT.read(spark)
      .join(docIds.select("doc_id").distinct(), "doc_id")
      .select("doc_id", "word", "len", "bucket")
      .localCheckpoint(true)
    val s = mine.select("doc_id", "len").distinct()
      .agg(expr("CAST(count(*) AS BIGINT)").as("ed"),
        expr("CAST(coalesce(sum(len), 0) AS BIGINT)").as("el")).head()
    val (ed, elen) = (s.getLong(0), s.getLong(1))
    if (ed == 0) return 0L
    // the torn-evict marker: one atomic property commit BEFORE the delete
    // records the victim stats and the pre-delete versions — everything
    // repair needs to roll forward from the time-travel-pinned victim rows
    postT.setProperties(Map(
      "evictPending" -> "1",
      "evictPendingFingerprint" -> fingerprint,
      "evictPendingPostingsBase" -> postT.latestVersion().get.toString,
      "evictPendingLexiconBase" -> lexiconTable(root).latestVersion().get.toString,
      "evictPendingNd" -> ed.toString,
      "evictPendingLen" -> elen.toString))
    // postings: bucket-pruned delete of the docs' rows. PHYSICAL (the RTBF
    // default) = COW rewrite — the victims' bytes leave the live files, so
    // evict + vacuum is compliance-grade erasure. physical=false = MOR
    // deletion vectors — tombstone sidecars instead of rewriting every
    // untouched row of the touched buckets (the large-bucket-file trade;
    // see the scaladoc's measured A/B); time-travel and the repair
    // roll-forward read identically across both (one atomic commit either
    // way), and compact()/compactWhere() is the DV escape hatch when
    // tombstones accumulate.
    val postDelete = mine.select("doc_id", "bucket").distinct()
    val postOn = "source.bucket = target.bucket AND source.doc_id = target.doc_id"
    if (physical)
      postT.mergeCow(spark, postDelete, postOn,
        targetKey = "bucket", sourceKey = "bucket",
        whenMatchedDelete = Some(Merge.MatchedDelete(None)))
    else
      postT.mergeMor(spark, postDelete, postOn,
        targetKey = "bucket", sourceKey = "bucket",
        whenMatchedDelete = Some(Merge.MatchedDelete(None)))
    trip("afterPostingsDelete")
    // lexicon: df decrements within the docs' term buckets; a term whose
    // df reaches zero leaves the lexicon (serving-exact: BM25's idf of an
    // absent term is exactly a zero-df term's). df counters are corpus
    // vocabulary statistics, not per-document content, so the verb flavor
    // follows the caller's for cost alone.
    val lexDelta = mine.groupBy("word", "bucket")
      .agg(expr("CAST(count(*) AS BIGINT)").as("df"))
      .select("word", "df", "bucket")
    val lexOn = "source.bucket = target.bucket AND source.word = target.word"
    val lexUpd = Some(Merge.MatchedUpdate(Some("target.df > source.df"),
      Map("df" -> "target.df - source.df")))
    val lexDel = Some(Merge.MatchedDelete(Some("target.df <= source.df")))
    if (physical)
      lexiconTable(root).mergeCow(spark, lexDelta, lexOn,
        targetKey = "bucket", sourceKey = "bucket",
        whenMatchedUpdate = lexUpd, whenMatchedDelete = lexDel)
    else
      lexiconTable(root).mergeMor(spark, lexDelta, lexOn,
        targetKey = "bucket", sourceKey = "bucket",
        whenMatchedUpdate = lexUpd, whenMatchedDelete = lexDel)
    trip("afterLexiconEvict")
    // stats shrink and the marker clears in ONE property commit — the
    // evict is atomic-or-repairable end to end, like admit
    val (nd0, tl0) = stats(root)
    postT.setProperties(Map(
      "corpusFingerprint" -> fingerprint,
      "nd" -> (nd0 - ed).toString,
      "totalLen" -> (tl0 - elen).toString) ++ clearedEvictPending)
    ed
  }
}
