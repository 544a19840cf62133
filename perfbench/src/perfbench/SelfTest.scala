package perfbench

/** Shows that every output check of the benchmark rejects a corrupted
  * result and accepts the uncorrupted one. Runs without Spark, on results
  * built from the workloads' own generators and models.
  *
  *     python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var cases = 0

  private def expect(name: String, passes: Boolean, shouldPass: Boolean): Unit = {
    cases += 1
    val ok = passes == shouldPass
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name: check ${if (passes) "passed" else "rejected"}" +
      s" (expected ${if (shouldPass) "pass" else "reject"})")
  }

  def main(args: Array[String]): Unit = {
    scd2()
    lake()
    dedup()
    println(s"selftest: $cases cases, $failures failures")
    if (failures > 0) sys.exit(1)
  }

  private def scd2(): Unit = {
    val gen = new ContactGen(7, 500, 60, 0.3, 0.5, 100, 3)
    val model = new Scd2Model
    model.load(gen.initial(), 0)
    val planted = scala.collection.mutable.Map(0 -> 500)
    (1 to 4).foreach { k =>
      val (rows, n, c) = gen.batch()
      planted(k) = n + c
      model.apply(rows, k)
    }
    val head = model.head
    val stamped = planted.toMap
    def clean(rows: Seq[Scd2Row]): Boolean =
      Scd2Check.diff(head, rows).isEmpty && Scd2Check.properties(rows, stamped).isEmpty
    expect("scd2 head as modelled", clean(head), shouldPass = true)
    val expired = head.indexWhere(!_.current)
    val dropped = head.patch(expired, Nil, 1)
    expect("scd2 head missing one expired row", clean(dropped), shouldPass = false)
    expect("scd2 properties alone catch the dropped expired row",
      Scd2Check.properties(dropped, stamped).isEmpty, shouldPass = false)
    val r = head(expired)
    expect("scd2 expired row's valid_to moved one batch",
      clean(head.updated(expired, r.copy(validTo = r.validTo.map(_ + 1)))), shouldPass = false)
    expect("scd2 properties catch a second current row",
      Scd2Check.properties(head.updated(expired, r.copy(validTo = None, current = true)), stamped)
        .isEmpty, shouldPass = false)
    val cur = head.indexWhere(_.current)
    expect("scd2 wrong checksum",
      clean(head.updated(cur, head(cur).copy(checksum = Scd2Model.md5Hex("x")))), shouldPass = false)
    expect("scd2 duplicated current row",
      clean(head :+ head(cur)), shouldPass = false)
    expect("scd2 time travel to the right version",
      Scd2Check.diff(model.asOf(2), model.asOf(2)).isEmpty, shouldPass = true)
    expect("scd2 time travel off by one version",
      Scd2Check.diff(model.asOf(2), model.asOf(3)).isEmpty, shouldPass = false)
    expect("scd2 mismatch names the batch that wrote the row",
      Scd2Check.diff(head, dropped) == Set(r.validFrom) ++ r.validTo, shouldPass = true)
    val ids = Set(head(cur).id, head(expired).id)
    expect("scd2 lookup returns every version of its ids",
      Scd2Check.lookup(model.rowsOf(ids), model.rowsOf(ids)), shouldPass = true)
    expect("scd2 lookup missing a version",
      Scd2Check.lookup(model.rowsOf(ids), model.rowsOf(ids).drop(1)), shouldPass = false)
  }

  private def lake(): Unit = {
    val m = new LakeModel(4)
    val rnd = new java.util.Random(3)
    (0 to 5).foreach(v => m.commit((0 until 50).map(i =>
      Event(v * 1000L + i, rnd.nextInt(4), 1 + rnd.nextInt(100), v))))
    expect("lake aggregate at the requested version", LakeCheck.read(m.agg(3, 1), m.agg(3, 1)),
      shouldPass = true)
    expect("lake aggregate off by one version", LakeCheck.read(m.agg(3, 1), m.agg(4, 1)),
      shouldPass = false)
    val a = m.agg(3, 1)
    expect("lake aggregate missing one row's amount",
      LakeCheck.read(a, a.copy(sum = a.sum - 1)), shouldPass = false)
    val e = m.row(2005)
    expect("lake lookup returns its key's row", LakeCheck.lookup(e, Seq(e)), shouldPass = true)
    expect("lake lookup on a wrongly pruned file returns nothing", LakeCheck.lookup(e, Nil),
      shouldPass = false)
    expect("lake lookup returns a stale version of the row",
      LakeCheck.lookup(e, Seq(e.copy(amount = e.amount + 1))), shouldPass = false)
  }

  private def dedup(): Unit = {
    val gen = new DocGen(11, 8)
    gen.corpus(50)
    val batch = gen.batch(40, 0.2, 0.2, 0.2)
    val truth = batch.map(DedupCheck.expectedSig)
    expect("dedup signature verdicts as planted", DedupCheck.sig(batch, truth).isEmpty,
      shouldPass = true)
    val i = truth.indexWhere(_.verdict == "exact_dup")
    expect("dedup one flipped signature verdict",
      DedupCheck.sig(batch, truth.updated(i, truth(i).copy(verdict = "admitted", dupOf = None))).isEmpty,
      shouldPass = false)
    val j = truth.indexWhere(_.verdict == "near_dup")
    expect("dedup near duplicate naming the wrong original",
      DedupCheck.sig(batch, truth.updated(j, truth(j).copy(dupOf = truth(j).dupOf.map(_ + 1)))).isEmpty,
      shouldPass = false)
    expect("dedup a missing verdict", DedupCheck.sig(batch, truth.tail).isEmpty, shouldPass = false)

    val submitted = batch.filter(d => DedupCheck.expectedSig(d).verdict == "admitted")
    val vecTruth = submitted.map(d =>
      if (d.kind == "emb") Verdict(d.id, "near_dup", Some(d.of)) else Verdict(d.id, "admitted", None))
    val stored = gen.vecStored.get _
    expect("dedup vector verdicts as planted",
      DedupCheck.vec(submitted, stored, vecTruth, 0.45).isEmpty, shouldPass = true)
    val k = vecTruth.indexWhere(_.verdict == "near_dup")
    expect("dedup a missed embedding duplicate",
      DedupCheck.vec(submitted, stored, vecTruth.updated(k, vecTruth(k).copy(verdict = "admitted", dupOf = None)),
        0.45).isEmpty, shouldPass = false)
    val far = gen.vecStored.values.find(s =>
      DedupCheck.cosine(submitted.find(_.id == vecTruth(k).id).get.emb, s.emb) < 0.45).get
    expect("dedup vector dup_of below the cosine threshold",
      DedupCheck.vec(submitted, stored, vecTruth.updated(k, vecTruth(k).copy(dupOf = Some(far.id))),
        0.45).isEmpty, shouldPass = false)
    expect("dedup vector dup_of not in the store",
      DedupCheck.vec(submitted, stored, vecTruth.updated(k, vecTruth(k).copy(dupOf = Some(-5L))),
        0.45).isEmpty, shouldPass = false)
    expect("dedup store counts as modelled", DedupCheck.counts(60, 55, (60, 480, 55)),
      shouldPass = true)
    expect("dedup store counts off by one", DedupCheck.counts(60, 55, (61, 488, 55)),
      shouldPass = false)
    expect("dedup band rows off by one", DedupCheck.counts(60, 55, (60, 479, 55)),
      shouldPass = false)
  }
}
