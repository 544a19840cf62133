package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

/** One contact as it lands in a CSV extract. */
final case class Contact(id: Long, name: String, email: String, state: String) {
  def csv: String = s"$id,$name,$email,$state"
}

/** One row of the SCD2 contact table. Timestamps are batch numbers: batch
  * `k` stamps `Scd2Model.ts(k)`; batch 0 is the initial load. */
final case class Scd2Row(id: Long, name: String, email: String, state: String,
    validFrom: Int, validTo: Option[Int], current: Boolean, checksum: String)

/** Seeded generator of the contact extract and its daily CDC batches: a
  * mix of new ids, changed resends and unchanged resends. Existing ids are
  * drawn mostly from the `recent` newest ids, plus a few uniform ones. */
final class ContactGen(seed: Long, val initialRows: Int, val batchRows: Int,
    newShare: Double, changedShare: Double, recent: Int, uniformPerBatch: Int) {
  private val rnd = new java.util.Random(seed)
  private val cur = mutable.LongMap.empty[Contact]
  private var maxId = 0L
  private val states = Vector("AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA",
    "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY")
  private val syll = Vector("ka", "lo", "mi", "re", "su", "ta", "vin", "do", "bel", "ra",
    "no", "chi", "en", "mar", "is", "ol", "ter", "an", "zu", "pe")
  private val domains = Vector("example.com", "mail.test", "corp.test", "web.test")

  private def word(n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb ++= syll(rnd.nextInt(syll.size)))
    sb.toString
  }
  private def fresh(id: Long): Contact = {
    val first = word(2)
    val last = word(2 + rnd.nextInt(2))
    Contact(id, s"${first.capitalize} ${last.capitalize}",
      s"$first.$last${rnd.nextInt(100)}@${domains(rnd.nextInt(domains.size))}",
      states(rnd.nextInt(states.size)))
  }
  private def changed(c: Contact): Contact = {
    var s = states(rnd.nextInt(states.size))
    while (s == c.state) s = states(rnd.nextInt(states.size))
    val email = if (rnd.nextInt(3) == 0) s"${word(3)}${rnd.nextInt(100)}@${domains(rnd.nextInt(domains.size))}"
                else c.email
    c.copy(state = s, email = email)
  }

  /** The initial extract, ids 1..initialRows in shuffled order. */
  def initial(): Seq[Contact] = {
    val ids = (1L to initialRows.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    maxId = initialRows.toLong
    ids.toSeq.map { id => val c = fresh(id); cur(id) = c; c }
  }

  /** The next CDC batch: (rows, #new, #changed). */
  def batch(): (Seq[Contact], Int, Int) = {
    val nNew = math.round(batchRows * newShare).toInt
    val nChanged = math.round(batchRows * changedShare).toInt
    val nOld = batchRows - nNew
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < uniformPerBatch) picked += 1L + (rnd.nextDouble() * maxId).toLong
    val lo = math.max(1L, maxId - recent + 1)
    while (picked.size < nOld) picked += lo + (rnd.nextDouble() * (maxId - lo + 1)).toLong
    val order = rnd.ints(0, Int.MaxValue).limit(picked.size.toLong).toArray
    val olds = picked.toSeq.zip(order).sortBy(_._2).map(_._1)
    val (chg, same) = olds.splitAt(nChanged)
    val out = mutable.ArrayBuffer.empty[Contact]
    chg.foreach { id => val c = changed(cur(id)); cur(id) = c; out += c }
    same.foreach(id => out += cur(id))
    (1 to nNew).foreach { _ => maxId += 1; val c = fresh(maxId); cur(maxId) = c; out += c }
    val shuffled = out.toArray
    var i = shuffled.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t; i -= 1 }
    (shuffled.toSeq, nNew, nChanged)
  }
}

/** Independent SCD2 model: the expected table, maintained in memory from
  * the generated extracts alone. */
final class Scd2Model {
  private val rows = mutable.ArrayBuffer.empty[Scd2Row]
  private val current = mutable.LongMap.empty[Int]

  def load(cs: Seq[Contact], k: Int): Unit = cs.foreach(c => insert(c, k))

  private def insert(c: Contact, k: Int): Unit = {
    current(c.id) = rows.size
    rows += Scd2Row(c.id, c.name, c.email, c.state, k, None, current = true,
      Scd2Model.checksum(c))
    ()
  }

  /** Apply batch `k` with the reference job's semantics: new ids insert,
    * changed ids expire their current row and insert the new version,
    * unchanged resends do nothing. */
  def apply(cs: Seq[Contact], k: Int): Unit =
    cs.foreach { c =>
      current.get(c.id) match {
        case None => insert(c, k)
        case Some(i) if rows(i).checksum != Scd2Model.checksum(c) =>
          rows(i) = rows(i).copy(validTo = Some(k), current = false)
          insert(c, k)
        case _ => ()
      }
    }

  def head: Seq[Scd2Row] = rows.toSeq

  /** The table as of batch `k` (version `k`). */
  def asOf(k: Int): Seq[Scd2Row] = rows.iterator.filter(_.validFrom <= k).map { r =>
    if (r.validTo.exists(_ <= k)) r else r.copy(validTo = None, current = true)
  }.toSeq

  def rowsOf(ids: Set[Long]): Seq[Scd2Row] = rows.filter(r => ids.contains(r.id)).toSeq
}

object Scd2Model {
  val BaseTs: java.time.LocalDateTime = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  def ts(k: Int): java.time.LocalDateTime = BaseTs.plusHours(k.toLong)
  def tsSql(k: Int): String = s"TIMESTAMP '${ts(k).toString.replace('T', ' ')}:00'"
  /** Inverse of [[ts]]; a timestamp off the hourly grid maps to -1. */
  def batchOf(t: java.time.LocalDateTime): Int = {
    val h = java.time.Duration.between(BaseTs, t)
    if (h.isNegative || h.toNanos % 3600000000000L != 0) -1 else h.toHours.toInt
  }

  def checksum(c: Contact): String = md5Hex(c.name + c.email + c.state)

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

/** Output checks of the SCD2 workload. Each returns the batches (by number)
  * whose output is wrong; an empty set means the check passed. */
object Scd2Check {
  private def batchesOf(r: Scd2Row): Set[Int] = Set(r.validFrom) ++ r.validTo

  /** Multiset difference between the expected and the actual rows. */
  def diff(expected: Seq[Scd2Row], actual: Seq[Scd2Row]): Set[Int] = {
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    val a = actual.groupBy(identity).view.mapValues(_.size).toMap
    (e.keySet ++ a.keySet).filter(r => e.getOrElse(r, 0) != a.getOrElse(r, 0))
      .flatMap(batchesOf)
  }

  /** SCD2 invariants on the actual rows: one current row per id; each
    * expired row's valid_to is its successor's valid_from, and only the
    * last version is current; batch k stamped exactly new_k + changed_k rows
    * (`stamped`). */
  def properties(actual: Seq[Scd2Row], stamped: Map[Int, Int]): Set[Int] = {
    val bad = mutable.Set.empty[Int]
    actual.groupBy(_.id).foreach { case (_, vs) =>
      val s = vs.sortBy(_.validFrom)
      if (s.count(_.current) != 1) s.foreach(bad ++= batchesOf(_))
      s.sliding(2).foreach {
        case Seq(p, n) =>
          if (p.current || !p.validTo.contains(n.validFrom)) { bad ++= batchesOf(p); bad ++= batchesOf(n) }
        case _ => ()
      }
      val last = s.last
      if (!last.current || last.validTo.isDefined) bad ++= batchesOf(last)
    }
    val got = actual.groupBy(_.validFrom).view.mapValues(_.size).toMap
    (stamped.keySet ++ got.keySet).foreach { k =>
      if (stamped.getOrElse(k, 0) != got.getOrElse(k, 0)) bad += k
    }
    bad.toSet
  }

  /** A lookup of `ids` must return every version of those ids, nothing else. */
  def lookup(expected: Seq[Scd2Row], actual: Seq[Scd2Row]): Boolean =
    diff(expected, actual).isEmpty
}
