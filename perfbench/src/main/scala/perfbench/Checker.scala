package perfbench

import graft.cdc.{OpType, Operation}
import scala.collection.mutable

/** Compares the operations decoded from the topic with the generator's
  * expected wire-sink stream. Each topic operation is matched to the expected
  * one with the same binlog end position; rotate markers (one per dump) are
  * not data and are skipped.
  *
  *  - a position seen twice is a duplicate; a position behind the previous
  *    one is a reorder; expected positions skipped over are a gap (each
  *    missing operation counts); a position not in the expected stream is
  *    unknown;
  *  - a matched operation must carry the expected type, GTID, statement,
  *    commit position, row values, and the column names of the schema in
  *    force at that position. A wrong column list alone is a `staleColumns`
  *    failure — the live source's known defect after an in-stream ALTER.
  *
  * `delivered` is the length of the expected prefix the topic covers. */
final class Checker(expected: IndexedSeq[ExpOp]) {
  private val indexOf: Map[Long, Int] = expected.iterator.map(_.logPos).zipWithIndex.toMap

  val counts: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "duplicate" -> 0L, "reorder" -> 0L, "gap" -> 0L, "unknown" -> 0L,
    "value" -> 0L, "staleColumns" -> 0L)
  private val seen = mutable.BitSet.empty
  private var last = -1
  /** The first failure of each kind, described. */
  val first: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  private def fail(kind: String, n: Long, what: => String): Unit = {
    counts(kind) += n
    if (!first.contains(kind)) first(kind) = what
  }

  def feed(op: Operation): Unit =
    if (op.opType != OpType.Rotate) indexOf.get(op.header.logPos) match {
      case None => fail("unknown", 1, s"unknown op ${op.opType} at ${op.header.logPos}")
      case Some(i) if seen(i) => fail("duplicate", 1, s"duplicate op at ${op.header.logPos}")
      case Some(i) if i < last => seen += i; fail("reorder", 1, s"op at ${op.header.logPos} after a later one")
      case Some(i) =>
        if (i > last + 1) fail("gap", i - last - 1L, s"${i - last - 1} ops missing before ${op.header.logPos}")
        seen += i
        last = i
        compare(op, expected(i))
    }

  private def compare(op: Operation, e: ExpOp): Unit = {
    val sameCore = op.opType == e.opType && op.gtid == e.gtid && op.statement == e.statement &&
      op.table.map(_.name) == e.table &&
      op.progress.map(_.pos.pos).forall(p => e.progressPos.contains(p)) &&
      op.progress.isDefined == e.progressPos.isDefined &&
      op.rows.map(r => (r.before, r.after)) == e.rows
    if (!sameCore) fail("value", 1, s"op at ${e.logPos} differs from the expected ${e.opType}")
    else if (op.table.exists(_.columns.map(_.name) != e.columns))
      fail("staleColumns", 1, s"op at ${e.logPos} names columns " +
        s"${op.table.get.columns.map(_.name).mkString(",")}, schema has ${e.columns.mkString(",")}")
  }

  def delivered: Int = last + 1
  def failed: Long = counts.values.sum
  /** Exactly-once, in order, with the right values: everything but the
    * stale column names, which are counted in [[failed]]. */
  def intact: Boolean = counts.iterator.forall { case (k, v) => k == "staleColumns" || v == 0 }
}
