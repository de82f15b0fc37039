package perfbench

import graft.cdc._
import org.scalatest.funsuite.AnyFunSuite

class CheckerSpec extends AnyFunSuite {
  private val expected = new Traffic(5).plan(60).flatMap(_.ops).toIndexedSeq

  private def op(e: ExpOp, columns: Vector[String] = null): Operation = Operation(
    OperationHeader(Traffic.ServerId, e.opType, 0L, e.logPos),
    gtid = e.gtid, statement = e.statement,
    table = e.table.map(t => TableDef(Traffic.Db, t,
      Option(columns).getOrElse(e.columns).map(c => ColumnDef(c, "", InnerType.VARCHAR)))),
    rows = e.rows.map { case (b, a) => OpRow(b, a) },
    progress = e.progressPos.map(p => Progress(Position(Traffic.File, p, Traffic.ServerId), None)))

  private def check(ops: Seq[Operation]): Checker = {
    val c = new Checker(expected)
    ops.foreach(c.feed)
    c
  }

  test("the expected stream itself passes, rotate markers included") {
    val rotate = Operation(OperationHeader(Traffic.ServerId, OpType.Rotate, 0L, 0L))
    val c = check(rotate +: expected.map(op(_)))
    assert(c.failed == 0 && c.intact && c.delivered == expected.size)
  }

  test("a duplicate, a gap and a reorder are each flagged") {
    val ops = expected.map(op(_))
    val dup = check(ops.take(10) ++ ops.slice(5, 6) ++ ops.drop(10))
    assert(dup.counts("duplicate") == 1 && !dup.intact)
    val gap = check(ops.take(10) ++ ops.drop(12))
    assert(gap.counts("gap") == 2 && !gap.intact)
    val reorder = check(ops.take(10) ++ Seq(ops(11), ops(10)) ++ ops.drop(12))
    assert(reorder.counts("reorder") == 1 && !reorder.intact)
  }

  test("a changed value is flagged") {
    val i = expected.indexWhere(_.rows.nonEmpty)
    val e = expected(i)
    val bad = op(e).copy(rows = e.rows.map { case (b, a) => OpRow(b, a.map(_.map(_ => Some("x")))) })
    val c = check(expected.take(i).map(op(_)) ++ Seq(bad) ++ expected.drop(i + 1).map(op(_)))
    assert(c.counts("value") == 1 && !c.intact)
  }

  test("a stale column list is counted as failed but is not an integrity break") {
    val i = expected.indexWhere(_.columns.size > 2)
    val stale = op(expected(i), expected(i).columns.init)
    val c = check(expected.take(i).map(op(_)) ++ Seq(stale) ++ expected.drop(i + 1).map(op(_)))
    assert(c.counts("staleColumns") == 1 && c.failed == 1 && c.intact)
  }
}
