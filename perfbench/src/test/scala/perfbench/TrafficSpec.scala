package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TrafficSpec extends AnyFunSuite {
  private def bytes(seed: Long): Seq[Seq[Byte]] = {
    val t = new Traffic(seed)
    (t.fde +: t.plan(300).flatMap(_.events)).map(_.toSeq)
  }

  test("the same seed gives the same binlog bytes; another seed does not") {
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("a plan carries the ALTERs and the over-1-MiB transactions it promises") {
    val units = new Traffic(3).plan(300)
    assert(units.count(_.ops.exists(_.opType == "ddl")) == 3)
    assert(units.count(_.bytes > (1L << 20)) >= 3)
    assert(units.flatMap(_.ops).forall(_.table.forall(_ != "audit")), "audit rows never reach the wire sink")
  }
}
