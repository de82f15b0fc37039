package perfbench

import graft.mysql.{BinlogClient, BinlogEvents}
import org.scalatest.funsuite.AnyFunSuite

class FakeMasterSpec extends AnyFunSuite {
  private val traffic = new Traffic(11)
  private val units = traffic.plan(40)
  private val log = new Binlog(traffic.fde)
  log.append(units.flatMap(_.events))

  private def firstEvents(pos: Long, n: Int): Seq[BinlogEvents.EventHeader] = {
    val m = new FakeMaster(log).start()
    try {
      val c = BinlogClient.connect("127.0.0.1", m.port, "repl", "")
      c.connect()
      assert(c.checkBinlogRowFormat() == Right(()))
      assert(c.checkBinlogRowImage() == Right(()))
      c.setHeartbeatPeriod(30)
      c.registerSlave(1001)
      c.dump(Traffic.File, pos, 1001).take(n).map(_._1).toVector
    } finally m.close()
  }

  test("a dump from an event's start position resumes there, after the rotate and FDE") {
    val k = 17
    val start = units(k - 1).xidPos // the end of unit k-1 is where unit k starts
    val hs = firstEvents(start, 3)
    assert(hs(0).eventType == Traffic.Rotate)
    assert(hs(1).eventType == Traffic.FormatDescription)
    assert(hs(2).eventType == Traffic.Gtid)
    assert(hs(2).logPos == units(k).ops.head.logPos)
  }

  test("a dump from position 4 streams the whole file") {
    val hs = firstEvents(4, 3)
    assert(hs(1).eventType == Traffic.FormatDescription)
    assert(hs(2).logPos == units.head.ops.head.logPos)
  }

  test("a dump from the end of the log waits there for the next append") {
    val end = units.last.xidPos
    val tail = traffic.plan(2)
    val m = new FakeMaster(log).start()
    try {
      val c = BinlogClient.connect("127.0.0.1", m.port, "repl", "")
      c.connect()
      c.registerSlave(1001)
      val it = c.dump(Traffic.File, end, 1001)
      assert(it.next()._1.eventType == Traffic.Rotate)
      assert(it.next()._1.eventType == Traffic.FormatDescription)
      log.append(tail.flatMap(_.events))
      val (h, _) = it.next()
      assert(h.eventType == (tail.head.events.head(4) & 0xff))
      assert(h.logPos == end + tail.head.events.head.length)
    } finally m.close()
  }

  test("a position inside an event is refused") {
    val e = intercept[IllegalStateException](firstEvents(units(3).xidPos + 1, 1))
    assert(e.getMessage.contains("1236"))
  }
}
