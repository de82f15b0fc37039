package perfbench

import graft.cdc.{OpType, OperationDecoder, Wire}
import graft.kafka.{KafkaBroker, KafkaTopicClient}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** The `cdc` workload. One process holds the fake master, the broker and the
  * durability observer; the pipeline runs in a JVM of its own. One run goes
  * through both regimes of the pipeline and its crash path:
  *
  *  1. catch-up: after an untimed warm-up backlog, the master is handed a
  *     backlog the pipeline drains as fast as it can (`throughput_per_s`:
  *     its operations over the time from hand-over to the last one durable);
  *  2. steady: the master appends transactions on a fixed schedule (open
  *     loop); each transaction's lag runs from when its commit was due to
  *     when the broker's high-water mark covers it (`latency_p50_ms`,
  *     `latency_p90_ms`: percentiles over the transactions due in the
  *     `seconds` window, after a settling period);
  *  3. crash: a last backlog, halfway through which the pipeline JVM is
  *     SIGKILLed and relaunched (recovery scan plus resume). A run whose
  *     kill lands after the backlog is durable fails.
  *
  * Then the whole topic is checked against the generated stream.
  *
  * Usage: CdcRun cdc <seed> <seconds> <trace 0|1> <work dir>
  */
object CdcRun {
  val Topic = "bench"
  /** Untimed warm-up, timed catch-up and crash backlogs, in transactions.
    * The warm-up (about 11k operations) lets the JIT compile the
    * per-operation path before the timed drain. At about 5.6 operations a
    * transaction and 5k operations/s on 4 cores, the timed backlog drains in
    * about 5.5 s. */
  val WarmupTrx = 2000
  val CatchupTrx = 5000
  val CrashTrx = 1000
  /** The steady schedule, transactions per second: a little over a quarter
    * of the drain rate catch-up reaches on 4 cores (about 900 trx/s), so the
    * lag shows the per-batch costs rather than queueing near saturation. */
  val SteadyTrxPerSec = 250
  /** Untimed steady settling before the measured window. */
  val SteadySettleSec = 8

  final case class Sample(ackNanos: Long, lagNanos: Long)

  def main(args: Array[String]): Unit = {
    val Array(_, seedS, secondsS, traceS, workS) = args
    println(new CdcRun(seedS.toLong, secondsS.toInt, traceS == "1", Paths.get(workS)).run())
  }
}

final class CdcRun(seed: Long, seconds: Int, trace: Boolean, work: Path) {
  import CdcRun._

  private val traffic = new Traffic(seed)
  private val log = new Binlog(traffic.fde)
  private val broker = new KafkaBroker().start()
  private val master = new FakeMaster(log).start()
  private val schemaSql = work.resolve("schema.sql")
  private val procs = mutable.ArrayBuffer.empty[Process]
  private val liveReplies = new java.util.concurrent.LinkedBlockingQueue[Double]()

  // ---- durability observer: the topic's high-water mark over time ----
  private val hwmAt = new LongBuf
  private val hwmVal = new LongBuf
  @volatile private var observing = true
  private val observer = new Thread(() => {
    var last = 0L
    while (observing) {
      val h = broker.highWaterMark(Topic, 0)
      if (h != last) { hwmVal.synchronized { hwmVal += h; hwmAt += System.nanoTime() }; last = h }
      LockSupport.parkNanos(1000000)
    }
  }, "durability-observer")
  observer.setDaemon(true)
  observer.start()

  private def hwm: Long = hwmVal.synchronized(if (hwmVal.size == 0) 0L else hwmVal.last)
  /** When the high-water mark first covered `offset`. */
  private def ackedAt(offset: Long): Long = hwmVal.synchronized {
    var lo = 0; var hi = hwmVal.size - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (hwmVal(m) > offset) hi = m else lo = m + 1 }
    hwmAt(lo)
  }
  private def firstAckAfter(t: Long): Option[Long] = hwmVal.synchronized {
    (0 until hwmAt.size).iterator.map(hwmAt(_)).find(_ > t)
  }

  // ---- pipeline JVMs ----
  private def launch(tag: String): Process = {
    val javaBin = ProcessHandle.current().info().command().get()
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val traceOut = if (trace) work.resolve(s"trace-$tag.json").toString else "-"
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", s"-Djava.io.tmpdir=${work.resolve("tmp")}",
      "-cp", System.getProperty("java.class.path"), "perfbench.Pipeline",
      "127.0.0.1", master.port.toString, s"127.0.0.1:${broker.port}",
      work.resolve("pipeline").toString, schemaSql.toString, traceOut)
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(work.resolve(s"pipeline-$tag.log").toFile)
      .start()
    procs += p
    val rd = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("live ")) liveReplies.put(line.drop(5).trim.toDouble)
        line = in.readLine()
      }
    }, s"pipeline-$tag-out")
    rd.setDaemon(true)
    rd.start()
    p
  }

  /** Live heap of the pipeline JVM after a full collection. */
  private def liveHeap(p: Process): Double = {
    p.getOutputStream.write("gc\n".getBytes); p.getOutputStream.flush()
    val v = liveReplies.poll(60, TimeUnit.SECONDS)
    if (v == null) fail("no live-heap reply") else v.doubleValue
  }

  private def awaitDump(p: Process, what: String): master.Dump = {
    val deadline = System.nanoTime() + 120000000000L
    var d: master.Dump = null
    while (d == null) {
      if (!p.isAlive) fail(s"$what: pipeline exited with ${p.exitValue()} before COM_BINLOG_DUMP")
      if (System.nanoTime() > deadline) fail(s"$what: no COM_BINLOG_DUMP within 120 s")
      d = master.dumps.poll(20, TimeUnit.MILLISECONDS)
    }
    d
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    throw new IllegalStateException(msg)
  }

  private def waitUntil(what: String, p: Process, timeoutSec: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    var lastHwm = hwm; var lastMove = System.nanoTime()
    while (!cond) {
      if (!p.isAlive) fail(s"$what: pipeline exited with ${p.exitValue()} (see pipeline logs)")
      val h = hwm
      if (h != lastHwm) { lastHwm = h; lastMove = System.nanoTime() }
      if (System.nanoTime() > deadline || System.nanoTime() - lastMove > 60000000000L)
        fail(s"$what: timed out at hwm $h")
      Thread.sleep(5)
    }
  }

  private def stop(p: Process, force: Boolean): Unit = {
    if (force) p.destroyForcibly() else p.destroy()
    if (!p.waitFor(30, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor(30, TimeUnit.SECONDS) }
  }

  // ---- consumer: decode the topic, check each operation as it arrives ----
  private final class Consumer(ck: Checker) {
    private val client = new KafkaTopicClient("127.0.0.1", broker.port, Topic, messageFormat = 2)
    private val dec = new OperationDecoder(Wire)
    private var next = 0L
    var lastCommitPos = 0L
    var messages = 0L
    var bytes = 0L
    var fragmented = 0L
    var ops = 0L
    /** (binlog position, topic offset of the message completing it) per commit or DDL. */
    val commitPos = new LongBuf
    val commitOffset = new LongBuf
    def poll(): Unit = {
      var page = client.fetchPage(next, 512)
      while (page.nonEmpty) {
        page.foreach { case (off, data) =>
          messages += 1; bytes += data.length
          if (Wire.decodeMessage(data).moreFragment) fragmented += 1
          dec.feed(data, off).foreach { b =>
            b.ops.foreach { op =>
              ck.feed(op); ops += 1
              if (op.opType == OpType.Commit || op.opType == OpType.Ddl) {
                lastCommitPos = math.max(lastCommitPos, op.header.logPos)
                commitPos += op.header.logPos; commitOffset += b.commitOffset
              }
            }
          }
          next = off + 1
        }
        page = client.fetchPage(next, 512)
      }
    }
    def commits: Seq[(Long, Long)] = (0 until commitPos.size).map(i => (commitPos(i), commitOffset(i)))
    def close(): Unit = client.close()
  }

  def run(): String =
    try {
      Files.createDirectories(work.resolve("tmp"))
      Files.writeString(schemaSql, traffic.seedSql.mkString("", "\n", "\n"))
      measure()
    } finally {
      procs.foreach(p => if (p.isAlive) stop(p, force = true))
      observing = false
      master.close(); broker.close()
    }

  private def toMs(ns: Long): Double = ns / 1e6

  /** Micro-batches seen from outside: transactions acked together (no gap
    * above 5 ms in the high-water mark's advance). Lags within one are
    * correlated, so this count, not the transaction count, is the number of
    * independent latency samples. */
  private def batchCount(s: Iterable[Sample]): Int = {
    val acks = s.map(_.ackNanos).toVector.sorted
    if (acks.isEmpty) 0 else 1 + acks.sliding(2).count { case Seq(a, b) => b - a > 5000000L; case _ => false }
  }

  private def measure(): String = {
    val warm = traffic.plan(WarmupTrx)
    val timed = traffic.plan(CatchupTrx)
    // no over-1-MiB transactions on the schedule: catch-up covers split and
    // fragmentation, and on a schedule a few of them would decide the lag
    val scheduled = traffic.plan((SteadySettleSec + seconds) * SteadyTrxPerSec, oversized = false)
    val crash = traffic.plan(CrashTrx)
    val units = warm ++ timed ++ scheduled ++ crash
    val nExp = units.iterator.map(_.ops.size).sum
    val ck = new Checker(units.flatMap(_.ops).toIndexedSeq)
    val consumer = new Consumer(ck)
    def drained(upTo: Seq[Txn]): Boolean = { consumer.poll(); consumer.lastCommitPos >= upTo.last.xidPos }

    // 1. catch-up
    log.append(warm.flatMap(_.events))
    val t1 = System.nanoTime()
    val p1 = launch("1")
    val d1 = awaitDump(p1, "launch 1")
    waitUntil("drain the warm-up backlog", p1, 120)(drained(warm))
    val tb = System.nanoTime()
    log.append(timed.flatMap(_.events))
    waitUntil("drain the timed backlog", p1, 120)(drained(timed))
    val te = ackedAt(hwm - 1)
    val ingestNanos = master.lastSendNanos - tb

    // 2. steady: unit k is due at start + k / rate, whether or not the pipeline keeps up
    val start = System.nanoTime()
    val periodNs = 1000000000L / SteadyTrxPerSec
    val late = new Array[Long](scheduled.size)
    var k = 0
    while (k < scheduled.size) {
      val due = start + k * periodNs
      var now = System.nanoTime()
      if (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val batch = mutable.ArrayBuffer.empty[Array[Byte]]
      while (k < scheduled.size && start + k * periodNs <= now) {
        batch ++= scheduled(k).events; late(k) = now - (start + k * periodNs); k += 1
      }
      log.append(batch.toSeq)
      if (!p1.isAlive) fail("pipeline exited during the steady schedule")
    }
    waitUntil("drain the schedule", p1, 120)(drained(scheduled))

    // 3. crash
    log.append(crash.flatMap(_.events))
    waitUntil("drain a quarter of the crash backlog", p1, 120)(drained(crash.take(crash.size / 4)))
    // the feed holds most of the crash backlog here: the live-heap peak
    val heapMb = liveHeap(p1)
    waitUntil("drain to the crash point", p1, 120)(drained(crash.take(crash.size / 2)))
    stop(p1, force = true)
    val t2 = System.nanoTime()
    if (drained(crash)) fail("the kill came after the crash backlog was durable")
    val durableAtKill = consumer.lastCommitPos
    val p2 = launch("2")
    val d2 = awaitDump(p2, "launch 2")
    waitUntil("drain to the end", p2, 120)(drained(crash))
    val recovery = firstAckAfter(t2).getOrElse(fail("no acknowledgement after the relaunch")) - t2
    stop(p2, force = false)
    consumer.poll(); consumer.close()

    val dueOf = scheduled.iterator.zipWithIndex.map { case (u, i) => u.xidPos -> (start + i * periodNs) }.toMap
    val winLo = start + SteadySettleSec * 1000000000L
    val winHi = winLo + seconds * 1000000000L
    val samples = consumer.commits.flatMap { case (pos, off) =>
      dueOf.get(pos).filter(due => due >= winLo && due < winHi).map(due => Sample(ackedAt(off), ackedAt(off) - due))
    }
    val lags = samples.map(x => toMs(x.lagNanos))
    val timedOps = timed.iterator.map(_.ops.size).sum
    Files.write(work.resolve("lags.tsv"), samples.map(x =>
      s"${toMs(x.ackNanos - x.lagNanos - start)}\t${toMs(x.lagNanos)}").mkString("due_ms\tlag_ms\n", "\n", "\n").getBytes)
    def sec(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
    System.err.println(s"[perfbench] phases: launch1->dump ${sec(t1, d1.atNanos)} s, timed drain ${sec(tb, te)} s, " +
      s"steady lag over ${batchCount(samples)} batches, " +
      s"killed with binlog position $durableAtKill durable, relaunch dumped from ${d2.pos}, " +
      s"launch2->dump ${sec(t2, d2.atNanos)} s, recovery ${recovery / 1e9} s")
    val e2e = Map(
      "setup_s" -> Stats.median(Seq(d1.atNanos - t1, d2.atNanos - t2).map(_ / 1e9)),
      "throughput_per_s" -> timedOps / ((te - tb) / 1e9),
      "latency_p50_ms" -> Stats.pct(lags, 50),
      "latency_p90_ms" -> Stats.pct(lags, 90),
      "live_heap_peak_mb" -> heapMb)
    val layers = if (!trace) Map.empty[String, Double] else
      traced(consumer, Seq("1", "2")) ++ new LayerPass(traffic, timed, broker, work).metrics() ++ Map(
        "recovery_s" -> recovery / 1e9,
        "lag.samples" -> batchCount(samples).toDouble,
        "source.ingest_ops_per_s" -> timedOps / (ingestNanos / 1e9),
        "master.late_p99_ms" -> Stats.pct(late.toSeq.map(_ / 1e6), 99),
        "master.blocked_ms" -> master.blockedNanos.get / 1e6)
    result(ck, nExp, e2e, layers)
  }

  /** Per-layer numbers from the pipeline's trace files and the topic. */
  private def traced(c: Consumer, tags: Seq[String]): Map[String, Double] = {
    val files = tags.map(t => work.resolve(s"trace-$t.json")).filter(Files.exists(_))
    TraceReport.pipeline(files) ++ Map(
      "sink.msgs" -> c.messages.toDouble,
      "sink.bytes" -> c.bytes.toDouble,
      "sink.ops_per_msg" -> c.ops.toDouble / math.max(1L, c.messages),
      "sink.fragmented_msgs" -> c.fragmented.toDouble)
  }

  private def result(ck: Checker, nExp: Int, e2e: Map[String, Double], layers: Map[String, Double]): String = {
    ck.first.foreach { case (k, p) => System.err.println(s"[perfbench] first $k failure: $p") }
    System.err.println(s"[perfbench] check: delivered ${ck.delivered}/$nExp ops, " +
      ck.counts.map { case (k, v) => s"$k=$v" }.mkString(", "))
    val metrics = if (trace) layers ++ Map("failed_frac" -> ck.failed.toDouble / math.max(1, ck.delivered)) else e2e
    Stats.result(ck.intact && ck.delivered == nExp, ck.delivered, ck.failed, metrics, trace)
  }
}

/** A growable array of longs. */
final class LongBuf {
  private var a = new Array[Long](1024)
  var size = 0
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Long = a(i)
  def last: Long = a(size - 1)
}
