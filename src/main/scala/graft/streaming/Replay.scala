package graft.streaming

import graft.cdc._
import graft.streaming.ChangeStream._
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** End-to-end binlog replay (SURVEY.md §7 step 3): recorded binlog-event
  * JSON fixtures → Structured Streaming → two sinks:
  *
  *  - a stdout-twin JSON-lines sink (K2, /root/reference/sink/stdout/) with
  *    progress checkpointed only at transaction boundaries (T1 —
  *    /root/reference/canal/sync.go:86-91) through the dual-file CkpManager;
  *  - a Kafka-twin wire sink (K1): trx batching → fragmentation → seq
  *    protocol. With a broker configured (`topicAddr` / config
  *    `broker_list`, the TopicSim protocol) messages are PRODUCED into the
  *    served topic with the reference's full sink lifecycle — recovery
  *    scan at startup, acked seq/offset in the checkpoint, producer seq
  *    resumed; without one, base64 lines (one per would-be message).
  *
  * Restart honors F3: events at-or-below the persisted checkpoint are
  * dropped, so re-feeding the stream from the beginning emits no duplicates
  * — and a broker-backed restart additionally repairs a LOST ack from the
  * topic itself before anything streams.
  *
  * Usage: Replay <fixture.jsonl> <outDir>  (run twice to observe dedup)
  */
object Replay {

  def main(args: Array[String]): Unit =
    if (args.length == 1 && args(0).endsWith(".toml")) runFromConfig(args(0))
    else mainArgs(args)

  /** Single-file deployment: everything — source, per-sink filters,
    * checkpoint storage, schema seed, admin port, election — comes from
    * the config (the reference's `dolphinbeat -config x.toml` entry,
    * /root/reference/cmd/dolphinbeat/config.go:73-106). No env vars. */
  def runFromConfig(cfgPath: String): Unit = {
    val cfg = AppConfig.parseFile(Paths.get(cfgPath))
    val outDir = cfg.replayOutDir.getOrElse(
      throw new IllegalArgumentException("config needs [replay] out_dir"))
    // reuse a live session when embedded (specs); own + stop when the app
    // entry created it
    val existing = SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
    val spark = existing.getOrElse(session())
    spark.sparkContext.setLogLevel("WARN")
    val counters = new graft.metrics.Counters
    spark.streams.addListener(new graft.metrics.GraftStreamingListener(counters))
    val tracker = new SchemaTracker
    val gate = new DdlGate(tracker, onPark = () => counters.failedDdlTotal.inc())
    val seeded = cfg.schemaSeedSql.map { f =>
      Files.readAllLines(Paths.get(f)).asScala.map(_.trim).filter(_.nonEmpty)
        .foreach(stmt => tracker.execDdl(stmt, ""))
    }
    // admin /status progress is wired up once the pipeline owns a ckp
    // manager (live mode) — a mutable hook bridges the start-order gap
    @volatile var progressView: () => Option[String] = () => None
    val admin = cfg.adminPort.map { p =>
      new graft.http.AdminServer(tracker, gate, counters, port = p,
        progress = () => progressView()).start()
    }
    // HA: with election enabled, block until this node leads — a standby
    // must not produce (the reference's app loop waits on Notify())
    val election =
      if (cfg.electionEnabled)
        Some(new graft.election.ZkElection(
          cfg.electionZkHosts, cfg.electionZkPath, s"graft-${cfg.serverId}").start())
      else None
    election.foreach { e =>
      // a healthy follower legitimately waits FOREVER (the reference
      // blocks on Notify() with no deadline) — only a fatal election
      // error aborts the standby, never a quiet 30 seconds
      while (!e.isLeader) {
        e.notifications.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        val err = e.errors.poll()
        if (err != null)
          throw new IllegalStateException(s"election failed while standby: $err")
      }
    }
    val sinkFilters = Seq(
      "stdout" -> cfg.sinkOfType("stdout"),
      // the wire sink is this port's kafka twin — accept either type name
      "wire" -> cfg.sinkOfType("kafka").orElse(cfg.sinkOfType("wire")),
    ).collect { case (k, Some(sk)) =>
      k -> CanalTableFilter(sk.includeTable, sk.excludeTable)
    }.toMap
    // broker_list on the kafka sink → produce into the served topic with
    // the recovery lifecycle (TopicSim protocol). The config value may be
    // a LIST (sarama takes every broker as a bootstrap address); the sim
    // speaks to one server, so connect to the first entry — a list must
    // not reach the host:port split as a comma-joined blob
    val topicAddr = cfg.sinkOfType("kafka").orElse(cfg.sinkOfType("wire"))
      .flatMap(_.cfg.get("broker_list"))
      .map(_.split(',').head.trim).filter(_.nonEmpty)
    val snapshots = cfg.schemaTrackerDir.map(d => new SchemaSnapshotStore(Paths.get(d)))
    try {
      cfg.replayFixture match {
        case Some(fixture) =>
          val stats = run(spark, Paths.get(fixture), Paths.get(outDir),
            counters = counters,
            gate = seeded.map(_ => gate),
            ckpStorage = cfg.ckpUri.map(CkpStorage.forUri),
            sinkFilters = sinkFilters,
            topicAddr = topicAddr,
            snapshots = snapshots)
          println(s"""{"emitted":${stats.emitted},"droppedAsDuplicate":${stats.dropped},""" +
            s""""wireMessages":${stats.wireMessages},"checkpoint":"${stats.checkpoint}"}""")
        case None =>
          // no fixture → live replication from mysql_addr
          val addr = cfg.mysqlAddr.getOrElse(
            throw new IllegalArgumentException("config needs [replay] fixture or mysql_addr"))
          val colon = addr.lastIndexOf(':')
          val live = runLive(spark,
            host = addr.substring(0, colon), port = addr.substring(colon + 1).toInt,
            user = cfg.mysqlUser, password = cfg.mysqlPassword,
            serverId = cfg.serverId, outDir = Paths.get(outDir),
            gtidEnabled = cfg.gtidEnabled,
            counters = counters,
            gate = seeded.map(_ => gate),
            ckpStorage = cfg.ckpUri.map(CkpStorage.forUri),
            sinkFilters = sinkFilters,
            schemaSql = cfg.schemaSeedSql,
            topicAddr = topicAddr,
            snapshots = snapshots,
            maxReconnects = cfg.maxReconnects,
            reconnectBackoffMs = cfg.reconnectBackoffMs)
          progressView = () => Some(live.minProgress.toString)
          // split-brain guard: leadership must be re-checked for the
          // LIFETIME of the pipeline — a leader whose ZK session expires
          // is deposed server-side and the standby promotes; continuing
          // to produce would double-write the sink. The monitor stops the
          // query on any election error or observed demotion.
          election.foreach { e =>
            val mon = new Thread(() => {
              var stop = false
              while (!stop) {
                val err = e.errors.poll(1, java.util.concurrent.TimeUnit.SECONDS)
                if (err != null || !e.isLeader) {
                  System.err.println(s"[replay] leadership lost (${Option(err).getOrElse("demoted")}): stopping sinks")
                  try live.stop() catch { case _: Exception => () }
                  stop = true
                }
              }
            }, "election-monitor")
            mon.setDaemon(true)
            mon.start()
          }
          live.query.awaitTermination()
      }
    } finally {
      election.foreach(_.close())
      admin.foreach(_.stop())
      if (existing.isEmpty) spark.stop()
    }
  }

  /** The deployment entries' session: the engine's defaults (including the
    * fork-free streaming checkpoint writer) on a local master. */
  private def session(): SparkSession =
    graft.GraftSession.builder(shufflePartitions = 4)
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-replay")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def mainArgs(args: Array[String]): Unit = {
    val Array(fixture, outDir) = args.take(2)
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    // operator surface: SPARK_GRAFT_ADMIN_PORT serves /status /schema
    // /ddl/* /metrics for the run (the reference's HTTP server lifecycle)
    val counters = new graft.metrics.Counters
    spark.streams.addListener(new graft.metrics.GraftStreamingListener(counters))
    val tracker = new SchemaTracker
    val gate = new DdlGate(tracker, onPark = () => counters.failedDdlTotal.inc())
    // SPARK_GRAFT_SCHEMA_SQL: seed DDL (one statement per line), the
    // bootstrap/snapshot the reference restores before syncing — required
    // for in-stream DDL replay (else an ALTER on an unseeded table parks)
    val seeded = sys.env.get("SPARK_GRAFT_SCHEMA_SQL").map { f =>
      Files.readAllLines(Paths.get(f)).asScala.map(_.trim).filter(_.nonEmpty)
        .foreach(stmt => tracker.execDdl(stmt, ""))
    }
    val admin = sys.env.get("SPARK_GRAFT_ADMIN_PORT").map { p =>
      new graft.http.AdminServer(tracker, gate, counters, port = p.toInt).start()
    }
    try {
      val stats = run(spark, Paths.get(fixture), Paths.get(outDir), counters = counters,
        gate = seeded.map(_ => gate))
      // one-line machine-readable outcome (driver/smoke-friendly)
      println(s"""{"emitted":${stats.emitted},"droppedAsDuplicate":${stats.dropped},""" +
        s""""wireMessages":${stats.wireMessages},"checkpoint":"${stats.checkpoint}"}""")
    } finally { admin.foreach(_.stop()); spark.stop() }
  }

  final case class ReplayStats(emitted: Long, dropped: Long, wireMessages: Long, checkpoint: String)

  /** `gate`: when provided, DDL operations replay through the park/repair
    * gate into its schema mirror IN STREAM ORDER (the reference's sync
    * loop: tracker.ExecAndPersist behind the drain barrier). A parked DDL
    * throws — the pipeline must stop consuming until the operator repairs
    * via the admin surface (T7); seed the tracker from a bootstrap/snapshot
    * first, exactly like the reference restores schema before syncing. */
  def run(spark: SparkSession, fixture: Path, outDir: Path,
      includes: Seq[String] = Nil, excludes: Seq[String] = Nil,
      counters: graft.metrics.Counters = new graft.metrics.Counters,
      gate: Option[graft.cdc.DdlGate] = None,
      ckpStorage: Option[CkpStorage] = None,
      sinkFilters: Map[String, CanalTableFilter] = Map.empty,
      topicAddr: Option[String] = None,
      snapshots: Option[SchemaSnapshotStore] = None): ReplayStats = {
    val ckpMgr = managerFor(outDir, ckpStorage)
    // source: the DSv2 binlog-replay stream (graft.sources) — offsets are
    // binlog positions, rotate/log-name threading happens in the source
    val totalInput =
      graft.sources.BinlogReplaySource.load(fixture.toString).size.toLong
    val ds = spark.readStream.format("binlog-replay")
      .option("path", fixture.toString).load()
      .select("seq_no", "log_name", "op_wire")
    val (query, st) = startSinks(ds, outDir, includes, excludes, counters, gate,
      ckpMgr, sinkFilters, topicAddr, snapshots)
    try {
      query.processAllAvailable()
      query.stop()
    } finally st.topic.foreach(t => try t.close() catch { case _: Exception => () })
    val finalCkp = ckpMgr.get("stdout").map(_.progress).getOrElse(Progress.zero)
    counters.opsEmittedTotal.add(st.emitted)
    counters.opsDroppedTotal.add(totalInput - st.emitted)
    counters.wireMessagesTotal.add(st.wireMessages)
    ReplayStats(st.emitted, totalInput - st.emitted, st.wireMessages, finalCkp.toString)
  }

  /** A running live pipeline: the streaming query plus live views of its
    * state (for the admin surface and for orderly shutdown). */
  final class LiveRun(val query: org.apache.spark.sql.streaming.StreamingQuery,
      private[Replay] val st: SinkState, val ckpMgr: CkpManager) {
    def emitted: Long = st.emitted
    def wireMessages: Long = st.wireMessages
    def minProgress: Progress = ckpMgr.getMinProgress
    def stop(): Unit =
      try query.stop()
      finally st.topic.foreach(t => try t.close() catch { case _: Exception => () })
  }

  /** S1-live → the SAME sink stack as the fixture replay: the binlog-live
    * DSv2 source feeds the fused executor render + ordered driver pass,
    * both sinks, per-sink checkpoints, and the schema gate. Restart reads
    * the checkpoint store FIRST and starts replication from min-progress —
    * GTID set when `gtidEnabled` and one was checkpointed, else file+pos
    * (the reference's startSyncer switch, canal/sync.go:46-67); the F3
    * per-sink predicates then drop the overlap exactly like replay.
    * Returns the running query — a live stream has no natural end; callers
    * own its lifecycle (`processAllAvailable` in specs, awaitTermination
    * in production). */
  def runLive(spark: SparkSession, host: String, port: Int,
      user: String, password: String, serverId: Long,
      outDir: Path,
      gtidEnabled: Boolean = false,
      includes: Seq[String] = Nil, excludes: Seq[String] = Nil,
      counters: graft.metrics.Counters = new graft.metrics.Counters,
      gate: Option[graft.cdc.DdlGate] = None,
      ckpStorage: Option[CkpStorage] = None,
      sinkFilters: Map[String, CanalTableFilter] = Map.empty,
      schemaSql: Option[String] = None,
      topicAddr: Option[String] = None,
      snapshots: Option[SchemaSnapshotStore] = None,
      maxReconnects: Int = 3,
      reconnectBackoffMs: Long = 500L): LiveRun = {
    val ckpMgr = managerFor(outDir, ckpStorage)
    val resume = ckpMgr.getMinProgress
    var reader = spark.readStream.format("binlog-live")
      .option("host", host).option("port", port.toString)
      .option("user", user).option("password", password)
      .option("serverId", serverId.toString)
      .option("maxReconnects", maxReconnects.toString)
      .option("reconnectBackoffMs", reconnectBackoffMs.toString)
    schemaSql.foreach(f => reader = reader.option("schemaSql", f))
    if (!resume.isZero) {
      reader = reader.option("startFile", resume.pos.name)
        .option("startPos", resume.pos.pos.toString)
      if (gtidEnabled) resume.gset.foreach(g => reader = reader.option("startGtid", g.toString))
    }
    val ds = reader.load().select("seq_no", "log_name", "op_wire")
    val (query, st) = startSinks(ds, outDir, includes, excludes, counters, gate,
      ckpMgr, sinkFilters, topicAddr, snapshots)
    new LiveRun(query, st, ckpMgr)
  }

  private def managerFor(outDir: Path, ckpStorage: Option[CkpStorage]): CkpManager = {
    Files.createDirectories(outDir)
    // selectable checkpoint storage (SPARK_GRAFT_CKP_URI / config): HA
    // deployments point at ZooKeeper so a standby resumes from the same
    // progress; default is the dual-file store next to the sink output
    new CkpManager(ckpStorage.getOrElse(
      sys.env.get("SPARK_GRAFT_CKP_URI").map(CkpStorage.forUri)
        .getOrElse(new FileCkpStorage(outDir.resolve("ckp")))))
  }

  final class SinkState {
    @volatile var emitted = 0L
    @volatile var wireMessages = 0L
    /** The wire sink's broker connection, if any — held here so the run's
      * shutdown path can close it (the Kafka client keeps one persistent
      * socket; before TopicLike.close existed it leaked for the process
      * lifetime). */
    @volatile var topic: Option[TopicLike] = None
  }

  /** The shared two-sink stack over any (seq_no, log_name, op_wire)
    * stream, read by column ordinal from the batch's own plan: ALL per-op
    * work — wire decode, F1 global filter, F3 per-sink dedup, JSON render
    * for the stdout sink — happens in ONE executor-side pass
    * ([[RenderPartition]]) inside foreachBatch; the wire sink gets the
    * source's [[Wire.encodeOp]] bytes unchanged. The OpEnvelope/Dataset
    * forms of F1/F3 (ChangeStream.globalFilter/dedupBelowCheckpoint)
    * remain the composable operator API; this is the fused hot path with
    * the same truth tables. */
  private def startSinks(
      ds: org.apache.spark.sql.DataFrame,
      outDir: Path,
      includes: Seq[String], excludes: Seq[String],
      counters: graft.metrics.Counters,
      gate: Option[graft.cdc.DdlGate],
      ckpMgr: CkpManager,
      sinkFilters: Map[String, CanalTableFilter],
      topicAddr: Option[String] = None,
      snapshots: Option[SchemaSnapshotStore] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, SinkState) = {
    // restart restores the schema mirror AS OF the resume position (the
    // reference's tracker restore, schema/tracker.go:54-72) — the mirror
    // must describe the schema the FIRST replayed event was written under.
    // Restore = newest full snapshot at-or-below resume + replay of the
    // logged DDL tail up to resume (statement-level incremental store)
    for (store <- snapshots; g <- gate) {
      val resume = ckpMgr.getMinProgress
      if (!resume.isZero)
        store.load(resume.pos).foreach { case (snapPos, dbs, defs) =>
          g.tracker.restoreCatalog(defs, dbs)
          store.ddlTail(snapPos, resume.pos).foreach { case (_, db, stmt) =>
            g.tracker.execDdl(stmt, db)
          }
        }
    }
    // per-sink checkpoints (K4 mux: each sink dedups against its OWN
    // progress, F3) — the stream-level filter below uses their MINIMUM
    // (A2), the reference's resume position across sinks
    val stdoutCkp = ckpMgr.get("stdout").map(_.progress).getOrElse(Progress.zero)
    val st = new SinkState

    val jsonOut = outDir.resolve("operations.jsonl")
    val wireOut = outDir.resolve("wire.b64l")
    // the sources' op_wire bytes are Wire.encodeOp records, assembled into
    // payloads as they are: the sink's codec must be the same
    val codec: WireCodec = Wire
    // K1 lifecycle against a broker (the served-topic twin): Initialize →
    // recovery scan from ackedOffset+1 → resume the producer seq from the
    // recovered ackedSeq (kafka.go:134-255). A lost ack is repaired from
    // the topic itself BEFORE anything streams; without a broker the wire
    // sink appends base64 lines and restart dedup is F3-only.
    val topic: Option[TopicLike] = topicAddr.map(TopicLike.connect)
    st.topic = topic
    // any startup failure past this point must release the connected
    // client (a truncated-topic recovery abort, a bad config…) — a driver
    // retrying startup would otherwise leak one socket per attempt
    def closingOnFailure[A](body: => A): A =
      try body
      catch {
        case e: Throwable =>
          topic.foreach(t => try t.close() catch { case _: Exception => () })
          throw e
      }
    val (wireCkp, producerStartSeq, recoveredAckedOffset) = closingOnFailure {
      topic match {
        case Some(client) =>
          val rec = KafkaRecovery.recover(client,
            ckpMgr.get("wire").getOrElse(Checkpoint(Progress.zero)), codec)
          ckpMgr.update("wire", rec.ckp)
          (rec.ckp.progress, rec.ackedSeq, rec.ackedOffset)
        case None =>
          (ckpMgr.get("wire").map(_.progress).getOrElse(Progress.zero), 0L,
            KafkaRecovery.NoOffset)
      }
    }
    val producer = new FragmentingProducer(producerId = 1L, maxPayloadSize = 1 << 20,
      codec = codec, startSeq = producerStartSeq)
    // Per-message ack tracking: the checkpointed acked_offset is the offset
    // RETURNED by each produce (post-append hwm - 1), never a re-query of the
    // topic hwm — under HA a deposed-but-still-writing leader (or any second
    // writer) advances the hwm past messages THIS producer sent, and a
    // hwm-derived checkpoint would make the next recovery scan skip them
    // (the reference records sarama's per-message ack, kafka.go:421-488).
    // init straight from the recovery result — NOT a re-read of ckpMgr,
    // which is only equivalent because update("wire") happened above and
    // would silently desync under a reorder or a second caller
    var ackedOffset: Long = recoveredAckedOffset
    // trx batching over the sources' pre-encoded ops: the state machine
    // only looks at opType, so the driver assembles payloads by
    // concatenation (never re-encodes)
    val batcher = new TypedTrxBatcher[(String, Array[Byte])](_._1)

    val globalF = CanalTableFilter(includes, excludes)
    // F2: per-sink truth tables on top of the global filter (config's
    // include_table/exclude_table per [[sink]]); empty = match-all
    val jsonF = sinkFilters.getOrElse("stdout", CanalTableFilter(Nil, Nil))
    val wireF = sinkFilters.getOrElse("wire", CanalTableFilter(Nil, Nil))

    val segDirPath = outDir.resolve("segments")
    val render = new RenderPartition(segDirPath.toString, globalF, jsonF, wireF,
      stdoutCkp, wireCkp)
    // Spark's offset/commit logs: resume comes from ckpMgr, so nothing
    // reads them back — a fixed place under outDir (cleared here) instead
    // of a temporary directory a killed driver would leave behind
    val streamCkp = outDir.resolve("spark-checkpoint")
    deleteTree(streamCkp)

    val query = ds.writeStream
      .outputMode("append")
      .option("checkpointLocation", streamCkp.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // Per-sink ordered consumption (the sink's single run-loop analogue,
        // W1), scale-shaped like a shuffle hand-off: each of the source's
        // contiguous index-range slices renders IN PARALLEL and spills its
        // output to an ordered per-partition SEGMENT FILE pair; the driver
        // then streams the small segment files in partition order (= seqNo
        // order, since slice i's seqNos are strictly below slice i+1's — no
        // range shuffle, no sampling pass, no row re-decode) and keeps only
        // the sequential bookkeeping: trx batching over pre-encoded
        // fragments, seq assignment, appends, checkpoints.
        // (The earlier collect-everything driver render measured 19k ops/s
        // at 60k ops degrading to 14k at 600k; caching rendered rows in
        // Spark's columnar/object stores measured 2-3x slower than this.)
        Files.createDirectories(segDirPath)
        val stale = Files.list(segDirPath)
        try stale.forEach(p => Files.delete(p)) finally stale.close() // crash leftovers
        // the sink hands over the batch as a LogicalRDD over the already
        // planned rows: run the render on that RDD itself — planning the
        // batch again, or a closure Spark must clean, costs every trigger
        val rdd = batch.queryExecution.logical match {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
          case other => throw new IllegalStateException(
            s"foreachBatch handed a ${other.nodeName} plan, not the sink's LogicalRDD")
        }
        val np = rdd.getNumPartitions
        rdd.sparkContext.runJob(rdd, render)

        // ordered driver pass: segment files in partition order
        var lastJsonProg: Option[Progress] = None
        var lastWireProg: Option[Progress] = None
        // the producer seq and topic offset as of lastWireProg: a message
        // produced after it (a Rotate flush) must be re-produced under the
        // SAME seq after a restart from lastWireProg, so the consumer's
        // seq dedup drops it — the pairing KafkaRecovery keeps too
        var wireAckedSeq = producer.currentSeq
        var wireAckedOffset = ackedOffset
        var lastSeq = Long.MinValue
        val jsonCh = java.nio.channels.FileChannel.open(jsonOut,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.APPEND)
        val wireW = // file twin only when no broker is configured
          if (topic.isEmpty) Some(Files.newBufferedWriter(wireOut,
            StandardOpenOption.CREATE, StandardOpenOption.APPEND))
          else None
        try {
          for (pid <- 0 until np) {
            val jseg = segDirPath.resolve(f"json-$pid%05d")
            val wseg = segDirPath.resolve(f"wire-$pid%05d")
            if (Files.exists(wseg)) {
              val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
                Files.newInputStream(wseg), 1 << 20))
              def rstr(): String = {
                val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, UTF_8)
              }
              try {
                var eof = false
                while (!eof) {
                  val first = in.read()
                  if (first < 0) eof = true
                  else {
                    var seqNo = first.toLong
                    var k = 0
                    while (k < 7) { seqNo = (seqNo << 8) | (in.read() & 0xffL); k += 1 }
                    require(seqNo > lastSeq,
                      s"W1 order violation: seq $seqNo after $lastSeq") // fail fast
                    lastSeq = seqNo
                    val flags = in.readByte()
                    val inJson = (flags & 1) != 0
                    if (inJson) st.emitted += 1
                    val opType = rstr()
                    opType match { // A1 counters
                      case OpType.Commit => counters.trxTotal.inc()
                      case OpType.Insert | OpType.Update | OpType.Delete =>
                        counters.iudTotal.inc()
                      case OpType.Ddl => counters.ddlTotal.inc()
                      case _ => ()
                    }
                    var ddlApplied: Option[(String, String)] = None
                    if (opType == OpType.Ddl) {
                      val db = rstr(); val stmt = rstr()
                      gate.foreach { g =>
                        if (stmt.nonEmpty && !g.apply(stmt, db))
                          throw new IllegalStateException(
                            s"DDL parked, stopping the pipeline (repair via /ddl): [$db] $stmt — " +
                              g.failed.map(_.error).getOrElse(""))
                        if (stmt.nonEmpty) ddlApplied = Some((db, stmt))
                      }
                    }
                    if ((flags & 2) != 0) {
                      val b = new Array[Byte](in.readInt()); in.readFully(b)
                      batcher.offer((opType, b)).foreach { trx =>
                        producer.produceEncoded(trx.map(_._2)).foreach { m =>
                          val bytes = codec.encodeMessage(m)
                          topic match {
                            case Some(client) =>
                              // the produce() return IS this append's ack
                              // (post-append hwm), so hwm-1 here is the
                              // offset of the message we just sent
                              ackedOffset = client.produce(bytes) - 1
                            case None => wireW.foreach { w =>
                              w.write(Base64.getEncoder.encodeToString(bytes))
                              w.write('\n')
                            }
                          }
                          st.wireMessages += 1
                        }
                      }
                    }
                    if ((flags & 4) != 0) {
                      val name = rstr(); val pos = in.readLong(); val sid = in.readLong()
                      val gset = if (in.readBoolean()) Some(Gset.parse(rstr())) else None
                      val prog = Progress(Position(name, pos, sid), gset)
                      if (inJson) lastJsonProg = Some(prog)
                      if ((flags & 2) != 0) {
                        lastWireProg = Some(prog)
                        wireAckedSeq = producer.currentSeq
                        wireAckedOffset = ackedOffset
                      }
                      // the reference's ExecAndPersist, keyed by the DDL's
                      // own position — but statement-level incremental
                      // (the reference's tracker.go:229-240 TODO): the DDL
                      // appends to the store's log, and only the cadence
                      // writes a full catalog snapshot. A /ddl/exec repair
                      // since the last snapshot forces a full one — the
                      // repair has no stream position, so only a snapshot
                      // can carry it across a restart.
                      for ((db, stmt) <- ddlApplied; store <- snapshots; g <- gate)
                        store.record(prog.pos, db, stmt,
                          g.tracker.getDatabases, g.tracker.snapshotCatalog,
                          forceSnapshot = g.consumeRepairFlag())
                    }
                  }
                }
              } finally in.close()
            }
            if (Files.exists(jseg)) {
              val inCh = java.nio.channels.FileChannel.open(jseg, StandardOpenOption.READ)
              try {
                var pos = 0L
                val sz = inCh.size()
                while (pos < sz) pos += inCh.transferTo(pos, sz - pos, jsonCh)
              } finally inCh.close()
            }
            Files.deleteIfExists(jseg); Files.deleteIfExists(wseg)
          }
        } finally { jsonCh.close(); wireW.foreach(_.close()) }

        // T1: progress advances only at transaction boundaries, per sink;
        // the broker-backed sink also records acked seq/offset (the
        // recovery scan's resume keys) from the per-message produce acks —
        // NOT a topic-hwm re-query, which would cover other writers'
        // messages under HA and skip them in the next recovery scan
        lastJsonProg.foreach(p => ckpMgr.update("stdout", Checkpoint(p)))
        lastWireProg.foreach { p =>
          val base = Checkpoint(p)
          ckpMgr.update("wire", topic match {
            case Some(_) => base
              .withIntCtx("acked_seq", wireAckedSeq)
              .withIntCtx("acked_offset", wireAckedOffset)
            case None => base
          })
        }
        if (lastJsonProg.isDefined || lastWireProg.isDefined)
          ckpMgr.persist()
      }
      .start()
    (query, st)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

  /** One partition's render for [[startSinks]]: decode each (seq_no,
    * log_name, op_wire) row, apply F1 and the per-sink F2/F3 predicates,
    * and write the partition's json/wire segment pair. A named class, not
    * a closure, so submitting it skips Spark's closure cleaning. */
  private final class RenderPartition(segPrefix: String,
      globalF: CanalTableFilter, jsonF: CanalTableFilter, wireF: CanalTableFilter,
      stdoutCkp: Progress, wireCkp: Progress)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {

    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Unit = {
      val pid = ctx.partitionId()
      def seg(kind: String, tmp: Boolean): Path =
        Paths.get(segPrefix, f"$kind-$pid%05d" + (if (tmp) ".tmp" else ""))
      val jw = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        Files.newOutputStream(seg("json", tmp = true)), UTF_8), 1 << 20)
      val ww = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(seg("wire", tmp = true)), 1 << 20))
      def wstr(s: String): Unit = { val b = s.getBytes(UTF_8); ww.writeInt(b.length); ww.write(b) }
      it.foreach { row =>
        val seqNo = row.getLong(0)
        val logName = row.getUTF8String(1).toString
        val wire = row.getBinary(2)
        val op = Wire.decodeOp(wire)
        // F1 global filter: row events of excluded tables drop, marker
        // ops pass (same truth table as ChangeStream.globalFilter)
        if (op.table.forall(t => globalF.matches(t.database, t.name))) {
          // F3 as a per-sink predicate; the stream-level restart dedup
          // is implied by min(stdout, wire)
          def above(ckp: Progress): Boolean =
            ckp.isZero || {
              val pos = Position(logName, op.header.logPos, op.header.serverId)
              pos.serverId != ckp.pos.serverId || pos.compare(ckp.pos) > 0
            }
          val inJson = above(stdoutCkp) &&
            op.table.forall(t => jsonF.matches(t.database, t.name))
          val inWire = above(wireCkp) &&
            op.table.forall(t => wireF.matches(t.database, t.name))
          if (inJson || inWire) {
            ww.writeLong(seqNo)
            var flags = 0
            if (inJson) flags |= 1
            if (inWire) flags |= 2
            if (op.progress.isDefined) flags |= 4
            ww.writeByte(flags)
            wstr(op.header.opType) // always present: drives A1 counters
            if (op.header.opType == OpType.Ddl) {
              // DDL payload for the driver's schema-gate replay (T7)
              wstr(op.database.getOrElse(""))
              wstr(op.statement.getOrElse(""))
            }
            if (inJson) { jw.write(OperationJson.render(op)); jw.write('\n') }
            if (inWire) { ww.writeInt(wire.length); ww.write(wire) }
            op.progress.foreach { p =>
              wstr(p.pos.name); ww.writeLong(p.pos.pos); ww.writeLong(p.pos.serverId)
              p.gset.map(_.toString) match {
                case Some(g) => ww.writeBoolean(true); wstr(g)
                case None => ww.writeBoolean(false)
              }
            }
          }
        }
      }
      jw.close(); ww.close()
      // atomic publish; idempotent under task retry
      Files.move(seg("json", tmp = true), seg("json", tmp = false),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.move(seg("wire", tmp = true), seg("wire", tmp = false),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}