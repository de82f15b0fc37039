package graft.streaming

import graft.cdc._
import graft.streaming.ChangeStream._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Path, Paths}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** End-to-end pipeline tests (SURVEY.md §5 port strategy step 2): fixture →
  * MemoryStream → filters/dedup → sinks; restart emits no duplicates; the
  * mid-stream ALTER changes the downstream row schema; the Kafka-twin wire
  * file decodes back to the exact operation stream. */
class ReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("replay-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fixture = Paths.get("fixtures/canal_test.jsonl")

  private def freshDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("operation json round-trips the fixture lines") {
    Files.readAllLines(fixture).asScala.filter(_.trim.nonEmpty).foreach { line =>
      val op = OperationJson.parse(line)
      val op2 = OperationJson.parse(OperationJson.render(op))
      assert(op2 == op, s"round-trip mismatch for: $line")
    }
  }

  test("replay emits all ops; restart replays none (F3 dedup)") {
    val out = freshDir("replay1")
    val first = Replay.run(spark, fixture, out)
    assert(first.emitted == 12)
    assert(first.dropped == 0)
    assert(first.checkpoint.nonEmpty)

    // restart: the stream is re-sent from the beginning; checkpoint at 1260
    // drops everything at-or-below it
    val second = Replay.run(spark, fixture, out)
    assert(second.emitted == 0)
    assert(second.dropped == 12)

    val lines = Files.readAllLines(out.resolve("operations.jsonl")).asScala
    assert(lines.size == 12) // no duplicates appended
  }

  test("Spark's stream checkpoint is one fixed directory under outDir, " +
      "cleared at each start: a restart reads nothing from its offset log") {
    val out = freshDir("replayckp")
    assert(Replay.run(spark, fixture, out).emitted == 12)
    // a shorter fixture on the same outDir: resuming from the first run's
    // offset log (event_idx 12) would fail the source's position check
    val short = Files.createTempFile("short", ".jsonl")
    Files.write(short, Files.readAllLines(fixture).asScala.filter(_.trim.nonEmpty).take(5).asJava)
    val second = Replay.run(spark, short, out)
    assert(second.emitted == 0) // F3: all five are at or below the checkpoint
    def names(dir: Path): Vector[String] =
      Files.list(dir).iterator.asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toVector.sorted
    assert(names(out).filter(n => n.contains("checkpoint") || n.startsWith("temporary")) ==
      Vector("spark-checkpoint"))
    val offsets = out.resolve("spark-checkpoint").resolve("offsets")
    assert(names(offsets) == Vector("0"), "the second run's one batch only")
    assert(Files.readString(offsets.resolve("0")).contains("\"event_idx\":5"))
  }

  test("restart from mid-stream checkpoint emits only the tail") {
    val out = freshDir("replay2")
    // pre-seed the sink checkpoint at log_pos 602 (FIXTURES.md scenario b)
    val mgr = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
    mgr.update("stdout", Checkpoint(Progress("mysql-bin.000008", 602, 66693)))
    mgr.persist()

    val stats = Replay.run(spark, fixture, out)
    // ops with log_pos > 602: ddl(803), begin(850), insert(1020), commit(1061),
    // insert(1200), commit(1260) = 6
    assert(stats.emitted == 6)
    assert(stats.dropped == 6)
    val lines = Files.readAllLines(out.resolve("operations.jsonl")).asScala
    assert(OperationJson.parse(lines.head).opType == OpType.Ddl)
  }

  test("per-sink checkpoints: sinks at different positions replay different tails") {
    val out = freshDir("replay5")
    // stdout resumed at 602, wire sink fresh (zero) — the mux must give the
    // JSON sink only the tail while the wire sink replays everything
    val mgr = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
    mgr.update("stdout", Checkpoint(Progress("mysql-bin.000008", 602, 66693)))
    mgr.persist()

    val stats = Replay.run(spark, fixture, out)
    assert(stats.emitted == 6) // JSON sink: tail only
    val wire = Files.readAllLines(out.resolve("wire.b64l")).asScala
    val dec = new OperationDecoder
    val ops = wire.zipWithIndex.flatMap { case (b64, i) =>
      dec.feed(Base64.getDecoder.decode(b64), i.toLong).toSeq.flatMap(_.ops)
    }
    // wire sink: full stream (5 insert row-images, as in the fresh-run test)
    assert(ops.filter(_.opType == OpType.Insert).flatMap(_.rows).size == 5)

    // both sinks' checkpoints advanced to the end
    val mgr2 = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
    assert(mgr2.get("stdout").exists(_.progress.pos.pos == 1260))
    assert(mgr2.get("wire").exists(_.progress.pos.pos == 1260))
  }

  test("global F1 filter removes excluded tables' row events but keeps markers") {
    val out = freshDir("replay3")
    val stats = Replay.run(spark, fixture, out,
      includes = Seq("test\\..*"), excludes = Seq("mysql\\..*"))
    // the mysql.canal_test insert (log_pos 1200) is filtered; markers stay
    assert(stats.emitted == 11)
    val lines = Files.readAllLines(out.resolve("operations.jsonl")).asScala
    assert(!lines.exists(_.contains("\"database\":\"mysql\"")))
  }

  test("wire sink round-trips through the seq/fragment protocol") {
    val out = freshDir("replay4")
    Replay.run(spark, fixture, out)
    val wire = Files.readAllLines(out.resolve("wire.b64l")).asScala
    assert(wire.nonEmpty)
    val dec = new OperationDecoder
    val ops = wire.zipWithIndex.flatMap { case (b64, i) =>
      dec.feed(Base64.getDecoder.decode(b64), i.toLong).toSeq.flatMap(_.ops)
    }
    // every DML ends up in some produced transaction batch
    val insertRows = ops.filter(_.opType == OpType.Insert).flatMap(_.rows)
    assert(insertRows.size == 5) // 3 + 1 + 1 inserts' row images
    // order preserved: log positions non-decreasing
    val positions = ops.map(_.header.logPos)
    assert(positions == positions.sorted)
  }

  test("mid-stream DDL changes the tracked schema for subsequent inserts") {
    // replay the emitted stream into a SchemaTracker (the analytics edge)
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE test", "")
    tracker.execDdl("CREATE TABLE test.canal_test (id int PRIMARY KEY, content blob, name varchar(100))", "")
    val ops = Files.readAllLines(fixture).asScala.filter(_.trim.nonEmpty)
      .map(OperationJson.parse)

    var structBefore: Option[org.apache.spark.sql.types.StructType] = None
    var structAfter: Option[org.apache.spark.sql.types.StructType] = None
    ops.foreach { op =>
      op.opType match {
        case OpType.Insert if op.table.exists(_.database == "test") =>
          val st = TypeMapper.toStruct(tracker.getTableDef("test", "canal_test").get)
          if (structBefore.isEmpty) structBefore = Some(st) else structAfter = Some(st)
        case OpType.Ddl =>
          tracker.execDdl(op.statement.get, op.database.getOrElse(""))
        case _ => ()
      }
    }
    assert(structBefore.get.fieldNames.toVector == Vector("id", "content", "name"))
    assert(structAfter.get.fieldNames.toVector == Vector("id", "content", "name", "age"))
    assert(!structAfter.get("age").nullable)
  }

  test("in-stream DDL replays through the gate into the schema mirror (T7 wiring)") {
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE test", "")
    tracker.execDdl("CREATE TABLE test.canal_test (id int PRIMARY KEY, content blob, name varchar(100))", "")
    val gate = new DdlGate(tracker)
    val out = freshDir("replay-ddl-gate")
    val stats = Replay.run(spark, fixture, out, gate = Some(gate))
    assert(stats.emitted == 12)
    assert(!gate.isParked)
    // the fixture's mid-stream ALTER landed in the mirror, in stream order
    assert(tracker.getTableDef("test", "canal_test").get.columns.map(_.name) ==
      Vector("id", "content", "name", "age"))
  }

  test("DDL persists position-keyed schema snapshots; a restart restores " +
      "the catalog as of the resume position without any seed") {
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE test", "")
    tracker.execDdl("CREATE TABLE test.canal_test (id int PRIMARY KEY, content blob, name varchar(100))", "")
    val out = freshDir("replay-snap")
    val store = new graft.cdc.SchemaSnapshotStore(out.resolve("schema"))
    Replay.run(spark, fixture, out, gate = Some(new DdlGate(tracker)),
      snapshots = Some(store))
    // the mid-stream ALTER wrote a snapshot keyed by ITS position, with
    // the post-ALTER shape
    val positions = store.list()
    assert(positions.nonEmpty)
    val (_, _, defs) = store.load(positions.max((a: Position, b: Position) => a.compare(b))).get
    assert(defs.find(_.name == "canal_test").get.columns.map(_.name) ==
      Vector("id", "content", "name", "age"))

    // restart with a FRESH, UNSEEDED tracker: the snapshot store restores
    // the catalog at the resume position — the run that previously parked
    // ("unseeded mirror" test) now comes up with the right schema
    val fresh = new SchemaTracker
    val stats2 = Replay.run(spark, fixture, out, gate = Some(new DdlGate(fresh)),
      snapshots = Some(store))
    assert(stats2.emitted == 0) // F3: nothing re-emits
    assert(fresh.getTableDef("test", "canal_test").get.columns.map(_.name) ==
      Vector("id", "content", "name", "age"))

    // statement-level incremental restore: a LOG-ONLY DDL (cadence not
    // reached — deliberately recorded with an empty catalog, so only the
    // log can restore it) between the snapshot and the resume position
    // replays onto the restored snapshot at startup
    val snapPos = positions.max((a: Position, b: Position) => a.compare(b))
    store.record(Position(snapPos.name, snapPos.pos + 1, snapPos.serverId),
      "test", "ALTER TABLE test.canal_test ADD extra INT", Nil, Nil)
    val fresh2 = new SchemaTracker
    Replay.run(spark, fixture, out, gate = Some(new DdlGate(fresh2)),
      snapshots = Some(store))
    assert(fresh2.getTableDef("test", "canal_test").get.columns.map(_.name) ==
      Vector("id", "content", "name", "age", "extra"))
  }

  test("an unseeded schema mirror parks the gate and stops the pipeline") {
    val gate = new DdlGate(new SchemaTracker) // no seed: ALTER hits unknown table
    val out = freshDir("replay-ddl-park")
    val e = intercept[Exception] {
      Replay.run(spark, fixture, out, gate = Some(gate))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("DDL parked")), e.toString)
    assert(gate.isParked)
    assert(gate.failed.get.statement.startsWith("ALTER TABLE"))
  }

  test("stateful transaction grouping (flatMapGroupsWithState)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val lines = Files.readAllLines(fixture).asScala.filter(_.trim.nonEmpty)
    val envs = threadLogNames(lines.iterator.map(OperationJson.parse)).toVector
    val stream = MemoryStream[String]
    stream.addData(envs.map(e => s"${e.seqNo}\t${e.logName}\t${OperationJson.render(e.op)}"))
    val ds = stream.toDS().map { s =>
      val Array(seqNo, logName, json) = s.split("\t", 3)
      OpEnvelope(seqNo.toLong, logName, OperationJson.parse(json))
    }
    val q = transactions(ds).writeStream
      .outputMode("append").format("memory").queryName("trx").start()
    q.processAllAvailable()
    q.stop()
    val batches = spark.sql("SELECT * FROM trx").as[TrxBatch].collect().toVector
    // barriers: rotate(1) + commit(602) + ddl(803) + commit(1061) + commit(1260) = 5
    assert(batches.size == 5)
    assert(batches.forall(b => Seq(OpType.Commit, OpType.Ddl, OpType.Rotate)
      .contains(b.ops.last.opType)))
    val dml = batches.flatMap(_.ops).count(o =>
      Seq(OpType.Insert, OpType.Update, OpType.Delete).contains(o.opType))
    assert(dml == 4)
  }
}
