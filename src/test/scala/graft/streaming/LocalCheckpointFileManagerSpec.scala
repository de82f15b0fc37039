package graft.streaming

import graft.GraftSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import scala.jdk.CollectionConverters._

/** The fork-free checkpoint writer: atomic publish, Hadoop's
  * no-overwrite contract, cancel, crash-leftover names, delegation for
  * other file systems — and a real query resuming from the offset log it
  * wrote. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.builder(shufflePartitions = 2)
    .master("local[2]")
    .appName("local-ckp-manager-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  /** Exposes the log's protected file manager and batch-file filter. */
  private final class ProbeLog(dir: JPath) extends HDFSMetadataLog[String](spark, dir.toString) {
    def manager: CheckpointFileManager = fileManager
    def listsAsBatch(p: Path): Boolean = batchFilesFilter.accept(p)
  }

  private def write(out: java.io.OutputStream, s: String): Unit = out.write(s.getBytes(UTF_8))

  test("createAtomic publishes only at close, and leaves no temp file") {
    val dir = Files.createTempDirectory("lcfm-publish")
    val fm = manager(dir)
    val target = new Path(dir.resolve("0").toUri)
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    write(out, "v1\n{}")
    assert(!fm.exists(target), "visible before close")
    assert(names(dir).size == 1 && names(dir).head.startsWith(".0."))
    out.close()
    assert(names(dir) == Set("0"))
    assert(Files.readString(dir.resolve("0")) == "v1\n{}")
    // overwrite replaces in place
    val again = fm.createAtomic(target, overwriteIfPossible = true)
    write(again, "v2")
    again.close()
    assert(names(dir) == Set("0"))
    assert(Files.readString(dir.resolve("0")) == "v2")
    // creates missing parent directories, like Hadoop's create
    val nested = new Path(dir.resolve("state/0/1.delta").toUri)
    val n = fm.createAtomic(nested, overwriteIfPossible = true)
    write(n, "d"); n.close()
    assert(Files.readString(dir.resolve("state/0/1.delta")) == "d")
  }

  test("a no-overwrite create of an existing file raises Hadoop's " +
      "FileAlreadyExistsException and keeps the old bytes") {
    val dir = Files.createTempDirectory("lcfm-exists")
    val fm = manager(dir)
    val target = new Path(dir.resolve("7").toUri)
    val first = fm.createAtomic(target, overwriteIfPossible = false)
    write(first, "first"); first.close()
    val second = fm.createAtomic(target, overwriteIfPossible = false)
    write(second, "second")
    intercept[FileAlreadyExistsException](second.close())
    assert(Files.readString(dir.resolve("7")) == "first")
    assert(names(dir) == Set("7"))
  }

  test("cancel() leaves no file behind") {
    val dir = Files.createTempDirectory("lcfm-cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("3").toUri), overwriteIfPossible = false)
    write(out, "partial")
    out.cancel()
    out.close() // after cancel: a no-op, publishes nothing
    assert(names(dir).isEmpty)
  }

  test("HDFSMetadataLog writes through the session's manager and its " +
      "batch-file filter skips temp names") {
    val dir = Files.createTempDirectory("lcfm-log")
    val log = new ProbeLog(dir)
    assert(log.manager.isInstanceOf[LocalCheckpointFileManager])
    assert(log.add(0, "zero"))
    assert(log.add(1, "one"))
    // a crash between the temp write and the publish leaves this behind
    val leftover = dir.resolve(s".2.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(leftover, "torn")
    assert(!log.listsAsBatch(new Path(leftover.toUri)))
    assert(log.listsAsBatch(new Path(dir.resolve("1").toUri)))
    val reread = new ProbeLog(dir)
    assert(reread.listBatchesOnDisk.toSeq == Seq(0L, 1L))
    assert(reread.getLatest().contains((1L, "one")))
    assert(!reread.add(1, "again"), "an existing batch is never rewritten")
  }

  test("paths on other file systems delegate to Spark's FileContext manager") {
    val conf = new Configuration()
    conf.set(FaultyCommitLocalFs.ImplConfKey, FaultyCommitLocalFs.ImplClass)
    conf.set(FaultyCommitLocalFs.AbstractImplConfKey, FaultyCommitLocalFs.AbstractImplClass)
    val dir = Files.createTempDirectory("lcfm-other")
    val root = new Path(s"${FaultyCommitLocalFs.Scheme}://$dir")
    val fm = new LocalCheckpointFileManager(root, conf)
    val out = fm.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    write(out, "via hadoop")
    out.close()
    val in = fm.open(new Path(root, "0"))
    try assert(new String(in.readAllBytes(), UTF_8) == "via hadoop") finally in.close()
    // the local path in the same process still takes the java.nio writer
    val local = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    assert(!local.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    local.cancel()
  }

  test("a query restarted on a real checkpointLocation resumes from its offset log") {
    val lines = Files.readAllLines(Paths.get("fixtures/canal_test.jsonl")).asScala.toVector
    assert(lines.size == 12)
    val fixture = Files.createTempFile("lcfm-fixture", ".jsonl")
    Files.write(fixture, lines.take(8).asJava)
    val out = Files.createTempDirectory("lcfm-out").toString
    val ckp = Files.createTempDirectory("lcfm-ckp")
    def runOnce(): Seq[Long] = {
      val q = spark.readStream.format("binlog-replay")
        .option("path", fixture.toString).option("maxEventsPerTrigger", "3").load()
        .select("seq_no")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckp.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception)
      spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(runOnce() == (1L to 8L))
    assert(names(ckp.resolve("offsets")) == Set("0", "1", "2"))
    assert(names(ckp.resolve("commits")) == Set("0", "1", "2"))
    // the source grows; the restart reads its offset log and takes only
    // the new events — nothing re-emitted, nothing skipped
    Files.write(fixture, lines.asJava)
    assert(runOnce() == (1L to 12L))
    assert(names(ckp.resolve("offsets")) == Set("0", "1", "2", "3", "4"))
    val last = Files.readString(ckp.resolve("offsets/4"))
    assert(last.contains("\"event_idx\":12"), last)
  }
}
