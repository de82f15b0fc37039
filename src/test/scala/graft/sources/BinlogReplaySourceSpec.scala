package graft.sources

import graft.cdc.Wire
import graft.streaming.OperationJson
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** DSv2 binlog-replay source (S1): offset model, micro-batching, restart
  * from the checkpoint WAL, pushdown. */
class BinlogReplaySourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val fixture = "fixtures/canal_test.jsonl"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("binlog-replay-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("batch read: all events, in binlog order, with threaded log names") {
    val df = spark.read.format("binlog-replay").option("path", fixture).load()
    val rows = df.orderBy("seq_no").collect()
    assert(rows.length === 12)
    assert(rows.map(_.getAs[Long]("seq_no")).toSeq === (1L to 12L))
    // rotate threads the log name into every subsequent event
    assert(rows.drop(1).forall(_.getAs[String]("log_name") == "mysql-bin.000008"))
    val types = rows.map(_.getAs[String]("op_type")).toSeq
    assert(types.head === "rotate")
    assert(types.count(_ == "insert") >= 1)
    // op_wire is the exact encoding of the fixture line's operation
    val fixtureOps = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(fixture))
      .toArray.map(_.toString.trim).filter(_.nonEmpty).map(OperationJson.parse).toSeq
    assert(rows.map(r => Wire.decodeOp(r.getAs[Array[Byte]]("op_wire"))).toSeq == fixtureOps)
  }

  test("filter pushdown: header predicates reach the scan") {
    val df = spark.read.format("binlog-replay").option("path", fixture).load()
      .filter(col("op_type") === "insert")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(op_type,insert)"), s"pushdown missing in:\n$plan")
    assert(df.collect().forall(_.getAs[String]("op_type") == "insert"))
  }

  test("micro-batch: maxEventsPerTrigger splits the replay; offsets carry progress") {
    val out = Files.createTempDirectory("replay-src-out").toFile.getAbsolutePath
    val ckp = Files.createTempDirectory("replay-src-ckp").toFile.getAbsolutePath
    val q = spark.readStream.format("binlog-replay")
      .option("path", fixture).option("maxEventsPerTrigger", "5").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.count() === 12)
    // 12 events at 5/trigger => 3 micro-batches in the WAL
    val offsets = new java.io.File(s"$ckp/offsets").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(offsets.length === 3, s"expected 3 batches, got ${offsets.toSeq}")
    // committed offset JSON carries the binlog position axis
    val last = Files.readAllLines(
      java.nio.file.Paths.get(s"$ckp/offsets/${offsets.last}")).toArray.mkString("\n")
    assert(last.contains("\"event_idx\":12") && last.contains("mysql-bin.000008"), last)
  }

  test("restart from checkpoint re-emits nothing") {
    val out = Files.createTempDirectory("replay-rs-out").toFile.getAbsolutePath
    val ckp = Files.createTempDirectory("replay-rs-ckp").toFile.getAbsolutePath
    def runOnce(): Long = {
      val q = spark.readStream.format("binlog-replay")
        .option("path", fixture).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() === 12)
    assert(runOnce() === 12) // second run resumes at event_idx=12: no dupes
  }

  test("restart against a regenerated fixture fails fast, not silently misreplays") {
    val out = Files.createTempDirectory("replay-rg-out").toFile.getAbsolutePath
    val ckp = Files.createTempDirectory("replay-rg-ckp").toFile.getAbsolutePath
    def runOnce(path: String): Unit = {
      val q = spark.readStream.format("binlog-replay")
        .option("path", path).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce(fixture)
    // "regenerate" the fixture with an event INSERTED up front: every
    // checkpointed event index now points at a different binlog position
    val lines = Files.readAllLines(java.nio.file.Paths.get(fixture))
    val regen = Files.createTempFile("regen", ".jsonl")
    Files.write(regen, (Seq(lines.get(0)) ++ lines.toArray.toSeq.map(_.toString)).mkString("\n").getBytes)
    val e = intercept[Exception] { runOnce(regen.toString) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("was the fixture regenerated")),
      causes(e).mkString(" | "))
  }
}
