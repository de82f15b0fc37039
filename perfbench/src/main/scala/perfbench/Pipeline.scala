package perfbench

import graft.GraftSession
import graft.cdc._
import graft.streaming.Replay
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The pipeline under test, in its own JVM: `Replay.runLive` over the
  * `binlog-live` source, the wire sink producing into the benchmark's broker
  * on the magic-2 `kafka2://` dialect with the audit table filtered out, and
  * the file checkpoint store. Runs until killed.
  *
  * Each `gc` line on stdin runs a full collection and answers `live <MiB>`,
  * the heap left in use right after it. With a trace file it also attaches
  * a streaming-query listener and a Spark listener, times checkpoint saves
  * and produces through the public plug points (`ckpStorage` and a
  * registered topic dialect), and rewrites the trace file after every
  * micro-batch.
  *
  * Usage: Pipeline <host> <port> <broker host:port> <out dir> <schema.sql> <trace file | ->
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(host, port, broker, outDir, schemaSql, traceOut) = args
    LiveHeap.serveStdin()
    val spark = Session.build("perfbench-pipeline", Paths.get(outDir))
    val tracker = new SchemaTracker
    Files.readAllLines(Paths.get(schemaSql)).forEach(s => if (s.trim.nonEmpty) tracker.execDdl(s.trim, ""))
    val counters = new graft.metrics.Counters
    val trace = if (traceOut == "-") None else Some(new PipelineTrace(spark, counters, Paths.get(traceOut)))
    val storage: CkpStorage = new FileCkpStorage(Paths.get(outDir, "ckp"))
    val live = Replay.runLive(spark, host, port.toInt, "repl", "", serverId = 1001,
      outDir = Paths.get(outDir),
      counters = counters,
      gate = Some(new DdlGate(tracker)),
      ckpStorage = Some(trace.map(_.timed(storage)).getOrElse(storage)),
      sinkFilters = Map("wire" ->
        CanalTableFilter(Seq(s"${Traffic.Db}\\..*"), Seq(s"${Traffic.Db}\\.audit"))),
      schemaSql = Some(schemaSql),
      topicAddr = Some(trace.map(_.dialect).getOrElse("kafka2://") + s"$broker/${CdcRun.Topic}"))
    trace.foreach(_.attach(live))
    live.query.awaitTermination()
  }
}

/** Sessions the benchmark runs are built the way the engine ships them. */
object Session {
  def build(app: String, work: Path): SparkSession = {
    val spark = GraftSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Heap in use right after a full collection: the live set, at the points
  * the benchmark chooses (a collection's timing would otherwise decide how
  * much garbage a reading includes). */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def serveStdin(): Unit = {
    val t = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      var line = in.readLine()
      while (line != null) {
        if (line.trim == "gc") { val v = mb(); println(s"live $v"); System.out.flush() }
        line = in.readLine()
      }
    }, "live-heap")
    t.setDaemon(true)
    t.start()
  }
}

/** Per-micro-batch phase durations, task and job time, checkpoint saves and
  * produce times, kept in memory and written out as one JSON object. */
final class PipelineTrace(spark: SparkSession, counters: graft.metrics.Counters, out: Path) {
  private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var tasks = 0L
  private var taskMs = 0L
  private var jobMs = 0L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val saveNs = mutable.ArrayBuffer.empty[Long]
  private val produceNs = mutable.ArrayBuffer.empty[Long]
  @volatile private var live: Option[Replay.LiveRun] = None

  val dialect = "tkafka2://"
  TopicLike.registerDialect(dialect, addr => new TimedTopic(TopicLike.connect("kafka2://" + addr.stripPrefix(dialect))))

  private final class TimedTopic(t: TopicLike) extends TopicLike {
    def highWaterMark(): Long = t.highWaterMark()
    override def logStartOffset(): Long = t.logStartOffset()
    def produce(msg: Array[Byte]): Long = {
      val t0 = System.nanoTime(); val r = t.produce(msg)
      val dt = System.nanoTime() - t0
      PipelineTrace.this.synchronized(produceNs += dt)
      r
    }
    def fetchFrom(fromOffset: Long): Vector[(Long, Array[Byte])] = t.fetchFrom(fromOffset)
    override def fetchPage(fromOffset: Long, maxMessages: Int): Vector[(Long, Array[Byte])] =
      t.fetchPage(fromOffset, maxMessages)
    override def close(): Unit = t.close()
  }

  def timed(s: CkpStorage): CkpStorage = new CkpStorage {
    def save(data: Array[Byte]): Unit = {
      val t0 = System.nanoTime(); s.save(data)
      val dt = System.nanoTime() - t0
      PipelineTrace.this.synchronized(saveNs += dt)
    }
    def load(): Option[Array[Byte]] = s.load()
  }

  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      PipelineTrace.this.synchronized(batches += d + ("numInputRows" -> e.progress.numInputRows))
      write()
    }
  })
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = PipelineTrace.this.synchronized {
      tasks += 1
      if (e.taskMetrics != null) taskMs += e.taskMetrics.executorRunTime
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      PipelineTrace.this.synchronized(jobStart(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = PipelineTrace.this.synchronized {
      jobStart.remove(e.jobId).foreach(t => jobMs += e.time - t)
    }
  })
  sys.addShutdownHook(write())

  def attach(l: Replay.LiveRun): Unit = live = Some(l)

  def write(): Unit = synchronized {
    def arr(xs: Iterable[Long]) = xs.mkString("[", ",", "]")
    val b = batches.map(m => m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    val c = counters.snapshot.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"batches":${b.mkString("[", ",", "]")},"tasks":$tasks,"task_ms":$taskMs,"job_ms":$jobMs,""" +
        s""""ckp_save_ns":${arr(saveNs)},"produce_ns":${arr(produceNs)},"counters":{$c},""" +
        s""""emitted":${live.map(_.emitted).getOrElse(0L)},"wire_messages":${live.map(_.wireMessages).getOrElse(0L)}}"""
    val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
