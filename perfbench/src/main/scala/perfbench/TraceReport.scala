package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-layer numbers from the pipeline trace files (one per pipeline JVM). */
object TraceReport {
  private val mapper = new ObjectMapper()

  def pipeline(files: Seq[Path]): Map[String, Double] = {
    val docs = files.map(f => mapper.readTree(Files.readString(f)))
    def longs(n: JsonNode, k: String): Seq[Long] = n.get(k).elements().asScala.map(_.asLong).toSeq
    def sum(k: String): Double = docs.map(_.get(k).asDouble).sum
    // batches that read input: the empty polls between them are not micro-batches of work
    val batches = docs.flatMap(d => d.get("batches").elements().asScala)
      .filter(b => Option(b.get("numInputRows")).exists(_.asLong > 0))
    def phase(k: String): Seq[Double] = batches.map(b => Option(b.get(k)).map(_.asDouble).getOrElse(0.0))
    val addBatch = phase("addBatch")
    val trigger = phase("triggerExecution")
    val produces = docs.flatMap(longs(_, "produce_ns")).map(_ / 1000.0)
    val saves = docs.flatMap(longs(_, "ckp_save_ns")).map(_ / 1e6)
    def counter(k: String): Double = docs.map(_.get("counters").get(k).asDouble).sum
    Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.ops_per_batch_p50" -> Stats.median(phase("numInputRows")),
      "stream.trigger_ms_p50" -> Stats.median(trigger),
      "stream.latest_offset_ms_p50" -> Stats.median(phase("latestOffset")),
      "stream.wal_commit_ms_p50" -> Stats.median(phase("walCommit")),
      "stream.planning_ms_p50" -> Stats.median(phase("queryPlanning")),
      "stream.add_batch_ms_p50" -> Stats.median(addBatch),
      "stream.engine_overhead_ms" -> (trigger.sum - addBatch.sum),
      "render.tasks" -> sum("tasks"),
      "render.task_ms_sum" -> sum("task_ms"),
      "ordered.driver_ms_sum" -> (addBatch.sum - sum("job_ms")),
      "ckp.saves" -> saves.size.toDouble,
      "ckp.save_ms_sum" -> saves.sum,
      "kafka.produces" -> produces.size.toDouble,
      "kafka.produce_us_p50" -> Stats.median(produces),
      "counters.trx_total" -> counter("trx_total"),
      "counters.iud_total" -> counter("iud_total"),
      "counters.ddl_total" -> counter("ddl_total"),
      "counters.ops_emitted_total" -> sum("emitted"),
      "counters.wire_messages_total" -> sum("wire_messages"))
  }
}
