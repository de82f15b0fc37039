package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** The library's front door: a SparkSession builder pre-configured with the
  * settings every deployment of this engine wants, so `GraftSession.builder()
  * .master(...).getOrCreate()` is a correct starting point at any scale.
  *
  * What it sets and why:
  *  - `spark.sql.extensions=graft.GraftExtensions` — the native functions
  *    (`word_ngrams`, `winnow_fingerprints`, `long_dot`, `interleave_bits`,
  *    `char_entropy`)
  *    registered in every session, SQL and DataFrame alike.
  *  - `spark.sql.session.timeZone=UTC` — all engine time arithmetic is
  *    epoch-exact; a session-local zone silently shifts window boundaries.
  *  - AQE on with coalescing and skew-join handling — runtime re-planning
  *    is the 100 TB default: post-shuffle partition sizing and skew splits
  *    need runtime statistics, not static guesses.
  *  - `spark.sql.shuffle.partitions` — caller-provided (defaults to 2×
  *    cores locally): the one knob with no universal value; the builder
  *    takes it as a parameter instead of hardcoding 200.
  *  - Parquet nanos-as-long — TIMESTAMP(NANOS) inputs (the events table;
  *    any nano-precision producer) read as exact longs instead of failing
  *    the vectorized reader.
  *  - `spark.sql.streaming.checkpointFileManagerClass` —
  *    [[graft.streaming.LocalCheckpointFileManager]]: streaming offset,
  *    commit and state files on local paths are published with java.nio
  *    (temp file + atomic rename) instead of Hadoop's local file system,
  *    which forks `chmod`/`readlink` per file without libhadoop (~95 ms of
  *    a ~213 ms live CDC trigger on 4 vCPUs). Other file systems keep
  *    Spark's manager.
  *
  * Callers can override anything afterwards — these are defaults, not
  * policy.
  */
object GraftSession {

  def builder(shufflePartitions: Int = 2 * Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** The conf key that switches every iterated-plan materialization from
    * `localCheckpoint` to RELIABLE `checkpoint`. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Eagerly materialize a frame and CUT ITS LINEAGE — the primitive every
    * iterated plan in the engine (p03/p15/p16/p21 contractions, BFS
    * levels, t21's BPE vocab loop, the d05 band-join build) uses between
    * iterations so plan depth and recompute cost stay O(1) per pass.
    *
    * Reliability seam: `localCheckpoint(true)` stores blocks only on
    * executors — fast, but Spark documents that a lost executor (spot
    * preemption, OOM kill) makes the job FAIL because the truncated
    * lineage cannot recompute the blocks. Invisible at local[32]; fatal
    * for an hours-long iterated job on a preemptible 1000-executor
    * cluster. So: when `spark.graft.checkpointDir` is set, this uses
    * reliable `checkpoint()` (blocks in fault-tolerant storage — HDFS/
    * object store — survive any executor loss; recovery is a re-read,
    * not a rerun); unset (local dev, tests, bench) it keeps the fast
    * executor-local path. Set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` alongside it
    * to GC checkpoint files whose frames have gone out of scope.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] = materializeCountedT(ds)._1

  /** [[materialize]] fused with the emptiness probe every iterated loop
    * needs: returns the materialized frame AND its row count, computed by
    * the same eager job that forces the checkpoint (Spark's eager
    * checkpoint already runs `count()` internally and discards the
    * result). One job per iteration instead of materialize + isEmpty —
    * the per-pass action budget of the contraction/BFS loops. The count
    * also lands on the LogicalRDD leaf as EXACT statistics (row count +
    * size), so planning over materialized frames broadcasts small ones
    * instead of treating every seam as unknown-huge (see
    * MaterializeBridge). Honors the same [[CheckpointDirKey]] reliability
    * seam as [[materialize]]. */
  def materializeCounted(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) =
    materializeCountedT(df)

  private def materializeCountedT[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val spark = ds.sparkSession
    val reliable = spark.conf.getOption(CheckpointDirKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set once
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        true
      case _ => false
    }
    org.apache.spark.sql.graft.MaterializeBridge.checkpointCounted(ds, reliable)
  }

  /** `import graft.GraftSession.MaterializeOps` → `df.materialized` reads
    * like the `localCheckpoint(true)` chains it replaces. */
  implicit class MaterializeOps[T](private val ds: Dataset[T]) extends AnyVal {
    def materialized: Dataset[T] = materialize(ds)
  }
}
