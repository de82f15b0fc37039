package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The pre-configured session: native functions available from SQL with no
  * further registration, engine-critical confs set, caller overrides
  * honored. */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.builder(shufflePartitions = 4)
    .master("local[2]")
    .appName("graft-session-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native functions are registered via extensions") {
    assert(spark.sql("SELECT long_dot(array(1L,2L), array(3L,4L))")
      .collect()(0).getLong(0) === 11L)
    assert(spark.sql("SELECT interleave_bits(1L, 1L)")
      .collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT size(word_ngrams(array('a','b','c'), 2))")
      .collect()(0).getInt(0) === 2)
  }

  test("engine-critical confs are set, caller overrides win") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ===
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
  }
}
