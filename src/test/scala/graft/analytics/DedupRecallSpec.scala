package graft.analytics

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The recall gates on a corpus too small to hold a near-duplicate pair:
  * recall is undefined there, and the query must say so with NULL (what
  * the oracle SQL gives) instead of failing on ANSI DIVIDE_BY_ZERO. */
class DedupRecallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("dedup-recall-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("d12/d16 recall is NULL on a corpus with no truth pairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("recall-small").toString
    // every document's words are its own: no two share a shingle
    (1L to 40L).map(i => (i, (1 to 30).map(w => s"d${i}w$w").mkString(" "), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val d16 = graft.SparkEntry.queries("d16_dfcap_recall")(spark, dir).collect()
    assert(d16.map(_.getAs[Int]("df_cap")).toSeq == Seq(2, 4, 128))
    assert(d16.forall(r => r.getAs[Long]("n_truth") == 0L && r.isNullAt(r.fieldIndex("recall"))))

    val d12 = graft.SparkEntry.queries("d12_lsh_recall")(spark, dir).collect()
    assert(d12.length == 1)
    assert(d12.head.isNullAt(d12.head.fieldIndex("recall")))
    assert(d12.head.isNullAt(d12.head.fieldIndex("precision")))
  }
}
