package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** C70 q_memorization — directed semantics on a constructed corpus:
  * full-copy evals read their whole length, partial overlaps read the
  * overlap run + W-1, short/novel docs read 0.
  */
class MemorizationSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "memorization-spec")

  test("longest memorized span: full copy, partial overlap, novel, short") {
    import spark.implicits._
    val dir = tempDir("mem-spec")
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    // doc_id % 10 == 0 -> eval; else train
    val train1 = words("t", 40)                    // 40 shared tokens
    val rows = Seq(
      (1L, train1, "src1", "en"),                  // train: the source
      (3L, words("u", 40), "src1", "en"),          // train: unrelated
      (10L, train1, "src0", "en"),                 // eval: FULL copy -> 40
      // eval: 12-token overlap (t1..t12) then novel tail -> run of
      // 12-8+1 = 5 matching 8-grams -> span 5 + 7 = 12
      (20L, words("t", 12) + " " + words("x", 20), "src0", "en"),
      (30L, words("z", 30), "src0", "en"),         // eval: novel -> 0
      (40L, words("t", 5), "src0", "en"))          // eval: under W -> 0
      .toDF("doc_id", "text", "source", "lang")
      .withColumn("n_chars", length(col("text")).cast("int"))
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the other tables aren't read by this query; documents suffices
    val m = CorpusQueries.queries("q_memorization")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(10L) == ((40L, 40L)))
    assert(m(20L) == ((32L, 12L)))
    assert(m(30L) == ((30L, 0L)))
    assert(m(40L) == ((5L, 0L)))
    assert(m.size == 4)
  }
}
