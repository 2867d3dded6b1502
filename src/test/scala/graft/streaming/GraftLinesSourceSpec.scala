package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** The graftlines DataSourceV2 streaming source (A13's in-container
  * seam): offset JSON roundtrip, per-partition slicing, the
  * engine-side commit() path (which Spark only drives on multi-batch
  * runs — batch n-1 commits when batch n starts), admission control,
  * and resume-from-offset-log through `startingOffsets`.
  */
class GraftLinesSourceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "graftlines-spec")


  private def writeSeg(dir: Path, topic: String, part: Int,
                       lines: Seq[String]): Unit =
    Files.write(dir.resolve(s"$topic-$part.log"),
      (lines.mkString("\n") + "\n").getBytes(UTF_8))

  test("offset JSON roundtrips and matches the Kafka startingOffsets shape") {
    val m = Map(("pub", 0) -> 12L, ("pub", 1) -> 7L, ("aud", 0) -> 3L)
    assert(GraftLines.parseOffsetsJson(GraftLines.toJson(m)) == m)
    assert(GraftLines.toJson(Map(("pub", 0) -> 12L, ("pub", 1) -> 7L)) ==
      """{"pub": {"0": 12, "1": 7}}""")
    // and the reference's offset-log mapping produces the same shape
    val fromLog = KafkaCdcSource.offsetLogToStartingOffsets(
      Seq("pub,0,0,12", "pub,1,3,7"))
    assert(GraftLines.parseOffsetsJson(fromLog) ==
      Map(("pub", 0) -> 12L, ("pub", 1) -> 7L))
  }

  test("multi-batch drive: admission control slices batches, commit() writes the reference-format log") {
    val seg = tempDir("gl-seg")
    val out = tempDir("gl-out")
    val ckpt = tempDir("gl-ckpt")
    val log = seg.resolve("offset.log").toString
    writeSeg(seg, "pub", 0, (0 until 10).map(i => s"a$i"))
    writeSeg(seg, "pub", 1, (0 until 10).map(i => s"b$i"))
    val q = spark.readStream.format("graftlines")
      .option("path", seg.toString)
      .option("commitLog", log)
      .option("maxLinesPerTrigger", "3")
      .load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    q.processAllAvailable(); q.stop()
    // every line exactly once, with its (partition, offset) identity
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() == 20)
    assert(rows.select("partition", "offset").distinct().count() == 20)
    assert(rows.filter(col("line") === "b7").select("partition", "offset")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 7L)))
    // 3 lines/partition/batch over 10 lines = 4 batches (0..3); Spark
    // commits batch n-1 as batch n starts, so the engine-side log
    // must have reached batch 2 (6..9): from = the batch's start
    // (per-batch, same meaning as OffsetLogListener), until = 9
    val logged = Files.readAllLines(Paths.get(log)).asScala.toSeq
    assert(logged == Seq("pub,0,6,9", "pub,1,6,9"),
      s"commit log: $logged")
  }

  test("resume-from-offset-log consumes exactly the uncommitted tail") {
    val seg = tempDir("gl2-seg")
    val out = tempDir("gl2-out")
    val ckpt = tempDir("gl2-ckpt")
    writeSeg(seg, "pub", 0, (0 until 6).map(i => s"a$i"))
    writeSeg(seg, "pub", 1, (0 until 6).map(i => s"b$i"))
    // a stored log says lines < 4 (p0) / < 2 (p1) are already consumed
    val starting = KafkaCdcSource.offsetLogToStartingOffsets(
      Seq("pub,0,0,4", "pub,1,0,2"))
    val q = spark.readStream.format("graftlines")
      .option("path", seg.toString)
      .option("startingOffsets", starting)
      .load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(out.toString)
      .select("line").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("a4", "a5", "b2", "b3", "b4", "b5"))
  }

  test("the offset cursor reads only appended bytes and always equals countLines") {
    import GraftLines.LineCursor
    val seg = tempDir("gl-cursor").resolve("pub-0.log")
    var c = LineCursor(0L, 0L)
    def append(s: String): Unit =
      Files.write(seg, s.getBytes(UTF_8), java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    def step(): LineCursor = {
      c = GraftLines.advance(seg, c)
      assert(c.lines == GraftLines.countLines(seg), s"cursor $c")
      c
    }
    append("a\nb\n")
    assert(step() == LineCursor(2L, 4L))
    // an append that ends mid-line: the partial line is not counted,
    // and the cursor stays after the last newline
    append("c\nd")
    assert(step() == LineCursor(3L, 6L))
    assert(step() == LineCursor(3L, 6L), "no append, no change")
    append("dd\n")
    assert(step() == LineCursor(4L, 10L))
    // appends that cross the 64 KiB read buffer, lines of every length
    val rng = new scala.util.Random(3)
    (0 until 40).foreach { _ =>
      append(Seq.fill(rng.nextInt(5))("x" * rng.nextInt(40000) + "\n").mkString +
        "y" * rng.nextInt(3))
      step()
    }
    assert(c.bytes <= Files.size(seg))
    // a file shorter than its cursor was rewritten: counted from byte 0
    Files.write(seg, "z\n".getBytes(UTF_8))
    assert(step() == LineCursor(1L, 2L))
  }
}
