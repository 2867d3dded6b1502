package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A13's last testable mile in this container: a DataSourceV2
  * STREAMING source (`format("graftlines")`) serving a Kafka-shaped
  * change-line stream from local segment files — one file per
  * (topic, partition), offset = line number — through the REAL
  * Structured Streaming offset interfaces:
  *
  *  - `startingOffsets` takes the same JSON assignment the Kafka
  *    source takes, which is exactly what
  *    [[KafkaCdcSource.offsetLogToStartingOffsets]] produces from the
  *    reference's stored `topic,partition,from,until` lines
  *    [ref: ZookeeperManager.scala:104-146, files/offset.log];
  *  - `commitLog` (optional) writes that same reference-format line
  *    file on every batch commit — the zk/local-file offset
  *    persistence of the reference's driver loop
  *    [ref: ConsumerMain.scala:128-151] — so a NEW query can resume
  *    from the stored log alone, without the previous checkpoint
  *    (the ReadByAssignOffset recovery path
  *    [ref: ReadByAssignOffset.scala:57-61]).
  *
  * The spark-sql-kafka jar cannot be loaded here (offline resolver),
  * so this source stands in for the broker: same schema shape
  * (line/topic/partition/offset vs value/topic/partition/offset),
  * same offset arithmetic, same resume semantics. On a real cluster
  * [[KafkaCdcSource.readChangeLines]] is the thin format swap.
  */
object GraftLines {
  val Schema: StructType = StructType(Seq(
    StructField("line", StringType, nullable = true),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  /** Segment files `<dir>/<topic>-<partition>.log`, sorted. */
  def segments(dir: String): Seq[(String, Int, java.nio.file.Path)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".log") &&
        p.getFileName.toString.lastIndexOf('-') > 0)
      .flatMap { p =>
        val stem = p.getFileName.toString.stripSuffix(".log")
        val cut = stem.lastIndexOf('-')
        scala.util.Try(
          (stem.substring(0, cut), stem.substring(cut + 1).toInt, p)).toOption
      }.toVector.sortBy(t => (t._1, t._2))
    finally s.close()
  }

  /** Line count = next offset to produce (files end each record with
    * a newline, the text-writer convention).
    */
  def countLines(p: java.nio.file.Path): Long = advance(p, LineCursor(0L, 0L)).lines

  /** A segment's line count and the byte offset just past its last
    * newline, where the next count resumes.
    */
  final case class LineCursor(lines: Long, bytes: Long)

  /** `c` advanced over the bytes appended to `p` since `c` was taken:
    * only those bytes are read. A partial last line is left for the
    * next call.
    *
    * Segments are append-only: a writer adds lines at the end and never
    * rewrites what a reader may already have counted (a line offset,
    * once served, names the same record forever). So the one rewrite
    * this checks for is a file shorter than the cursor, counted again
    * from its first byte; a rewrite that leaves the file at least as
    * long as the cursor breaks that contract and is not detected.
    */
  def advance(p: java.nio.file.Path, c: LineCursor): LineCursor = {
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
    try {
      val from = if (ch.size() < c.bytes) LineCursor(0L, 0L) else c
      ch.position(from.bytes)
      val buf = java.nio.ByteBuffer.allocate(64 * 1024)
      val bytes = buf.array()
      var lines = from.lines
      var end = from.bytes
      var pos = from.bytes
      var r = ch.read(buf)
      while (r > 0) {
        var i = 0
        while (i < r) {
          if (bytes(i) == '\n') { lines += 1; end = pos + i + 1 }
          i += 1
        }
        pos += r
        buf.clear()
        r = ch.read(buf)
      }
      LineCursor(lines, end)
    } finally ch.close()
  }

  /** The Kafka-source offset JSON: `{"topic": {"0": 12, "1": 7}}`. */
  def toJson(parts: Map[(String, Int), Long]): String =
    parts.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (topic, ps) =>
      val inner = ps.toSeq.sortBy(_._1._2)
        .map { case ((_, p), off) => s""""$p": $off""" }.mkString(", ")
      s""""$topic": {$inner}"""
    }.mkString("{", ", ", "}")

  def parseOffsetsJson(s: String): Map[(String, Int), Long] = {
    val topicRe = """"([^"]+)"\s*:\s*\{([^}]*)\}""".r
    val partRe = """"(\d+)"\s*:\s*(-?\d+)""".r
    topicRe.findAllMatchIn(s).flatMap { m =>
      val topic = m.group(1)
      partRe.findAllMatchIn(m.group(2)).map(pm =>
        (topic, pm.group(1).toInt) -> pm.group(2).toLong)
    }.toMap
  }
}

class GraftLinesProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlines"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLines.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftLinesTable(new CaseInsensitiveStringMap(properties))
}

class GraftLinesTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graftlines(${options.get("path")})"
  override def schema(): StructType = GraftLines.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftLines.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftLinesStream(
          Option(options.get("path")).getOrElse(
            throw new IllegalArgumentException("graftlines needs option 'path'")),
          Option(options.get("startingOffsets")).getOrElse("earliest"),
          Option(options.get("commitLog")),
          Option(options.get("maxLinesPerTrigger")).map(_.toLong))
    }
}

case class GraftLinesOffset(parts: Map[(String, Int), Long]) extends Offset {
  override def json(): String = GraftLines.toJson(parts)
}

class GraftLinesStream(path: String, startingOffsets: String,
                       commitLog: Option[String],
                       maxLinesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private lazy val initial: GraftLinesOffset =
    if (startingOffsets.trim.equalsIgnoreCase("earliest"))
      GraftLinesOffset(GraftLines.segments(path)
        .map { case (t, p, _) => (t, p) -> 0L }.toMap)
    else GraftLinesOffset(GraftLines.parseOffsetsJson(startingOffsets))

  override def initialOffset(): Offset = initial

  /** Per segment, where the last count stopped: a trigger reads only
    * the bytes appended since, not the whole segment again.
    */
  private val cursors =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, GraftLines.LineCursor]()

  private def latestAvailable(): GraftLinesOffset =
    GraftLinesOffset(GraftLines.segments(path).map { case (t, p, f) =>
      (t, p) -> cursors.compute(f, (_, c) =>
        GraftLines.advance(f, Option(c).getOrElse(GraftLines.LineCursor(0L, 0L)))).lines
    }.toMap)

  override def latestOffset(): Offset = latestAvailable()

  /** The backpressure knob — the twin of the reference's
    * maxRatePerPartition [ref: ConsumerMain.scala:36-39] and of the
    * Kafka source's maxOffsetsPerTrigger: `maxLinesPerTrigger` caps
    * each partition's PER-BATCH advance, so a backlog drains in
    * bounded micro-batches instead of one giant batch.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxLinesPerTrigger.map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = latestAvailable().parts
    val s = start.asInstanceOf[GraftLinesOffset].parts
    limit match {
      case _: ReadAllAvailable => GraftLinesOffset(avail)
      case r: ReadMaxRows =>
        GraftLinesOffset(avail.map { case (k, until) =>
          k -> math.min(until, s.getOrElse(k, 0L) + r.maxRows()) })
      case _ => GraftLinesOffset(avail)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftLinesOffset(GraftLines.parseOffsetsJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLinesOffset].parts
    val e = end.asInstanceOf[GraftLinesOffset].parts
    val files = GraftLines.segments(path)
      .map { case (t, p, f) => (t, p) -> f.toString }.toMap
    e.toSeq.sortBy { case ((t, p), _) => (t, p) }.flatMap { case ((t, p), until) =>
      val from = s.getOrElse((t, p), 0L)
      if (until > from)
        Some(GraftLinesPartition(files((t, p)), t, p, from, until): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftLinesReaderFactory

  /** The reference-format offset persistence: one
    * `topic,partition,from,until` line per partition — rewritten
    * atomically per batch, the way the reference updates its znodes /
    * local file after every batch. `from` = the batch's start (the
    * previous commit this stream instance saw, falling back to the
    * run's starting offset), `until` = the committed end — the SAME
    * per-batch meaning [[OffsetLogListener]] writes, so the two
    * writers of this format agree on all three columns. Resume reads
    * only `until` ([[KafkaCdcSource.offsetLogToStartingOffsets]]), so
    * `from` is purely diagnostic.
    */
  @volatile private var lastCommitted: Map[(String, Int), Long] = Map.empty

  override def commit(end: Offset): Unit = commitLog.foreach { lp =>
    val e = end.asInstanceOf[GraftLinesOffset].parts
    val prev = if (lastCommitted.nonEmpty) lastCommitted else initial.parts
    val lines = e.toSeq.sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), u) =>
        s"$t,$p,${prev.getOrElse((t, p), 0L)},$u" }
    // tmp name unique per (process, thread): the listener-bus twin
    // below may write the same logPath concurrently.
    val tmp = Paths.get(lp + ".tmp-" + ProcessHandle.current().pid() +
      "_" + Thread.currentThread().getId)
    Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    Files.move(tmp, Paths.get(lp), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    lastCommitted = e
  }

  override def stop(): Unit = ()

  /** Shown as SourceProgress.description — the handle
    * [[OffsetLogListener]] filters on.
    */
  override def toString: String = s"graftlines($path)"
}

case class GraftLinesPartition(file: String, topic: String, partition: Int,
                               from: Long, until: Long) extends InputPartition

/** The DRIVER-side per-batch offset persistence — the reference's
  * ConsumerMain loop stores each batch's offset ranges to zk + local
  * file AFTER processing it [ref: ConsumerMain.scala:128-151,
  * ZookeeperManager.scala:104-146]; the Structured Streaming twin is
  * a StreamingQueryListener (the RateListener/A12 pattern) writing
  * the same `topic,partition,from,until` lines from each batch's
  * progress event. This complements [[GraftLinesStream.commit]]
  * (the engine-side interface): Spark only commits batch n-1 when
  * batch n starts, so a drained-and-stopped query's LAST batch is
  * visible only here — exactly why the reference keeps its own
  * offset store instead of relying on Kafka's commit.
  *
  * `matches` filters progress events to one source — by exact DSv2
  * table name (`graftlines(<path>)`) for in-repo streams, or by the
  * `Kafka` description prefix via [[OffsetLogListener.kafka]] for
  * [[graft.KafkaCdcMain]]. An exact table name identifies ONE query
  * per path, but the `Kafka` prefix would match EVERY Kafka query in
  * the session (ADVICE r14) — two of them would clobber each other's
  * offset.log (replace-not-append), and resumeSeed would then seed
  * wrong startingOffsets on a fresh checkpoint. So `latchQuery`
  * (what the kafka form sets) binds the listener to the FIRST
  * matching query that reports progress and ignores every other
  * query id for the listener's lifetime: one log file, one owner.
  * Replace-not-append is correct for both sources: every progress
  * event's endOffset carries the FULL assignment state (all
  * partitions, idle ones at from==until), so the last batch's lines
  * are always the complete consumed frontier.
  */
final class OffsetLogListener(matches: String => Boolean, logPath: String,
                              latchQuery: Boolean = false)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  /** Exact-description form (the graftlines gates' constructor). */
  def this(sourceDesc: String, logPath: String) =
    this((d: String) => d == sourceDesc, logPath)

  // the owning query's id once latched (latchQuery form only):
  // first-progress-wins CAS, so concurrent first batches of two
  // matching queries admit exactly one owner
  private val owner =
    new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()

  /** Does this progress event's query own the log file? Pure latch
    * logic, unit-testable without fabricating progress events.
    */
  private[streaming] def admits(queryId: java.util.UUID): Boolean =
    !latchQuery || owner.compareAndSet(null, queryId) || owner.get == queryId

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit =
    if (!admits(event.progress.id)) () else event.progress.sources
      .filter(s => Option(s.description).exists(matches) && s.endOffset != null)
      .foreach { s =>
        val lines = OffsetLogListener.offsetLines(
          Option(s.startOffset).getOrElse("{}"), s.endOffset)
        try {
          val tmp = Paths.get(logPath + ".tmp-" + ProcessHandle.current().pid() +
            "_" + Thread.currentThread().getId)
          Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(UTF_8))
          Files.move(tmp, Paths.get(logPath), StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        } catch { case _: Exception => () } // a broken sink must not kill the bus
      }
}

object OffsetLogListener {

  /** Kafka form for [[graft.KafkaCdcMain]]: the Kafka source's
    * progress description starts with "Kafka" (vs the DSv2 table
    * name match above). Because that prefix matches ANY Kafka query
    * in the session, this form latches onto the first query that
    * reports progress and ignores all others (see the class doc) —
    * a second Kafka query needs its own listener + log path.
    */
  def kafka(logPath: String): OffsetLogListener =
    new OffsetLogListener((d: String) => d.startsWith("Kafka"), logPath,
      latchQuery = true)

  /** Pure core (unit-testable without a broker): one batch's
    * start/end offset JSON (`{"topic":{"0":123,…}}` — the format the
    * graftlines source shares with Kafka's) → reference-format
    * `topic,partition,from,until` lines. A partition absent from the
    * start map (first batch after subscribe) logs from 0, matching
    * the reference's fromBeginning bootstrap. Malformed JSON parses
    * to no entries — log nothing rather than a line a resume would
    * trip on.
    */
  def offsetLines(startJson: String, endJson: String): Seq[String] = {
    val from = GraftLines.parseOffsetsJson(startJson)
    GraftLines.parseOffsetsJson(endJson).toSeq
      .sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), u) => s"$t,$p,${from.getOrElse((t, p), 0L)},$u" }
  }
}

object GraftLinesReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftLinesPartition]
    new PartitionReader[InternalRow] {
      private val reader = Files.newBufferedReader(Paths.get(gp.file), UTF_8)
      private var pos = 0L
      // skip to the partition's from offset
      while (pos < gp.from && reader.readLine() != null) pos += 1
      private var current: String = _
      override def next(): Boolean =
        if (pos >= gp.until) false
        else { current = reader.readLine(); pos += 1; current != null }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(current), UTF8String.fromString(gp.topic),
        gp.partition, pos - 1))
      override def close(): Unit = reader.close()
    }
  }
}
