package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: run → phase → call → Spark job. Times are
  * `System.nanoTime`; `parent` is 0 for the run span.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long)

/** Counts Spark attributes to one job, summed over its tasks. */
final class JobCounts {
  @volatile var stages: Set[Int] = Set.empty
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong // read + write
  val spillBytes = new AtomicLong   // memory + disk
  val outputBytes = new AtomicLong
}

final case class JobRec(jobId: Int, parentSpan: Long, batchId: Long,
                        startNs: Long, @volatile var endNs: Long,
                        counts: JobCounts)

/** The benchmark's tracer. Disabled, `span` only runs its body: no
  * listener is attached and nothing is recorded, so untraced runs
  * measure the program alone.
  *
  * Call spans set the Spark local property [[SpanProperty]] around
  * their body; the listener parents each job on that property, or on
  * Structured Streaming's `streaming.sql.batchId` for jobs a
  * micro-batch runs (those are parented on the batch spans the
  * workload adds from the query's progress reports).
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val SpanProperty = "graftbench.span"
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val batchSpans = new ConcurrentHashMap[Long, Long]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private var sc: SparkContext = _

  val runSpan: Long = newId()
  private val runStart = System.nanoTime()

  def newId(): Long = nextId.getAndIncrement()

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  def current: Long = stack.get.headOption.getOrElse(runSpan)

  /** Time `body` as a span of `kind` under the current span. */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val prevProp = sc.getLocalProperty(SpanProperty)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, kind, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  /** Record a span whose interval was measured elsewhere (a
    * micro-batch, from its progress report). Returns its id.
    */
  def record(parent: Long, kind: String, name: String,
             startNs: Long, endNs: Long): Long = {
    val id = newId()
    if (enabled) spans.add(Span(id, parent, kind, name, startNs, endNs))
    id
  }

  /** A micro-batch as a call span under the phase it started in; the
    * batch's jobs are written under it.
    */
  def recordBatch(batchId: Long, startNs: Long, endNs: Long): Unit = if (enabled) {
    val phase = allSpans.find(s => s.kind == "phase" && s.startNs <= startNs && startNs <= s.endNs)
    batchSpans.put(batchId,
      record(phase.map(_.id).getOrElse(runSpan), "call", s"batch $batchId", startNs, endNs))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  /** Jobs whose parent span is `id` or a descendant of it. */
  def jobsUnder(id: Long): Seq[JobRec] = {
    val children = allSpans.groupBy(_.parent)
    def subtree(s: Long): Set[Long] =
      children.getOrElse(s, Nil).map(_.id).toSet.flatMap(subtree) + s
    val ids = subtree(id)
    allJobs.filter(j => ids.contains(j.parentSpan))
  }

  def jobsOfBatch(batchId: Long): Seq[JobRec] =
    allJobs.filter(_.batchId == batchId)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
      val parent = prop(SpanProperty).map(_.toLong).getOrElse(runSpan)
      val rec = JobRec(e.jobId, parent, batch, System.nanoTime(), 0L, new JobCounts)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val jobId = stageJob.get(e.stageId)
      val rec = if (jobId == null) null else jobs.get(jobId)
      val m = e.taskMetrics
      if (rec != null && m != null) {
        val c = rec.counts
        c.synchronized { c.stages += e.stageId }
        c.tasks.incrementAndGet()
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Write every span and job as one JSON document. */
  def write(path: java.nio.file.Path, workload: String): Unit = if (enabled) {
    val end = System.nanoTime()
    def ms(ns: Long) = (ns - runStart) / 1e6
    val sb = new StringBuilder
    sb.append(s"""{"run_id":"$runId","workload":"$workload","spans":[""")
    val all = Span(runSpan, 0L, "run", workload, runStart, end) +: allSpans
    sb.append(all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${ms(s.startNs)},"end_ms":${ms(s.endNs)}}"""
    }.mkString(",\n"))
    sb.append("],\"jobs\":[")
    sb.append(allJobs.map { j =>
      val c = j.counts
      val parent = if (j.batchId >= 0) batchSpans.getOrDefault(j.batchId, j.parentSpan)
        else j.parentSpan
      s"""{"job":${j.jobId},"parent":$parent,"batch":${j.batchId},""" +
        s""""start_ms":${ms(j.startNs)},"end_ms":${ms(math.max(j.endNs, j.startNs))},""" +
        s""""stages":${c.stages.size},"tasks":${c.tasks.get},"run_ms":${c.runMs.get},""" +
        s""""cpu_ns":${c.cpuNs.get},"shuffle_bytes":${c.shuffleBytes.get},""" +
        s""""spill_bytes":${c.spillBytes.get},"output_bytes":${c.outputBytes.get}}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
