package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one module that knows where graft writes derived or scratch
  * files. Every path resolves under the running Spark session's
  * landing root: `graft/` inside `SparkFiles.getRootDirectory()`, the
  * driver's `userFiles-*` directory under `spark.local.dir`. Spark
  * deletes that directory when the context stops (`SparkEnv.stop` and
  * its shutdown hook), so nothing graft lands outlives the session
  * and no session ever touches another's files.
  *
  * A landing materializes a derived table once per (family, corpus,
  * params) in the session — the "pipeline persists its intermediate
  * products" seam: the first caller pays the derivation, every later
  * consumer reads the landed files, the way a curation pipeline
  * shares its cluster map / pair-count table / change feed instead of
  * re-deriving them per report. The key fingerprints (file name, size,
  * mtime) of every part file of the source tables plus a params
  * string, so a regenerated corpus or changed parameters land a fresh
  * root. Builds write to a tmp path and rename into place, so an
  * existing root is always a complete one.
  */
object DerivedTable {
  private val lock = new Object

  /** This session's landing root. */
  private def sessionRoot: Path = Paths.get(SparkFiles.getRootDirectory(), "graft")

  def readOrBuild(spark: SparkSession, family: String, dir: String,
                  sources: Seq[String], params: String)
                 (build: => DataFrame): DataFrame = {
    val parts = math.min(32, spark.sparkContext.defaultParallelism)
    // Land with enough part files that consumers get a PARALLEL
    // scan: a small derived table naturally collapses to one
    // parquet file (one row group = one Spark input split), which
    // silently serializes every downstream pipeline until its
    // first shuffle — measured 7-28x on the CDC parse block. The
    // landed layout is a read-side concern, so fix it here once
    // rather than in every builder. Row distribution is
    // round-robin; no query result depends on file layout.
    readOrBuildAs(spark, family, dir, sources, params)(
      tmp => build.repartition(parts).write.mode("overwrite").parquet(tmp))(
      // fingerprinted roots are immutable once landed — reads go
      // through the schema cache so repeat builds skip the
      // footer-inference job
      root => Tables.loadCached(spark, root))
  }

  /** The landed root for a (family, corpus, params) triple. */
  private[graft] def rootFor(family: String, dir: String,
                             sources: Seq[String], params: String): String =
    sessionRoot.resolve(family)
      .resolve(java.lang.Long.toHexString(fingerprint(dir, sources, params))).toString

  /** Format-generic twin of [[readOrBuild]]: the same landing, but the
    * caller supplies the writer and the reader — the seam the
    * CSV/JSON/ORC interchange round-trips land through (their on-disk
    * bytes ARE the thing under test), and the one the snapshot stores
    * and bucketed tables publish through (their reader returns the
    * store or registers the table). `write` fills a tmp path that is
    * renamed to the root once it returns; one lock serializes every
    * landing in the JVM.
    */
  def readOrBuildAs[T](spark: SparkSession, family: String, dir: String,
                       sources: Seq[String], params: String)
                      (write: String => Unit)
                      (read: String => T): T = lock.synchronized {
    val root = Paths.get(rootFor(family, dir, sources, params))
    if (!Files.exists(root)) {
      val tmp = Paths.get(s"$root.tmp")
      FileUtils.deleteDirectory(tmp.toFile) // left by a build that threw
      write(tmp.toString)
      Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE)
    }
    read(root.toString)
  }

  /** A fresh, empty directory under the session root for one query's
    * scratch state (a store it builds and reads, a stream's input,
    * sink and checkpoint). It lives until [[reset]] or the end of the
    * session, so a lazily-read result may keep pointing into it. */
  def scratch(prefix: String): String = {
    val base = Files.createDirectories(sessionRoot.resolve("scratch"))
    Files.createTempDirectory(base, prefix).toString
  }

  /** Delete everything this session has landed or scratched, so the
    * next [[readOrBuild]] derives again from its sources. Bench calls
    * it before every timed sample: a landing that survives into the
    * next sample is a result cache, and the sample would read warm
    * files instead of paying its own derivation. Only this session's
    * root goes; other sessions' and processes' files are untouched.
    */
  def reset(): Unit = lock.synchronized {
    FileUtils.deleteDirectory(sessionRoot.toFile)
  }

  /** Metadata-only fingerprint (never reads data) of the source
    * tables' part files plus `params`. */
  private[graft] def fingerprint(dir: String, sources: Seq[String],
                                 params: String): Long = {
    import scala.jdk.CollectionConverters._
    val parts: Seq[String] = sources.flatMap { t =>
      val base = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(base)) Seq(s"missing:$base")
      else {
        val s = Files.walk(base)
        try s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => s"$p:${Files.size(p)}:" + Files.getLastModifiedTime(p).toMillis)
          .toVector.sorted
        finally s.close()
      }
    }
    (parts :+ params).foldLeft(1125899906842597L)((h, x) =>
      x.foldLeft(h)((a, c) => a * 31 + c))
  }
}
