package graft.tools

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev-only (r16): dump `explain("formatted")` of named queries, one
  * file per query, into a directory — the plans/r16 before/after
  * evidence the optimization round commits.
  *
  * Usage: runMain graft.tools.PlanDirDump <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDirDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32, "plan-dir-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name")
      } catch {
        case NonFatal(e) => println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
