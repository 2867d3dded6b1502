package graftbench

/** Prints `{"query": "<DuckDB SQL>", ...}` for the analytics list, from
  * `SparkEntry.oracleSql`; `tools/make_expected.py` reads it.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(AnalyticsWorkload.Queries.map { q =>
      s""""$q":"${Json.esc(sql.getOrElse(q, sys.error(s"$q has no oracle SQL")))}""""
    }.mkString("{", ",", "}"))
  }
}
