package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-side scale-up generator (r15 verdict task 7): replicate the
  * driver's star schema K× with consistent key offsets, producing an
  * sf1-scale corpus for the relational-core overflow/precision parity
  * pass. NOT part of the engine — a `main` the builder runs once.
  *
  * Replication model: K disjoint copies of the corpus. Every key
  * column is offset by `replica * (max(key) + 1)` and every FOREIGN
  * reference to that key is offset by the same stride, so joins see K
  * independent sub-corpora; dims shared below the replicated tier
  * (nation, region) copy through unchanged. Measures (prices,
  * quantities, dates) are untouched — aggregates grow K×, which is
  * exactly the overflow surface the sf1 pass exists to probe
  * (decimal(38) money sums, 56-bit checksums, count products).
  *
  * Usage: ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, out, fStr) = args
    val k = fStr.toInt
    require(k >= 1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt, "graft-scalegen")
    val t = graft.sources.Tables(spark, src)

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // one stride per replicated key domain, shared by the key column
    // and every referencing column
    val oS = stride(t.orders, "o_orderkey")
    val cS = stride(t.customer, "c_custkey")
    val sS = stride(t.supplier, "s_suppkey")
    val pS = stride(t.part, "p_partkey")
    val eS = stride(t.events, "event_id")
    val uS = stride(t.events, "user_id")

    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      val r = df.withColumn("_r", explode(sequence(lit(0L), lit(k - 1L))))
      offsets.foldLeft(r) { case (acc, (c, s)) =>
        acc.withColumn(c, col(c) + col("_r") * s)
      }.drop("_r")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name done")
    }

    write(t.region, "region")
    write(t.nation, "nation")
    write(replicate(t.customer, Map("c_custkey" -> cS)), "customer")
    write(replicate(t.supplier, Map("s_suppkey" -> sS)), "supplier")
    write(replicate(t.part, Map("p_partkey" -> pS)), "part")
    write(replicate(t.orders,
      Map("o_orderkey" -> oS, "o_custkey" -> cS)), "orders")
    write(replicate(t.lineitem,
      Map("l_orderkey" -> oS, "l_partkey" -> pS, "l_suppkey" -> sS)),
      "lineitem")
    write(replicate(t.events,
      Map("event_id" -> eS, "user_id" -> uS)), "events")
    spark.stop()
  }
}
