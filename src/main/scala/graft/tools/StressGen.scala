package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Regenerates the 5x stress dataset (dev tooling, not part of the
  * driver contract): every sf0.1 table union-replicated `factor`
  * times with key-space offsets. Document TEXT is kept identical
  * across replicas — that is the point: a 5x duplicate rate stresses
  * every dedup family's candidate generation (the adversarial
  * pair-blowup corpus documented in SURVEY §5.0r3). Embeddings
  * likewise replicate into exact-dup clusters. Deterministic, no RNG.
  *
  * Usage: runMain graft.tools.StressGen [srcDir] [outDir] [factor]
  */
object StressGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/stress5"
    val factor = if (args.length > 2) args(2).toInt else 5
    val spark = graft.GraftSession.local(32, "stress-gen")
    val Off = 100000000L

    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until factor).map { i =>
        keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Off)))
      }.reduce(_ unionAll _)

    val t = graft.sources.Tables(spark, src)
    // dims stay single-copy (broadcast semantics preserved); facts
    // replicate on their keys so joins stay consistent within a replica
    t.region.write.mode("overwrite").parquet(s"$out/region.parquet")
    t.nation.write.mode("overwrite").parquet(s"$out/nation.parquet")
    rep(t.customer, Seq("c_custkey")).write.mode("overwrite").parquet(s"$out/customer.parquet")
    rep(t.supplier, Seq("s_suppkey")).write.mode("overwrite").parquet(s"$out/supplier.parquet")
    rep(t.part, Seq("p_partkey")).write.mode("overwrite").parquet(s"$out/part.parquet")
    rep(t.orders, Seq("o_orderkey", "o_custkey")).write.mode("overwrite").parquet(s"$out/orders.parquet")
    rep(t.lineitem, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events keep user_id (per-user history deepens 5x — the CDC
    // upsert/sessionize stress) but event ids stay unique
    rep(t.events, Seq("event_id")).write.mode("overwrite").parquet(s"$out/events.parquet")
    rep(t.documents, Seq("doc_id")).write.mode("overwrite").parquet(s"$out/documents.parquet")
    rep(t.embeddings, Seq("vec_id")).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[stress-gen] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
