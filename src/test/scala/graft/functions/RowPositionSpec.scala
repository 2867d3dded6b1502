package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** `row_position()` wraps Spark's internal `DistributedSequenceID`
  * expression (the `AttachDistributedSequence` node). Every total-rank
  * query stands on it, so a Spark upgrade that changes its numbering,
  * its placement under the sort, or its cache release must fail here,
  * loudly, before any oracle hash does.
  */
class RowPositionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "row-position-spec")

  /** Run `body` with the sort's output kept at 8 partitions: AQE would
    * coalesce these small frames to one partition, and the multi-
    * partition path (per-partition counts, offsets, the cached child)
    * is the one worth pinning.
    */
  private def eightWay[T](body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (k, id) rows with many ties on k; (k, id) is a total key. */
  private def randomFrame(seed: Long, n: Int): (Seq[(Long, Long)], DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.tabulate(n)(i => (rnd.nextInt(17).toLong, i.toLong * 7919L % 100003L))
    val s = spark
    import s.implicits._
    (rows, rows.toDF("k", "id").repartition(8 + rnd.nextInt(5)))
  }

  private def ranked(df: DataFrame): DataFrame =
    df.orderBy(col("k"), col("id")).select(col("k"), col("id"), row_position().as("pos"))

  /** RDDs persisted since `before` and still persisted. The node
    * releases its cached child when the SQL execution ends, which can
    * trail the action's return by a moment, so re-poll before
    * reporting a leak.
    */
  private def newPersisted(before: Set[Int]): Set[Int] = {
    def left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.currentTimeMillis() + 10000
    while (left.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    left
  }

  test("positions are exactly 0..n-1 in the order of a driver-side sort") {
    eightWay {
      for (seed <- 1L to 5L) {
        val (rows, df) = randomFrame(seed, 500 + 300 * seed.toInt)
        assert(df.rdd.getNumPartitions >= 8)
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val got = ranked(df).collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
          .sortBy(_._1).toSeq
        val want = rows.sorted.zipWithIndex.map { case (kv, i) => (i.toLong, kv) }
        assert(got == want, s"seed $seed")
        assert(newPersisted(before).isEmpty,
          s"seed $seed: the sequence node left its cached child behind")
      }
    }
  }

  test("an empty frame and a one-partition frame both rank") {
    eightWay {
      val empty = spark.range(0, 0, 1, 8).select(col("id").as("k"), col("id"))
      assert(ranked(empty).collect().isEmpty)
    }
    val one = spark.range(0, 50, 1, 1)
      .select((lit(49L) - col("id")).as("k"), col("id"))
    assert(one.rdd.getNumPartitions == 1)
    val pos = ranked(one).collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pos.toSeq == (0L until 50L).map(i => (i, i)))
  }

  test("two branches of one plan see the same positions") {
    eightWay {
      val (rows, df) = randomFrame(11L, 2000)
      val r = ranked(df)
      val stats = r.agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        sum(col("pos")).as("sp"))
      val out = r.crossJoin(stats)
        .join(r.select(col("id"), col("pos").as("pos2")), Seq("id"))
        .collect()
      val n = rows.size.toLong
      assert(out.length == n)
      out.foreach { row =>
        assert(row.getAs[Long]("pos") == row.getAs[Long]("pos2"))
        assert(row.getAs[Long]("n") == n && row.getAs[Long]("mx") == n - 1)
        assert(row.getAs[Long]("sp") == n * (n - 1) / 2)
      }
      val want = rows.sorted.zipWithIndex.map { case ((_, id), i) => (id, i.toLong) }.toMap
      out.foreach(row => assert(want(row.getAs[Long]("id")) == row.getAs[Long]("pos")))
    }
  }

  test("an order-irrelevant aggregate above the rank keeps the sort") {
    eightWay {
      val (rows, df) = randomFrame(23L, 3000)
      val agg = df.orderBy(col("k"), col("id"))
        .select(col("k"), row_position().as("pos"))
        .groupBy(col("k"))
        .agg(min(col("pos")).as("lo"), max(col("pos")).as("hi"), count(lit(1)).as("c"))
      import org.apache.spark.sql.catalyst.plans.logical.Sort
      assert(agg.queryExecution.optimizedPlan.collect { case s: Sort => s }.nonEmpty,
        "EliminateSorts dropped the sort under the sequence node")
      val got = agg.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // each k owns one contiguous block of the sorted order
      var start = 0L
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, g) =>
        assert(got(k) == ((start, start + g.size - 1, g.size.toLong)), s"k=$k")
        start += g.size
      }
    }
  }
}
