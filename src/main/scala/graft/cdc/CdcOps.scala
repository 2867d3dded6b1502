package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The reference's CDC semantics as composable DataFrame operators.
  *
  * Every function here is pure DataFrame -> DataFrame, so the same
  * code path serves batch verification AND the Structured Streaming
  * ingest (inside foreachBatch) — one implementation, two runtimes.
  * All are single-shuffle (hash partition by the upsert key); no
  * driver-side state, so they scale horizontally.
  */
object CdcOps {

  /** A1: parse JSON change lines into typed columns.
    * PERMISSIVE mode: malformed lines yield nulls instead of failing
    * the stream (the reference logs-and-continues on bad JSON
    * [ref: KuduManager.scala:117-122]).
    */
  def parse(lines: DataFrame): DataFrame =
    lines
      .withColumn("r", from_json(col("line"), ChangeModel.recordSchema))
      .select(
        col("r.table").as("table"),
        col("r.op_type").as("op_type"),
        col("r.current_ts").as("current_ts"),
        col("r.after.ID").as("id"),
        col("r.after.USER_ID").as("user_id"),
        col("r.after.EVENT_TYPE").as("event_type"),
        col("r.after.VALUE").as("value"))

  /** A1 + dead-letter: split the stream into parsed-valid rows and a
    * quarantine of raw lines that failed to parse or lack the fields
    * the reference treats as mandatory (table name, key) — it
    * logs-and-skips those [ref: KuduManager.scala:59-61,117-122]; at
    * scale a silent skip hides poison messages, so the quarantine
    * keeps the raw line for replay. Returns the union with an
    * `is_valid` flag; callers filter.
    */
  def parseWithQuarantine(lines: DataFrame): DataFrame = {
    val parsed = lines
      .withColumn("r", from_json(col("line"), ChangeModel.recordSchema))
      .select(col("line"),
        col("r.table").as("table"), col("r.op_type").as("op_type"),
        col("r.current_ts").as("current_ts"),
        col("r.after.ID").as("id"), col("r.after.USER_ID").as("user_id"),
        col("r.after.EVENT_TYPE").as("event_type"), col("r.after.VALUE").as("value"))
    parsed.withColumn("is_valid",
      col("table").isNotNull && col("op_type").isNotNull && col("id").isNotNull)
  }

  /** A1 variant: parse with a stringly-typed payload (raw OGG shape),
    * for TypeMap coercion.
    */
  def parseRaw(lines: DataFrame): DataFrame =
    lines
      .withColumn("r", from_json(col("line"), ChangeModel.recordSchemaRaw))
      .select(col("r.table").as("table"), col("r.op_type").as("op_type"),
        col("r.current_ts").as("current_ts"), col("r.after").as("after"))

  /** A5: schema-driven coercion of a string payload map to target
    * column types — the Spark-first form of the reference's per-column
    * Kudu Type match [ref: KuduManager.scala:86-108]. Unknown keys are
    * dropped; missing keys become null (the reference skips nulls).
    */
  def coerce(parsedRaw: DataFrame, target: Seq[(String, DataType)]): DataFrame = {
    val cols = target.map { case (name, dt) =>
      col("after").getItem(name.toUpperCase).cast(dt).as(name.toLowerCase)
    }
    parsedRaw.select(col("table") +: col("op_type") +: col("current_ts") +: cols: _*)
  }

  /** A2: route a mixed multi-table change stream: keep `table`'s rows,
    * normalize the name the way the reference does
    * (`split("\\.")(1).toLowerCase` [ref: KuduManager.scala:66]).
    */
  def routeTable(parsed: DataFrame, table: String): DataFrame =
    parsed
      .withColumn("tab_name", lower(element_at(split(col("table"), "\\."), 2)))
      .filter(col("tab_name") === table)

  /** A3: last-write-wins upsert snapshot per key — the Kudu upsert
    * semantic [ref: KuduManager.scala:72,112-114] as one window over a
    * hash shuffle on the key (or over any partitioning already
    * clustered on it — the store's range exchange). Ordering:
    * current_ts then id (ties at second granularity are broken by the
    * monotonic record id, like Kafka log order breaks ties within a
    * batch); a null current_ts sorts below every timestamp. Rows that
    * tie on (current_ts, id) are replays of one record; `tieBreak`
    * (descending keys) decides between them when the caller can
    * order replays, as the store's merge does (the later batch wins).
    */
  def snapshot(parsed: DataFrame, key: Column, tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(Seq(col("current_ts").desc, col("id").desc) ++ tieBreak: _*)
    parsed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** A3 at scale: incremental snapshot COMPACTION — fold a new batch
    * of change rows into an existing snapshot without re-reading
    * history. The delta batch is first snapshotted (one row per key,
    * a map-side-heavy shrink), then full-outer joined against the
    * base; per key the later row wins by (current_ts, id) — the same
    * total order `snapshot` uses, so compact(snapshot(A), B) ==
    * snapshot(A ∪ B) for ANY split of the change log (an exact
    * (current_ts, id) tie goes to the delta). At 100 TB the base is a
    * bucketed table: the only full shuffle is the (small) delta's; the
    * reference achieves this incrementally via per-record Kudu upserts
    * [ref: KuduManager.scala:72,112-114].
    *
    * This is the A16 operator. The SnapshotStore merge folds the same
    * identity in UNION form instead — snapshot(base ∪ delta) inside
    * the range exchange that writes its files — because a store
    * rewrite shuffles the base anyway and the union needs no join.
    */
  def compactSnapshot(base: DataFrame, deltas: DataFrame, keyCol: String): DataFrame = {
    val cols = base.columns.toSeq
    val d = snapshot(deltas, col(keyCol))
      .select(cols.map(c => col(c).as("d_" + c)): _*)
    val b = base.select(cols.map(c => col(c).as("b_" + c)): _*)
    val joined = b.join(d, col("b_" + keyCol) === col("d_" + keyCol), "full_outer")
    // delta wins when the base key is absent or the delta row is
    // later in (current_ts, id) order (struct compare = lexicographic)
    val takeDelta = col("d_" + keyCol).isNotNull &&
      (col("b_" + keyCol).isNull ||
        struct(col("d_current_ts"), col("d_id")) >=
          struct(col("b_current_ts"), col("b_id")))
    joined.select(cols.map(c =>
      when(takeDelta, col("d_" + c)).otherwise(col("b_" + c)).as(c)): _*)
  }

  /** A4: soft-delete snapshot: physical deletes become logical
    * `delete_state='1'` rows whose payload is nulled (a D record only
    * carries its key [ref: KuduManager.scala:74-80]). The decoration
    * derives only from op_type, so it is idempotent: stored rows that
    * re-enter the store's merge fold already decorated come out the
    * same.
    */
  def softDeleteSnapshot(parsed: DataFrame, key: Column,
                         tieBreak: Seq[Column] = Nil): DataFrame = {
    val isDel = col("op_type") === "D"
    snapshot(parsed, key, tieBreak)
      .withColumn("delete_state", when(isDel, "1").otherwise("0"))
      .withColumn("value", when(isDel, lit(null)).otherwise(col("value")))
      .withColumn("event_type", when(isDel, lit(null)).otherwise(col("event_type")))
  }

  /** A6: audit/event table rows, one per change record — the
    * reference's `pub_event` upsert [ref: KuduManager.scala:134-158].
    * (time_stamp, a wall-clock column in the reference, is omitted:
    * nondeterministic outputs can't be verified.)
    */
  def audit(parsed: DataFrame): DataFrame =
    parsed.select(
      col("id").cast("string").as("id"),
      lower(element_at(split(col("table"), "\\."), 2)).as("name"),
      col("current_ts"),
      when(col("op_type") === "D", "1").otherwise("0").as("delete_state"),
      lit("0").as("his_delete_state"))

  /** A7: per-batch sync metrics — distinct table names, row total and
    * rec/s rate over a time bucket [ref: LoggerManager.scala:38-60].
    * Batch form buckets by the hour; the streaming listener (A12)
    * reports the same fields per micro-batch.
    */
  def syncMetrics(parsed: DataFrame, bucketSeconds: Long = 3600L): DataFrame =
    parsed
      .withColumn("bucket",
        date_format(
          timestamp_seconds(
            floor(unix_timestamp(to_timestamp(col("current_ts"))) / bucketSeconds) * bucketSeconds),
          "yyyy-MM-dd HH:mm:ss"))
      .groupBy(col("bucket"))
      .agg(
        countDistinct(col("event_type")).as("n_tables"),
        count(lit(1)).as("total"))
      .withColumn("rate", col("total") / bucketSeconds.toDouble)
      .orderBy(col("bucket"))

  /** A8: offset-range bookkeeping — (topic, partition, from, until)
    * exactly as the reference stores per-znode
    * [ref: ZookeeperManager.scala:104, files/offset.log]. Partitions
    * stand in as hash(user_id) % n like Kafka's keyed partitioner.
    */
  def offsetLog(parsed: DataFrame, nPartitions: Int = 4): DataFrame =
    parsed
      .withColumn("partition", pmod(col("user_id"), lit(nPartitions)).cast("int"))
      .groupBy(col("partition"))
      .agg(
        min(col("id")).as("fromoffset"),
        max(col("id")).as("untiloffset"),
        count(lit(1)).as("n_records"))
      .withColumn("topic", lit("events"))
      .select("topic", "partition", "fromoffset", "untiloffset", "n_records")
      .orderBy(col("partition"))

  /** A8: replay a stored offset range — ReadByAssignOffset as a batch
    * range scan: keep records with id in (from, until] per partition.
    */
  def replayFromOffsets(parsed: DataFrame, offsets: Map[Int, (Long, Long)],
                        nPartitions: Int = 4): DataFrame = {
    val part = pmod(col("user_id"), lit(nPartitions)).cast("int")
    val cond = offsets.map { case (p, (from, until)) =>
      part === p && col("id") > from && col("id") <= until
    }.reduceOption(_ || _).getOrElse(lit(false))
    parsed.filter(cond)
  }

  /** A25: SCD type-2 history build — the warehouse-history twin of
    * the reference's last-write-wins Kudu upsert
    * [ref: KuduManager.scala:72-114]: instead of overwriting, every
    * change opens a VERSION with a validity interval. Per key,
    * ordered by (current_ts, id) — the same total order snapshot()
    * uses, id breaking second-resolution ts ties — each change row
    * becomes a version valid from its own ts until the next change's
    * ts (open-ended for the latest). A delete ('D') closes the prior
    * version and its own tombstone version is never current. One
    * shuffle on the key (the window partition); no driver state, no
    * self-join — `lead` inside the sort the window already pays for.
    */
  def scd2History(parsed: DataFrame, key: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("current_ts"), col("id"))
    parsed
      .withColumn("version_n", row_number().over(w).cast("long"))
      .withColumn("valid_from", col("current_ts"))
      .withColumn("valid_to", lead(col("current_ts"), 1).over(w))
      .withColumn("is_current",
        (col("valid_to").isNull && col("op_type") =!= "D").cast("int"))
  }
}
