package graftbench

import org.apache.spark.sql.Row

/** One snapshot row as the store must hold it after the
  * last-write-wins, soft-delete fold.
  */
final case class ChangeRow(key: Long, op: String, ts: String, id: Long,
                           eventType: Option[String], value: Option[Double],
                           deleteState: String, table: String)

object ChangeRow {
  def of(r: Row): ChangeRow = {
    def opt[T](c: String): Option[T] = Option(r.getAs[T](c))
    ChangeRow(r.getAs[Long]("user_id"), r.getAs[String]("op_type"),
      r.getAs[String]("current_ts"), r.getAs[Long]("id"),
      opt[String]("event_type"), opt[Any]("value").map(_.asInstanceOf[Double]),
      r.getAs[String]("delete_state"), r.getAs[String]("table"))
  }
}

/** OGG change lines in `ChangeModel.recordSchema`'s shape, and the
  * plain-Scala oracle fold over every line emitted.
  */
object Changes {
  val Table = "PUB.EVENTS"
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup")
  /** 2026-01-01 00:00:00 UTC: change timestamps count up from here. */
  val TsBase = 1767225600L

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def ts(epochSec: Long): String = fmt.format(java.time.Instant.ofEpochSecond(epochSec))

  /** Value with two decimals, as text (so the oracle holds exactly
    * the double the JSON parser will read).
    */
  def valueText(cents: Int): String = s"${cents / 100}.${"%02d".format(cents % 100)}"

  def line(op: String, tsText: String, id: Long, key: Long,
           eventType: Int, value: String): String =
    if (op == "D")
      s"""{"table":"$Table","op_type":"D","current_ts":"$tsText","after":{"ID":$id,"USER_ID":$key}}"""
    else
      s"""{"table":"$Table","op_type":"$op","current_ts":"$tsText","after":""" +
        s"""{"ID":$id,"USER_ID":$key,"EVENT_TYPE":"${EventTypes(eventType)}","VALUE":$value}}"""
}

/** Last-write-wins per key in (current_ts, id) order with soft-delete
  * decoration, over keys `0 until keys`.
  */
final class Fold(val keys: Int) {
  private val tsText = new Array[String](keys)
  private val id = Array.fill(keys)(-1L)
  private val op = new Array[String](keys)
  private val ev = new Array[Int](keys)
  private val value = new Array[String](keys)

  def add(key: Long, opType: String, ts: String, rid: Long,
          eventType: Int, v: String): Unit = {
    val k = key.toInt
    val later = id(k) < 0 || {
      val c = ts.compareTo(tsText(k))
      c > 0 || (c == 0 && rid >= id(k))
    }
    if (later) {
      tsText(k) = ts; id(k) = rid; op(k) = opType; ev(k) = eventType; value(k) = v
    }
  }

  def row(key: Long): Option[ChangeRow] = {
    val k = key.toInt
    if (k < 0 || k >= keys || id(k) < 0) None
    else {
      val del = op(k) == "D"
      Some(ChangeRow(key, op(k), tsText(k), id(k),
        if (del) None else Some(Changes.EventTypes(ev(k))),
        if (del) None else Some(value(k).toDouble),
        if (del) "1" else "0", Changes.Table))
    }
  }

  def rows: Iterator[ChangeRow] = (0 until keys).iterator.flatMap(k => row(k.toLong))
}
