package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** The reader-swap seam of [[graft.KafkaCdcMain]], spec'd without a
  * broker (r13 verdict task 3): the deploy config's topic set /
  * offset log / client options must land in exactly the option map
  * Structured Streaming's Kafka source reads, and the external
  * offset log must round-trip through
  * [[OffsetLogListener]] → [[KafkaCdcSource.offsetLogToStartingOffsets]]
  * so a fresh-checkpoint resume continues at each partition's until
  * offset [ref: ConsumerMain.scala:44, ReadByAssignOffset.scala:57-61].
  */
class KafkaCdcSourceSpec extends AnyFunSuite with TempDirs {

  test("topic set maps to a comma-joined subscribe, brokers and defaults set") {
    val opts = KafkaCdcSource.sourceOptions(
      "b1:9092,b2:9092", Seq("t_users", "t_orders"))
    assert(opts("kafka.bootstrap.servers") === "b1:9092,b2:9092")
    assert(opts("subscribe") === "t_users,t_orders")
    assert(opts("failOnDataLoss") === "false")
    assert(opts("startingOffsets") === "latest")
  }

  test("kafka.* client options pass through but cannot shadow engine keys") {
    val opts = KafkaCdcSource.sourceOptions(
      "b:9092", Seq("t"),
      clientOptions = Map(
        "kafka.security.protocol" -> "SSL",
        "kafka.ssl.truststore.location" -> "/etc/tls/trust.jks",
        "subscribe" -> "evil_topic",
        "startingOffsets" -> "earliest"))
    assert(opts("kafka.security.protocol") === "SSL")
    assert(opts("kafka.ssl.truststore.location") === "/etc/tls/trust.jks")
    assert(opts("subscribe") === "t")
    assert(opts("startingOffsets") === "latest")
  }

  test("offset log seeds startingOffsets as an assignment at each until offset") {
    val log = Seq("t_orders,1,5,40", "t_orders,0,0,17", "t_users,0,3,9")
    val opts = KafkaCdcSource.sourceOptions("b:9092", Seq("t_orders", "t_users"),
      offsetLog = Some(log))
    assert(opts("startingOffsets") ===
      """{"t_orders": {"0": 17, "1": 40}, "t_users": {"0": 9}}""")
  }

  test("offset-log round-trip: listener lines -> startingOffsets -> next batch's lines") {
    // batch N's progress (Kafka source start/end offset JSON) becomes
    // reference-format lines…
    val lines = OffsetLogListener.offsetLines(
      startJson = """{"t_orders":{"0":5,"1":0},"t_users":{"0":3}}""",
      endJson = """{"t_orders":{"0":17,"1":40},"t_users":{"0":9}}""")
    assert(lines === Seq("t_orders,0,5,17", "t_orders,1,0,40", "t_users,0,3,9"))
    // …which seed a fresh checkpoint exactly at the consumed frontier
    val starting = KafkaCdcSource.offsetLogToStartingOffsets(lines)
    assert(starting === """{"t_orders": {"0": 17, "1": 40}, "t_users": {"0": 9}}""")
    // …and the NEXT batch from that frontier logs contiguous ranges
    val next = OffsetLogListener.offsetLines(
      startJson = """{"t_orders":{"0":17,"1":40},"t_users":{"0":9}}""",
      endJson = """{"t_orders":{"0":20,"1":44},"t_users":{"0":9}}""")
    assert(next === Seq("t_orders,0,17,20", "t_orders,1,40,44", "t_users,0,9,9"))
  }

  test("first-batch bootstrap: partitions absent from the start map log from 0") {
    val lines = OffsetLogListener.offsetLines("{}", """{"t":{"0":12,"1":3}}""")
    assert(lines === Seq("t,0,0,12", "t,1,0,3"))
  }

  test("resume seed: offset log seeds ONLY a fresh checkpoint — the WAL always wins") {
    import java.nio.file.{Files, Paths}
    val base = tempDir("kseed")
    val log = base.resolve("offset.log")
    val ckptFresh = base.resolve("no-such-ckpt").toString
    val ckptLive = Files.createDirectory(base.resolve("ckpt")).toString
    // no log, no checkpoint: latest (no seed)
    assert(graft.KafkaCdcMain.resumeSeed(ckptFresh, log).isEmpty)
    Files.writeString(log, "t,0,0,17\nt,1,0,40\n")
    // log + fresh checkpoint: seed from the stored frontier
    assert(graft.KafkaCdcMain.resumeSeed(ckptFresh, log)
      .contains(Seq("t,0,0,17", "t,1,0,40")))
    // log + LIVE checkpoint: the WAL owns offsets — never seed (a
    // stale log here would rewind committed ranges = double count)
    assert(graft.KafkaCdcMain.resumeSeed(ckptLive, log).isEmpty)
  }

  test("malformed progress offsets log nothing rather than corrupt lines") {
    assert(OffsetLogListener.offsetLines("not json", """{"t":{"0":1}}""")
      === Seq("t,0,0,1"))
    assert(OffsetLogListener.offsetLines("{}", "not json") === Nil)
  }

  test("kafka listener latches one owning query; a second Kafka query never cross-writes") {
    // ADVICE r14: the "Kafka" prefix matches EVERY Kafka query in a
    // session — without the latch, two queries clobber one offset.log
    // (replace-not-append) and resumeSeed then seeds wrong offsets
    val l = OffsetLogListener.kafka("/tmp/unused-offset.log")
    val (q1, q2) = (java.util.UUID.randomUUID(), java.util.UUID.randomUUID())
    assert(l.admits(q1), "first query must be admitted and latched")
    assert(l.admits(q1), "the owner stays admitted on every later batch")
    assert(!l.admits(q2), "a second Kafka query must be ignored")
    assert(l.admits(q1), "the owner survives the rejected interloper")
    // the non-latching (exact-description) form admits any query id —
    // an exact DSv2 table name already identifies one query per path
    val exact = new OffsetLogListener("graftlines(/p)", "/tmp/unused2.log")
    assert(exact.admits(q1) && exact.admits(q2))
  }
}
