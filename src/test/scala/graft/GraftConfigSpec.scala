package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.ChangeModel
import graft.sources.Tables
import graft.streaming.CdcStream

/** GraftConfig — the deploy-properties seam [ref: ConsumerMain.scala:
  * 41-45, config.properties]: typed keys round-trip through a file,
  * missing keys default, the `kafka.*` namespace passes through
  * verbatim (minus the two named keys), and a stream driver started
  * from config lands its state under the configured roots.
  */
class GraftConfigSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession =
    GraftSession.local(cores = 4, appName = "config-spec")


  test("an empty properties file is a valid deployment (all defaults)") {
    val f = tempDir("cfg").resolve("empty.properties")
    Files.writeString(f, "")
    assert(GraftConfig.load(f.toString) === GraftConfig())
  }

  test("save -> load round-trips every typed key and the kafka passthrough") {
    val cfg = GraftConfig(
      corpusRoot = "/data/corpus", checkpointRoot = "/ckpt",
      storeRoot = "/stores", triggerMs = 250L, maxFilesPerTrigger = 4,
      sessionCores = 16, shufflePartitions = 64,
      kafkaBrokers = "b1:9092,b2:9092", kafkaTopics = Seq("t1", "t2"),
      kafkaOptions = Map(
        "kafka.ssl.keystore.location" -> "/etc/ks.jks",
        "kafka.security.protocol" -> "SSL"))
    val f = tempDir("cfg").resolve("full.properties").toString
    cfg.save(f)
    assert(GraftConfig.load(f) === cfg)
  }

  test("session() is GraftSession's configuration at the configured shuffle width") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val s = GraftConfig.session(GraftConfig(sessionCores = 4, shufflePartitions = 7))
    try {
      assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
      assert(s.conf.get("spark.sql.optimizer.excludedRules")
        .contains("InferFiltersFromGenerate"))
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("kafka.* passes through verbatim; kafka.broker/topic stay typed") {
    val p = new java.util.Properties()
    p.setProperty("kafka.broker", "hostA:9092")
    p.setProperty("kafka.topic", "tt, uu")
    p.setProperty("kafka.ssl.truststore.password", "secret")
    p.setProperty("kafka.isolation.level", "read_committed")
    val cfg = GraftConfig.fromProperties(p)
    assert(cfg.kafkaBrokers === "hostA:9092")
    assert(cfg.kafkaTopics === Seq("tt", "uu"))
    assert(cfg.kafkaOptions === Map(
      "kafka.ssl.truststore.password" -> "secret",
      "kafka.isolation.level" -> "read_committed"))
    assert(!cfg.kafkaOptions.contains("kafka.broker"))
  }

  test("fromEnv reads GRAFT_CONF when set, defaults otherwise") {
    val f = tempDir("cfg").resolve("env.properties").toString
    GraftConfig(triggerMs = 333L).save(f)
    assert(GraftConfig.fromEnv(Map("GRAFT_CONF" -> f)).triggerMs === 333L)
    assert(GraftConfig.fromEnv(Map.empty) === GraftConfig())
    assert(GraftConfig.fromEnv(Map("GRAFT_CONF" -> "/no/such/file"))
      === GraftConfig())
  }

  test("trigger renders the configured cadence") {
    assert(GraftConfig(triggerMs = 42L).trigger ===
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("42 milliseconds"))
  }

  test("a CDC stream started from config lands state under the configured roots") {
    val work = tempDir("cfg-stream")
    val cfg = GraftConfig(
      checkpointRoot = work.resolve("ckpts").toString,
      storeRoot = work.resolve("stores").toString,
      triggerMs = 100L, maxFilesPerTrigger = 2)
    val linesDir = work.resolve("lines")
    Files.createDirectories(linesDir)
    ChangeModel.changeLines(Tables(spark, "/root/testdata/sf0.001").events)
      .select("line").limit(200).coalesce(1)
      .write.mode("overwrite").text(linesDir.resolve("a0").toString)
    val q = CdcStream.startFromConfig(spark, cfg,
      linesDir.toString + "/*/", name = "cdc0")
    q.processAllAvailable(); q.stop()
    val snap = CdcStream.readSnapshot(spark, s"${cfg.storeRoot}/cdc0")
    assert(snap.nonEmpty && snap.get.count() > 0)
    assert(Files.exists(work.resolve("ckpts").resolve("cdc0")))
  }
}
