package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Deploy-time configuration seam — the reference externalizes every
  * environment knob (zk quorum, broker list, topic, kudu master) in
  * a flat properties file loaded at startup [ref: ConsumerMain.scala:
  * 41-45, src/main/resources/config.properties]; this is the repo's
  * twin for the knobs THIS engine deploys with: corpus root,
  * checkpoint root, snapshot-store root, stream trigger cadence and
  * file-admission rate, session parallelism, and a verbatim
  * `kafka.*` pass-through (the reference's keystore/truststore SSL
  * surface rides the same prefix [ref: README.md]).
  *
  * Unknown keys are preserved on a load→save round-trip only within
  * the `kafka.*` namespace (they are semantically the client's);
  * graft keys are strongly typed. Everything has a default, so an
  * empty file (or no file at all) is a valid deployment.
  */
final case class GraftConfig(
    corpusRoot: String = "/root/testdata/sf0.001",
    checkpointRoot: String = "/tmp/graft/checkpoints",
    storeRoot: String = "/tmp/graft/stores",
    triggerMs: Long = 1000L,
    maxFilesPerTrigger: Int = 0,
    sessionCores: Int = 32,
    shufflePartitions: Int = 32,
    kafkaBrokers: String = "",
    kafkaTopics: Seq[String] = Nil,
    kafkaOptions: Map[String, String] = Map.empty) {

  /** The micro-batch trigger every graft stream driver accepts. */
  def trigger: Trigger = Trigger.ProcessingTime(s"$triggerMs milliseconds")

  def toProperties: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("graft.corpus.root", corpusRoot)
    p.setProperty("graft.checkpoint.root", checkpointRoot)
    p.setProperty("graft.store.root", storeRoot)
    p.setProperty("graft.stream.trigger.ms", triggerMs.toString)
    p.setProperty("graft.stream.max.files.per.trigger",
      maxFilesPerTrigger.toString)
    p.setProperty("graft.session.cores", sessionCores.toString)
    p.setProperty("graft.session.shuffle.partitions",
      shufflePartitions.toString)
    if (kafkaBrokers.nonEmpty) p.setProperty("kafka.broker", kafkaBrokers)
    if (kafkaTopics.nonEmpty)
      p.setProperty("kafka.topic", kafkaTopics.mkString(","))
    kafkaOptions.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  def save(path: String): Unit = {
    val p: Path = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val w = Files.newBufferedWriter(p)
    try toProperties.store(w, "graft deploy config")
    finally w.close()
  }
}

object GraftConfig {

  /** Parse a java.util.Properties tree (missing keys → defaults).
    * Every `kafka.*` key other than the two the reference names
    * (`kafka.broker`, `kafka.topic`) is carried verbatim into
    * [[GraftConfig.kafkaOptions]] — Structured Streaming's Kafka
    * source already expects client options under that exact prefix,
    * so SSL/auth config flows through untouched.
    */
  def fromProperties(p: java.util.Properties): GraftConfig = {
    val d = GraftConfig()
    def s(k: String, dv: String) = Option(p.getProperty(k)).getOrElse(dv)
    import scala.jdk.CollectionConverters._
    val passthrough = p.stringPropertyNames().asScala.toSeq
      .filter(k => k.startsWith("kafka.")
        && k != "kafka.broker" && k != "kafka.topic")
      .map(k => k -> p.getProperty(k)).toMap
    GraftConfig(
      corpusRoot = s("graft.corpus.root", d.corpusRoot),
      checkpointRoot = s("graft.checkpoint.root", d.checkpointRoot),
      storeRoot = s("graft.store.root", d.storeRoot),
      triggerMs = s("graft.stream.trigger.ms", d.triggerMs.toString).toLong,
      maxFilesPerTrigger = s("graft.stream.max.files.per.trigger",
        d.maxFilesPerTrigger.toString).toInt,
      sessionCores = s("graft.session.cores", d.sessionCores.toString).toInt,
      shufflePartitions = s("graft.session.shuffle.partitions",
        d.shufflePartitions.toString).toInt,
      kafkaBrokers = s("kafka.broker", ""),
      kafkaTopics = s("kafka.topic", "").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq,
      kafkaOptions = passthrough)
  }

  def load(path: String): GraftConfig = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(path))
    try p.load(r) finally r.close()
    fromProperties(p)
  }

  /** The deployment entry point: `GRAFT_CONF=<file>` names the
    * properties file (the reference bakes /config.properties into
    * the jar; an env-named file is the same seam without a rebuild).
    * Absent or unset → all defaults.
    */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig =
    env.get("GRAFT_CONF").filter(f => Files.exists(Paths.get(f)))
      .map(load).getOrElse(GraftConfig())

  /** A [[GraftSession]] shaped by the config (parallelism knobs only —
    * the rest of the config feeds the stream drivers and stores). The
    * shuffle width is a runtime SQL conf, set on the returned session.
    */
  def session(cfg: GraftConfig, appName: String = "graft"): SparkSession = {
    val spark = GraftSession.local(cfg.sessionCores, appName)
    spark.conf.set("spark.sql.shuffle.partitions", cfg.shufflePartitions.toString)
    spark
  }
}
