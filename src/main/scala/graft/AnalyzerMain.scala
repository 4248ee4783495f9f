package graft

import graft.sources.DeadLetterSource
import graft.streaming.StreamingAnalyzer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Production entry point: regex-pattern Kafka source → streaming analyzer →
 * the four Kafka sinks from ONE query and ONE checkpoint (reference
 * `DeadLetterAnalyzerApplication.java:43-71`, CLI surface `README.md:33-41`).
 *
 * CLI mirrors the reference:
 *   --brokers host:port            Kafka bootstrap servers        (required)
 *   --input-pattern regex          topic subscription pattern     (required)
 *   --output-topic name            "all" sink topic               (required)
 *   --error-topic name             engine-failure dead letters    (required)
 *   --extra-output-topics stats=name,examples=name  labeled sinks
 *                                  (default: <output-topic>-stats/-examples,
 *                                  mirroring the reference's topic labels)
 *   --checkpoint-dir path          checkpoint location of the unified query
 *   --avro-schema-files id=path,...  Avro writer schemas by numeric id, read
 *                                  from local files (static registry)
 *   --schema-registry-url url      Confluent schema registry; ids it does not
 *                                  know fall back to --avro-schema-files
 *   --timestamp-zone host|ZONE_ID  zone of rendered sink timestamps
 *                                  (default: the session's UTC rendering)
 *
 * Pointing --error-topic at a topic matching --input-pattern closes the
 * reference's feedback loop: the engine re-analyzes its own failures (the
 * cycle passes through Kafka; the Spark plan stays acyclic, SURVEY §2.1 S5).
 *
 * The whole topology is ONE streaming query: the statistics state exists
 * once, recovery replays one checkpoint, and each micro-batch fans out to
 * the four topics via batch Kafka writes
 * ([[StreamingAnalyzer.unified]]/[[StreamingAnalyzer.fanOut]]) — the
 * compute-once-and-branch shape of the reference
 * (DeadLetterAnalyzerTopology.java:139-158). Each micro-batch's offset range
 * is scanned and decoded once: the rendered sink rows ride through the one
 * stateful exchange beside the fields the statistics need (the shuffle trade
 * is stated at [[StreamingAnalyzer.unified]]). The statistics state lives in
 * Spark's RocksDB state store, like the reference's one RocksDB-backed
 * `"statistics"` store (DeadLetterAnalyzerTopology.java:220-226).
 *
 * The Kafka connector (`spark-sql-kafka-0-10`) is not part of the Spark
 * distribution; without it [[topology]] fails at construction with a
 * message naming the artifact to add.
 */
object AnalyzerMain {

  final case class Config(
      brokers: String, inputPattern: String, outputTopic: String,
      errorTopic: String, statsTopic: String, examplesTopic: String,
      checkpointDir: String, avroSchemaFiles: Map[Int, String] = Map.empty,
      schemaRegistryUrl: Option[String] = None,
      timestampZone: Option[String] = None) {
    /** Decode configuration: schema files read AND parse-validated once at
      * startup (fail fast on malformed schema JSON instead of at first
      * decode on an executor), wrapped in the static [[graft.functions
      * .SchemaProvider]]. With `--schema-registry-url` the live
      * [[graft.functions.HttpRegistrySchemas]] client resolves ids
      * registry-first (the reference's chain,
      * DeadLetterAnalyzerTopology.java:102-105), falling back to the static
      * files for ids the registry doesn't know. */
    def decodeConfig: graft.functions.DecodeConfig = {
      val static = graft.functions.StaticSchemas(
        avroSchemaFiles.map { case (id, path) =>
          try {
            val json = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
            new org.apache.avro.Schema.Parser().parse(json)
            id -> json
          } catch { case e: Exception => throw new IllegalArgumentException(
            s"--avro-schema-files $id=$path: unreadable or invalid Avro schema: $e\n$Usage") }
        })
      val provider = schemaRegistryUrl
        .map(u => graft.functions.HttpRegistrySchemas(u, fallback = static))
        .getOrElse[graft.functions.SchemaProvider](static)
      graft.functions.DecodeConfig(provider, timestampZone = timestampZone)
    }
  }

  private val Usage =
    "usage: AnalyzerMain --brokers B --input-pattern P --output-topic T " +
      "--error-topic E [--extra-output-topics stats=S,examples=X] " +
      "[--checkpoint-dir DIR] [--avro-schema-files id=path,...] " +
      "[--schema-registry-url URL] [--timestamp-zone host|ZONE_ID]"

  private val Flags = Set("brokers", "input-pattern", "output-topic",
    "error-topic", "extra-output-topics", "checkpoint-dir", "avro-schema-files",
    "schema-registry-url", "timestamp-zone")

  def parseArgs(args: Array[String]): Config = {
    // strict pairwise parse: every token must be a known --flag followed by
    // its value — a lone, mispositioned or mistyped flag fails loudly with
    // usage instead of silently shifting the pairing or being ignored
    val kv = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val k = args(i)
      if (!k.startsWith("--") || i + 1 >= args.length)
        throw new IllegalArgumentException(s"unexpected argument '$k'\n$Usage")
      if (!Flags.contains(k.drop(2)))
        throw new IllegalArgumentException(s"unknown flag '$k'\n$Usage")
      if (kv.contains(k.drop(2)))
        throw new IllegalArgumentException(s"repeated flag '$k'\n$Usage")
      kv(k.drop(2)) = args(i + 1)
      i += 2
    }
    def req(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$Usage"))
    val out = req("output-topic")
    // a flag's comma-separated key=value entries, each key at most once: a
    // repeated key fails rather than silently keeping its last value
    def entries[K](flag: String, want: String)(
        entry: PartialFunction[Array[String], (K, String)]): Map[K, String] = {
      val parsed = kv.get(flag).toSeq.flatMap(_.split(",")).map { e =>
        entry.applyOrElse(e.split("=", 2), (_: Array[String]) =>
          throw new IllegalArgumentException(
            s"malformed --$flag entry '$e' (want $want)\n$Usage"))
      }
      val keys = parsed.map(_._1)
      keys.diff(keys.distinct).headOption.foreach { k =>
        throw new IllegalArgumentException(s"repeated --$flag entry '$k'\n$Usage")
      }
      parsed.toMap
    }
    val extra = entries[String]("extra-output-topics",
        "stats=topic or examples=topic") {
      case Array(label @ ("stats" | "examples"), topic) if topic.nonEmpty =>
        label -> topic
    }
    val schemaFiles = entries[Int]("avro-schema-files",
        s"numericId=path, id at most ${Int.MaxValue}") {
      case Array(id, path) if id.forall(_.isDigit) && id.toIntOption.isDefined =>
        id.toInt -> path
    }
    // reference parity: it renders sink timestamps in the HOST zone
    // (Formatter.java:60-62); "host" resolves the submitting JVM's zone.
    // Default (absent) keeps the engine's deterministic session-UTC rendering.
    val tsZone = kv.get("timestamp-zone").map {
      case "host" => java.time.ZoneId.systemDefault().getId
      case z =>
        try java.time.ZoneId.of(z).getId
        catch { case e: java.time.DateTimeException => throw new IllegalArgumentException(
          s"unknown --timestamp-zone '$z': ${e.getMessage}\n$Usage") }
    }
    Config(
      brokers = req("brokers"),
      inputPattern = req("input-pattern"),
      outputTopic = out,
      errorTopic = req("error-topic"),
      statsTopic = extra.getOrElse("stats", s"$out-stats"),
      examplesTopic = extra.getOrElse("examples", s"$out-examples"),
      checkpointDir = kv.getOrElse("checkpoint-dir", {
        // a node-local default silently restarts exactly-once state from
        // scratch when the driver lands on a different node — acceptable
        // only for local smoke runs, so make the choice loud
        System.err.println(
          "[graft] WARNING: no --checkpoint-dir given; defaulting to " +
            "/tmp/graft-analyzer-checkpoints (NODE-LOCAL). A restart on " +
            "another node starts offsets and statistics state from scratch " +
            "- pass a durable shared path (HDFS/S3) for any real deployment.")
        "/tmp/graft-analyzer-checkpoints"
      }),
      avroSchemaFiles = schemaFiles,
      schemaRegistryUrl = kv.get("schema-registry-url"),
      timestampZone = tsZone)
  }

  /** The state store provider class for a store name: `"rocksdb"` names
    * Spark's RocksDB provider, which [[main]] always sets — it keeps the
    * statistics state on executor-local disk rather than the heap. Any other
    * name gives `None` (Spark's default heap-backed provider). The `String`
    * parameter stays only because the benchmark harness calls
    * `stateStoreProviderClass("rocksdb")`. */
  def stateStoreProviderClass(stateStore: String): Option[String] =
    Option.when(stateStore == "rocksdb")(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Build the full production topology as ONE streaming query: a single
    * Kafka source read, a single statistics state, one checkpoint; each
    * micro-batch fans the tagged unified frame out to the four topics via
    * batch Kafka writes. Construction validates the plan (source + transforms
    * analyzed by Catalyst); nothing starts until `.start()`. */
  def topology(spark: SparkSession, cfg: Config): DataStreamWriter[Row] = {
    implicit val dc: graft.functions.DecodeConfig = cfg.decodeConfig
    val input = requireKafkaConnector(spark) {
      DeadLetterSource.kafka(spark, cfg.brokers, cfg.inputPattern)
    }
    val topicOf = Map(
      "all" -> cfg.outputTopic, "stats" -> cfg.statsTopic,
      "examples" -> cfg.examplesTopic, "errors" -> cfg.errorTopic)
    StreamingAnalyzer.fanOut(
      StreamingAnalyzer.unified(input), cfg.checkpointDir) { (name, frame) =>
      frame
        .select(col("key").cast("binary").as("key"), col("value"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", cfg.brokers)
        .option("topic", topicOf(name))
        .save()
    }
  }

  /** Run `body`, turning Spark's "data source not found" for `kafka` into a
    * message that names the missing connector artifact and the version to
    * match. Spark 4.1 reports a missing `kafka` provider as
    * `_LEGACY_ERROR_TEMP_1140` (an `AnalysisException`). */
  private def requireKafkaConnector[T](spark: SparkSession)(body: => T): T =
    try body catch {
      case e: Throwable with org.apache.spark.SparkThrowable
          if e.getCondition == "_LEGACY_ERROR_TEMP_1140" =>
        val scalaBinary =
          scala.util.Properties.versionNumberString.split('.').take(2).mkString(".")
        throw new IllegalStateException(
          "the Kafka connector is not on the classpath: add " +
            s"org.apache.spark:spark-sql-kafka-0-10_$scalaBinary:${spark.version} " +
            "(e.g. spark-submit --packages) to run the dead-letter analyzer", e)
    }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .appName(s"dead-letter-analyzer-${cfg.outputTopic}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        stateStoreProviderClass("rocksdb").get)
      .getOrCreate()
    topology(spark, cfg).queryName("dead-letter-analyzer").start()
    spark.streams.awaitAnyTermination()
  }
}
