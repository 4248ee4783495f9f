package graft.sources

import graft.model.{Headers => H}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Sources for the analyzer.
 *
 * Production source is Kafka ([[kafka]]); for the batch/oracle harness,
 * [[envelope]] deterministically synthesizes Kafka-envelope dead-letter records
 * from the driver-generated `events` table (TESTDATA.md), covering all four
 * wire formats plus every error scenario of the reference test-suite
 * (FIXTURES.md §3-§6). The synthesis is pure column arithmetic on
 * `event_id`/`user_id`/`event_type`/`ts`/`props`, so the DuckDB oracle can
 * compute the expected pipeline outputs independently (graft.OracleSql).
 *
 * Scenario matrix — `mode = event_id % 20`, wire format = `mode % 4`
 * (0=Avro-value, 1=bakdata-streams headers, 2=native-streams headers,
 * 3=Connect headers); `st_kind = event_id % 3` picks the stack-trace shape
 * (frame / exception-line / unparseable):
 *   mode 0  Avro dead letter with null stack trace  → "Error analyzing dead letter"
 *   mode 1  streams: TOPIC header absent            → "Missing required header …topic"
 *   mode 2  native: partition header present+null   → "Cannot parse int from null"
 *   mode 3  connect: task.id = "NaN"                → |For input string: "NaN"|
 *   mode 5  streams AND connect headers             → additive dispatch: 2 branch rows
 *   mode 6  native: no topic header                 → null original topic
 *   mode 7  connect: no orig/exception headers      → null stack trace → analyze error
 *   mode 10 native: no processor/task headers       → "[unknown]" description
 *   mode 13 streams: faulty legacy offset header    → offset still parsed
 *   mode 17 streams: EXCEPTION_MESSAGE present+null → null message
 *   others  happy path
 */
object DeadLetterSource {

  private val headerArrayType = "array<struct<key:string,value:binary>>"

  /** The events table; its parquet stores TIMESTAMP(NANOS) which Spark only
    * reads as epoch-nano longs (spark.sql.legacy.parquet.nanosAsLong). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // The driver's testdata writes TIMESTAMP(NANOS), which Spark only reads
    // as a nanos LONG (nanosAsLong above). A source written with ordinary
    // µs timestamps arrives as TimestampType instead — normalize it to the
    // same nanos-long `ts` so every downstream `ts div 1000` micro/day
    // arithmetic is schema-independent.
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** Kafka streaming source with the engine's envelope columns. `pattern` is
    * the regex topic subscription (reference `--input-pattern`). Requires the
    * spark-sql-kafka connector on the classpath at runtime. */
  def kafka(spark: SparkSession, bootstrapServers: String, pattern: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribePattern", pattern)
      .option("includeHeaders", "true")
      .load()
      .select(col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("key"), col("value"), col("headers"))

  private def hdr(name: String, v: Column): Column =
    array(struct(lit(name).as("key"), v.cast("binary").as("value")))

  private def hdrIf(cond: Column, name: String, v: Column): Column =
    when(cond, hdr(name, v)).otherwise(array().cast(headerArrayType))

  /** The scenario frame: events + synthesized stack traces / header field
    * values, before envelope assembly. Public so queries can exercise single
    * stages (e.g. the classifier) against the oracle's closed-form expected
    * values. */
  def scenario(spark: SparkSession, sfDir: String): DataFrame = {
    // spread: the envelope synthesis + downstream 4-branch parse is heavy
    // per-row work, and the events file arrives as one partition at test
    // scale (graft.ops.Par) — the Kafka source in production is already wide.
    val base = graft.ops.Par.spread(events(spark, sfDir)).select(
      col("event_id"), col("user_id"), col("event_type"), col("props"),
      expr("timestamp_micros(ts div 1000)").as("timestamp"),
      (col("event_id") % 20).as("mode"),
      (col("event_id") % 3).as("st_kind"))

    val mode = col("mode"); val stKind = col("st_kind"); val eid = col("event_id")

    base
      .withColumn("fmt", mode % 4)
      .withColumn("stack_trace",
        when(stKind === 0, concat(
          lit("org.example.FailureException: handling event "), eid,
          lit("\n\tat com.example.app.Handler.handle(Handler.java:"),
          (eid % 500) + 1, lit(")"),
          lit("\n\tat org.example.Runner.run(Runner.java:42)")))
        .when(stKind === 1, concat(lit("java.lang.IllegalStateException: bad state "), eid % 7))
        .otherwise(concat(lit("!! corrupted frame "), eid % 5)))
      .withColumn("error_class",
        when(stKind === 0, lit("org.example.FailureException"))
          .when(stKind === 1, lit("java.lang.IllegalStateException"))
          .otherwise(lit("java.lang.RuntimeException")))
      .withColumn("msg", concat(lit("error for event "), eid))
      .withColumn("orig_topic", concat(lit("orig-"), col("event_type")))
      .withColumn("orig_partition", (col("user_id") % 4).cast("string"))
      .withColumn("orig_offset", (eid * 10).cast("string"))
      .withColumn("descr", concat(lit("failure in "), col("event_type")))
  }

  /** Deterministic Kafka-envelope synthesis from `events` (see object doc). */
  def envelope(spark: SparkSession, sfDir: String): DataFrame = {
    val withScenario = scenario(spark, sfDir)
    val mode = col("mode"); val stKind = col("st_kind"); val eid = col("event_id")
    val st = col("stack_trace"); val fmt = col("fmt")

    // format 0: the value IS a dead letter, interchanged as compact JSON
    // (BruteForce decode chain step 2); null stack trace when mode 0.
    val avroValue = to_json(struct(
      col("props").as("input_value"),
      (col("user_id") % 4).cast("int").as("partition"),
      col("orig_topic").as("topic"),
      (eid * 10).as("offset"),
      col("descr").as("description"),
      struct(
        when(stKind === 2, lit(null).cast("string")).otherwise(col("error_class")).as("error_class"),
        col("msg").as("message"),
        when(mode === 0, lit(null).cast("string")).otherwise(st).as("stack_trace")).as("cause"),
      unix_millis(col("timestamp")).as("input_timestamp")))

    val streamsHeaders = concat(
      hdr(H.Partition, col("orig_partition")),
      hdrIf(mode =!= 1, H.Topic, col("orig_topic")),
      hdrIf(mode =!= 13, H.Offset, col("orig_offset")),
      hdrIf(mode === 13, H.FaultyOffset, col("orig_offset")),
      hdr(H.Description, col("descr")),
      hdr(H.ExceptionClassName, col("error_class")),
      hdrIf(mode === 17, H.ExceptionMessage, lit(null).cast("string")),
      hdrIf(mode =!= 17, H.ExceptionMessage, col("msg")),
      hdr(H.ExceptionStackTrace, st))

    val nativeHeaders = concat(
      hdrIf(mode === 2, H.NativePartitionName, lit(null).cast("string")),
      hdrIf(mode =!= 2, H.NativePartitionName, col("orig_partition")),
      hdrIf(mode =!= 6, H.NativeTopicName, col("orig_topic")),
      hdr(H.NativeOffsetName, col("orig_offset")),
      hdrIf(mode =!= 10, H.NativeProcessorNodeIdName,
        concat(lit("proc-"), col("user_id") % 3)),
      hdrIf(mode =!= 10, H.NativeTaskIdName, concat(lit("task-"), col("user_id") % 5)),
      hdr(H.NativeExceptionName, col("error_class")),
      hdr(H.NativeExceptionMessageName, col("msg")),
      hdr(H.NativeStacktraceName, st))

    val connectHeaders = concat(
      hdrIf(mode =!= 7, H.ConnectOrigPartition, col("orig_partition")),
      hdrIf(mode =!= 7, H.ConnectOrigTopic, col("orig_topic")),
      hdrIf(mode =!= 7, H.ConnectOrigOffset, col("orig_offset")),
      hdr(H.ConnectStage,
        when(eid % 2 === 0, lit("VALUE_CONVERTER")).otherwise(lit("KEY_CONVERTER"))),
      hdr(H.ConnectExecutingClass, lit("org.apache.kafka.connect.json.JsonConverter")),
      hdrIf((mode =!= 7) && (stKind =!= 2), H.ConnectException, col("error_class")),
      hdr(H.ConnectTaskId,
        when(mode === 3, lit("NaN")).otherwise((col("user_id") % 10).cast("string"))),
      hdr(H.ConnectConnectorName, concat(lit("conn-"), col("event_type"))),
      hdrIf(mode =!= 7, H.ConnectExceptionMessage, col("msg")),
      hdrIf(mode =!= 7, H.ConnectExceptionStackTrace, st))

    withScenario.select(
      concat(col("event_type"), lit("-dead-letters")).as("topic"),
      (col("user_id") % 8).cast("int").as("partition"),
      eid.as("offset"),
      col("timestamp"),
      concat(lit("key-"), col("user_id")).cast("binary").as("key"),
      when(fmt === 0, avroValue).otherwise(col("props")).cast("binary").as("value"),
      concat(
        when(fmt === 1, streamsHeaders)
          .when(fmt === 2, nativeHeaders)
          .when(fmt === 3, connectHeaders)
          .otherwise(array().cast(headerArrayType)),
        // mode 5: a record carrying BOTH streams and connect headers —
        // exercises additive branch dispatch (SURVEY §2.5.1)
        when(mode === 5, connectHeaders).otherwise(array().cast(headerArrayType))
      ).as("headers"))
  }
}
