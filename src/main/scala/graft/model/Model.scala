package graft.model

import org.apache.spark.sql.types._

/**
 * Data model for the dead-letter analytics engine: a Spark-native re-expression
 * of the reference's Avro schema catalog (reference: the .avsc files under
 * `src/main/avro/`, surveyed in SURVEY.md §1.3). The records are
 * Spark schemas; the hot path stays in `DataFrame` + column expressions so
 * whole-stage codegen applies.
 */

object Schemas {
  /** Kafka record envelope, identical to the columns of Spark's Kafka source with
    * `includeHeaders=true` — the engine's single input shape for both the Kafka
    * streaming source and the batch/test sources (SURVEY §1.1). */
  val kafkaEnvelope: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("headers", ArrayType(
      StructType(Seq(
        StructField("key", StringType, nullable = false),
        StructField("value", BinaryType, nullable = true))),
      containsNull = false), nullable = true)))

  val errorDescription: StructType = StructType(Seq(
    StructField("error_class", StringType, nullable = true),
    StructField("message", StringType, nullable = true),
    StructField("stack_trace", StringType, nullable = true)))

  val deadLetter: StructType = StructType(Seq(
    StructField("input_value", StringType, nullable = true),
    StructField("partition", IntegerType, nullable = true),
    StructField("topic", StringType, nullable = true),
    StructField("offset", LongType, nullable = true),
    StructField("description", StringType, nullable = false),
    StructField("cause", errorDescription, nullable = false),
    StructField("input_timestamp", TimestampType, nullable = true)))
}

/**
 * Literal header names of the three supported dead-letter wire formats.
 *
 * These are the public constants of, respectively: bakdata kafka-error-handling
 * (`ErrorHeaderProcessor`), Apache Kafka Streams KIP-1034
 * (`org.apache.kafka.streams.errors.internals.ExceptionHandlerUtils`), and Kafka
 * Connect (`org.apache.kafka.connect.runtime.errors.DeadLetterQueueReporter`).
 * The reference imports them (DeadLetterAnalyzerTopology.java:28-29); we inline
 * the literal strings since those libraries are not on our classpath.
 */
object Headers {
  // -- bakdata kafka-error-handling (format #2a; reference StreamsDeadLetterParser.java)
  val HeaderPrefix = "__streams.errors."
  val Partition: String = HeaderPrefix + "partition"
  val Topic: String = HeaderPrefix + "topic"
  val Offset: String = HeaderPrefix + "offset"
  val Description: String = HeaderPrefix + "description"
  val ExceptionClassName: String = HeaderPrefix + "exception.class.name"
  val ExceptionMessage: String = HeaderPrefix + "exception.message"
  val ExceptionStackTrace: String = HeaderPrefix + "exception.stack_trace"
  /** Faulty legacy header accepted as offset fallback: the *literal* string
    * `"HEADER_PREFIX + offset"` (reference StreamsDeadLetterParser.java:46). */
  val FaultyOffset = "HEADER_PREFIX + offset"

  // -- native Kafka Streams DLQ, KIP-1034 (format #2b; reference NativeStreamsDeadLetterParser.java)
  val NativeExceptionName: String = HeaderPrefix + "exception"
  val NativeExceptionMessageName: String = HeaderPrefix + "exception_message"
  val NativeStacktraceName: String = HeaderPrefix + "stacktrace"
  val NativeTopicName: String = HeaderPrefix + "topic"
  val NativePartitionName: String = HeaderPrefix + "partition"
  val NativeOffsetName: String = HeaderPrefix + "offset"
  val NativeProcessorNodeIdName: String = HeaderPrefix + "processor.node.id"
  val NativeTaskIdName: String = HeaderPrefix + "task.id"

  // -- Kafka Connect DLQ (format #3; reference ConnectDeadLetterParser.java)
  val ConnectPrefix = "__connect.errors."
  val ConnectOrigTopic: String = ConnectPrefix + "topic"
  val ConnectOrigPartition: String = ConnectPrefix + "partition"
  val ConnectOrigOffset: String = ConnectPrefix + "offset"
  val ConnectConnectorName: String = ConnectPrefix + "connector.name"
  val ConnectTaskId: String = ConnectPrefix + "task.id"
  val ConnectStage: String = ConnectPrefix + "stage"
  val ConnectExecutingClass: String = ConnectPrefix + "class.name"
  val ConnectException: String = ConnectPrefix + "exception.class.name"
  val ConnectExceptionMessage: String = ConnectPrefix + "exception.message"
  val ConnectExceptionStackTrace: String = ConnectPrefix + "exception.stacktrace"
}

/** Literal strings asserted by the reference test-suite (SURVEY §7.4 "Hard #5"). */
object Messages {
  /** reference HeaderHelper.java:36-46 */
  val MissingRequiredHeader = "Missing required header %s"
  val CannotParseIntFromNull = "Cannot parse int from null"
  val CannotParseLongFromNull = "Cannot parse long from null"

  /** reference DeadLetterAnalyzerTopology.java:128-137, 194-215 */
  val ErrorConvertingErrors = "Error converting errors to dead letters"
  val ErrorAnalyzing = "Error analyzing dead letter"
  val ErrorAggregating = "Error aggregating dead letters"

  /** reference NativeStreamsDeadLetterParser.java:73-75 */
  val NativeDescriptionTemplate = "Error in processor node %s in task %s"
  val Unknown = "[unknown]"

  /** reference ConnectDeadLetterParser.java:84-85 */
  val ConnectDescriptionTemplate = "Error in stage %s (%s) in %s[%d]"
}

/** Minimal JSON text escaping shared by the engine's hand-rendered JSON
  * (aggregate-error input_value) and the verify harness's oracle_sql dump:
  * backslash, quote, and ALL control chars (< 0x20). */
object JsonText {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A quoted JSON string literal. */
  def str(s: String): String = "\"" + escape(s) + "\""
}
