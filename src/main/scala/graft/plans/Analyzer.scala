package graft.plans

import graft.functions.{BruteForce, Classify, DecodeConfig}
import graft.model.Messages
import graft.operators.Parsers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The dead-letter analyzer dataflow (reference
 * DeadLetterAnalyzerTopology.buildTopology(), java:139-158), re-expressed as a
 * declarative Spark plan: DataFrame in (Kafka envelope columns), four
 * DataFrames out. Catalyst supplies analysis/optimization/codegen; the
 * only shuffle in the whole plan is the `groupBy(topic, type)` aggregation —
 * the same single repartition the reference performs
 * (DeadLetterAnalyzerTopology.java:194-197).
 *
 * Batch semantics here are the "batch twin" of the streaming topology in
 * [[graft.streaming.StreamingAnalyzer]]: same outputs, end-of-input snapshot
 * instead of per-record update stream (SURVEY §2.3 A1).
 */
object Analyzer {

  /** The four output streams (reference sinks S2–S5). */
  final case class Outputs(
      all: DataFrame, stats: DataFrame, examples: DataFrame, errors: DataFrame)

  /** Sink timestamp rendering (reference Formatter.java:42-64): fixed-width
    * `yyyy-MM-dd'T'HH:mm:ss.SSS`, in the session zone (pinned UTC —
    * deterministic across hosts) unless [[DecodeConfig]]'s `timestampZone`
    * selects the reference's host-zone wall clock. */
  def formatTimestamp(ts: Column)(implicit dc: DecodeConfig): Column = {
    val z = dc.timestampZone.map(zone => from_utc_timestamp(ts, zone)).getOrElse(ts)
    date_format(z, "yyyy-MM-dd'T'HH:mm:ss.SSS")
  }

  /** Elastic document id `{topic}+{partition}+{offset}` (reference
    * KeyedDeadLetterWithContext.java:51-54). */
  def elasticId(topic: Column, partition: Column, offset: Column): Column =
    format_string("%s+%d+%d", topic, partition, offset)

  /** Stats/examples key `{topic}:{type}` (reference DeadLetterAnalyzerTopology.java:74-76). */
  def errorKeyString(topic: Column, errorType: Column): Column =
    format_string("%s:%s", topic, errorType)

  // ---------------------------------------------------------------------------
  // Stage 1: four-way format dispatch + parse + union (T1-T8, U1)
  // ---------------------------------------------------------------------------

  /** Parse the envelope through all four format branches in a single pass.
    * Dispatch is additive (SURVEY §2.5.1): a record matching several branch
    * predicates is emitted once per matching branch — expressed as
    * explode(array_compact(...)) rather than a union of four filters, so the
    * input (a 100 TB Kafka scan at target scale) is read ONCE and all four
    * parsers share one codegen stage with common-subexpression elimination.
    * Records matching no branch are dropped, like the reference's unmatched
    * records. Output = envelope columns + `parsed: struct(dead_letter,
    * error)` + `branch`. */
  def parsed(input: DataFrame)(implicit dc: DecodeConfig): DataFrame = {
    val v = col("value"); val h = col("headers"); val ts = col("timestamp")
    def branch(name: String, predicate: Column, parser: Column): Column =
      when(predicate, struct(lit(name).as("branch"), parser.as("parsed")))
    val branches = array(
      branch("avro_value", Parsers.isAvroDeadLetter(v), Parsers.avroValue(v)),
      branch("streams_headers", Parsers.hasStreamsHeaders(h), Parsers.streamsHeaders(v, h, ts)),
      branch("native_headers", Parsers.hasNativeHeaders(h), Parsers.nativeHeaders(v, h, ts)),
      branch("connect_headers", Parsers.hasConnectHeaders(h), Parsers.connectHeaders(v, h, ts)))
    input
      .withColumn("__branch", explode(array_compact(branches)))
      .withColumn("branch", col("__branch").getField("branch"))
      .withColumn("parsed", col("__branch").getField("parsed"))
      .drop("__branch")
  }

  // ---------------------------------------------------------------------------
  // Stage 2: context enrichment + classification (T10, T12)
  // ---------------------------------------------------------------------------

  /** Successfully parsed records enriched with consumer context and the
    * classified error type (reference ContextEnricher.java:35-79). A null
    * stack trace errors into the analyze channel — reproduced as an error
    * column, not an exception (SURVEY §2.5.3). Output columns:
    * `topic, partition, offset, timestamp, key_string, error_type,
    *  dead_letter, enrich_error`. */
  def enriched(parsedOk: DataFrame)(implicit dc: DecodeConfig): DataFrame = {
    val dl = col("parsed").getField("dead_letter")
    val stackTrace = dl.getField("cause").getField("stack_trace")
    parsedOk
      .withColumn("key_string", coalesce(BruteForce.stringified(col("key")), lit("null")))
      .withColumn("dead_letter", dl)
      .withColumn("enrich_error", enrichErrorMessage(stackTrace))
      .withColumn("error_type", when(stackTrace.isNotNull, Classify.classify(stackTrace)))
      .drop("parsed")
  }

  // ---------------------------------------------------------------------------
  // Stage 3: outputs
  // ---------------------------------------------------------------------------

  /** Full pipeline over a raw envelope input. */
  def analyze(input: DataFrame)(implicit dc: DecodeConfig): Outputs = analyzeParsed(parsed(input))

  /** Pipeline from an already-parsed frame (the production topology is ONE
    * job fanning out to four sinks from a single parse pass; callers may
    * persist the parsed frame to share it). */
  def analyzeParsed(p: DataFrame)(implicit dc: DecodeConfig): Outputs = {
    val parseErrors = p.filter(col("parsed").getField("error").isNotNull)
    val ok = enriched(p.filter(col("parsed").getField("error").isNull))
    val analyzeErrors = ok.filter(col("enrich_error").isNotNull)
    val good = ok.filter(col("enrich_error").isNull)

    // Sink "all": one enriched record per dead letter
    val all = good.select(
      elasticId(col("topic"), col("partition"), col("offset")).as("key") +:
        allRecord(col("key_string"), col("dead_letter"), col("error_type")): _*)

    // Sinks "stats" + "examples": one aggregation, two projections — mirrors the
    // reference sharing one stateful result between both sinks
    // (DeadLetterAnalyzerTopology.java:148-157). Single shuffle on (topic, type).
    val aggregated = good.groupBy(col("topic"), col("error_type").as("type")).agg(
      count(lit(1)).cast("int").as("count"),
      min(col("timestamp")).as("created"),
      max(col("timestamp")).as("updated"),
      min_by(
        struct(
          col("key_string").as("key"),
          col("offset").as("offset"),
          col("partition").as("partition"),
          formatTimestamp(col("timestamp")).as("timestamp"),
          col("dead_letter").as("dead_letter")),
        // arrival order: Kafka consumption order = offset within a partition;
        // branch name breaks the tie for records emitted by several dispatch
        // branches (additive dispatch, SURVEY §2.5.1). A zero-padded sortable
        // string so batch and oracle order identically.
        format_string("%020d:%s", col("offset"), col("branch"))).as("example"))

    val stats = aggregated.select(
      errorKeyString(col("topic"), col("type")).as("key") +:
        statsRecord(col("count"), col("created"), col("updated"), col("topic"),
          col("type")): _*)

    val examples = aggregated.select(
      errorKeyString(col("topic"), col("type")).as("key"),
      col("example"),
      col("topic"),
      col("type"))

    // Error sink (T11): both capture sites as dead letters with the
    // reference's fixed descriptions; key = stringified input key (S5)
    val errors = parseErrors.select(
        coalesce(BruteForce.stringified(col("key")), lit("null")).as("key"),
        parseErrorDl(col("parsed").getField("error"), col("value"), col("timestamp"))
          .as("dead_letter"))
      .unionByName(analyzeErrors.select(col("key_string").as("key"),
        analyzeErrorDl(col("enrich_error"), col("dead_letter"), col("timestamp"))
          .as("dead_letter")))

    Outputs(all, stats, examples, errors)
  }

  /** The fields of the S2 `all` record (reference
    * `FullDeadLetterWithContext.avsc`), over a classified record's rendered
    * key, dead letter and error type and its envelope columns — ONE
    * definition for the batch `all` frame and the streaming `all` value. */
  def allRecord(keyString: Column, deadLetter: Column, errorType: Column)(
      implicit dc: DecodeConfig): Seq[Column] = Seq(
    keyString.as("context_key"), col("offset"), col("partition"),
    formatTimestamp(col("timestamp")).as("timestamp"),
    deadLetter.as("dead_letter"), col("topic"), errorType.as("type"))

  /** The fields of the S3 `stats` record — ONE definition for the batch
    * `stats` frame and the streaming stats value. Their order is the field
    * order of the reference's `FullErrorStatistics.avsc`
    * ([[graft.functions.AvroEncode.FullErrorStatisticsSchema]]), which the
    * streaming Avro encoder binds positionally. */
  def statsRecord(count: Column, created: Column, updated: Column,
      topic: Column, errorType: Column)(implicit dc: DecodeConfig): Seq[Column] = Seq(
    count.as("count"), formatTimestamp(created).as("created"),
    formatTimestamp(updated).as("updated"), topic.as("topic"),
    errorType.as("type"))

  /** The enrichment-failure message for a null stack trace — ONE definition
    * shared by batch enrichment and the streaming stateless pass (reference:
    * `stackTrace.orElseThrow()` → NoSuchElementException("No value
    * present")). */
  private[graft] def enrichErrorMessage(stackTrace: Column): Column =
    when(stackTrace.isNull, lit("No value present"))

  /** Parse-failure dead-letter value (description "Error converting errors
    * to dead letters", reference DeadLetterAnalyzerTopology.java:128-137) —
    * shared by the batch error sink and the streaming stateless pass. */
  private[graft] def parseErrorDl(err: Column, value: Column,
      timestamp: Column)(implicit dc: DecodeConfig): Column =
    errorDeadLetter(
      description = lit(Messages.ErrorConvertingErrors),
      errorClass = when(err.startsWith("For input string"),
          lit("java.lang.NumberFormatException"))
        .otherwise(lit("java.lang.IllegalArgumentException")),
      message = err,
      inputValue = BruteForce.stringified(value),
      timestamp = timestamp)

  /** Analyze-failure dead-letter value (description "Error analyzing dead
    * letter", reference DeadLetterAnalyzerTopology.java:115-124) — shared by
    * the batch error sink and the streaming stateless pass. */
  private[graft] def analyzeErrorDl(message: Column, deadLetter: Column,
      timestamp: Column): Column =
    errorDeadLetter(
      description = lit(Messages.ErrorAnalyzing),
      errorClass = lit("java.util.NoSuchElementException"),
      message = message,
      inputValue = to_json(deadLetter),
      timestamp = timestamp)

  /** DeadLetter for the engine's own processing failure (reference
    * AvroDeadLetterConverter semantics): the synthetic stack trace holds
    * `class: message` — the real Java trace does not exist in a declarative
    * plan; classification of these still lands on the exception class via the
    * first-line fallback, exactly as the reference's feedback loop does.
    * Shared with the streaming topology's aggregate error capture. */
  private[graft] def errorDeadLetter(description: Column, errorClass: Column,
      message: Column, inputValue: Column, timestamp: Column): Column =
    struct(
      inputValue.as("input_value"),
      lit(null).cast("int").as("partition"),
      lit(null).cast("string").as("topic"),
      lit(null).cast("long").as("offset"),
      description.as("description"),
      struct(
        errorClass.as("error_class"),
        message.as("message"),
        concat(errorClass, lit(": "), message).as("stack_trace")).as("cause"),
      timestamp.as("input_timestamp"))
}
