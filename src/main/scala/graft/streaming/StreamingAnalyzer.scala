package graft.streaming

import java.sql.Timestamp

import graft.functions.{BruteForce, Classify}
import graft.model.Messages
import graft.plans.Analyzer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming topology: the reference's continuously-updated outputs
 * (SURVEY §2.3 A1) with Kafka-Streams emission semantics.
 *
 * The stateless stages (dispatch, parse, enrich, classify) are the SAME column
 * pipeline as the batch twin ([[Analyzer.parsed]]/[[Analyzer.enriched]]) —
 * one definition, two execution modes. The stateful stage is
 * `flatMapGroupsWithState` in Append mode with NO timeout (reference state
 * never expires), keyed by (topic, error type), holding
 * count/created/updated/seen-example and emitting ONE updated result per input
 * record — including the first-example exactly-once-EVER guarantee across
 * micro-batches, which `groupBy().agg()` in update mode cannot express
 * (reference ErrorAggregatingProcessor.java:83-92, Result.java:33-41).
 *
 * Scale: state width is one small struct per (topic, error type) — key
 * cardinality is topics × error types, unrelated to input volume; the
 * stateful exchange is the topology's single shuffle, exactly like the
 * reference's one repartition topic (DeadLetterAnalyzerTopology.java:194-197).
 */
object StreamingAnalyzer {

  /** One enriched record at the stateful boundary (kept narrow: only what the
    * stats/examples sinks need — the deserialized-object stage should carry
    * minimal columns, everything wide stays in the codegen'd stages). */
  final case class Enriched(
      topic: String, errorType: String, key: String, offset: Long,
      partition: Int, timestampUs: Long, description: String)

  final case class StatsState(count: Int, createdUs: Long, updatedUs: Long)

  /** The aggregate stage's error capture payload (third
    * processValuesCapturingErrors site, reference
    * DeadLetterAnalyzerTopology.java:194-215): enough of the failed record to
    * build its dead letter. */
  final case class AggError(
      errorClass: String, message: String, recordKey: String,
      inputValue: String, timestampUs: Long, offset: Long, partition: Int)

  /** Per-record emission: statistics after this record, plus the example
    * payload only when this record is the first EVER for its key; OR an
    * aggregation failure (`aggError` set, stat fields zeroed, state
    * untouched) — the record dead-letters instead of killing the query. */
  final case class StatResult(
      topic: String, errorType: String, count: Int, createdUs: Long,
      updatedUs: Long, exampleKey: Option[String], exampleOffset: Option[Long],
      examplePartition: Option[Int], exampleTimestampUs: Option[Long],
      exampleDescription: Option[String], aggError: Option[AggError])

  private def jsonStr(s: String): String = graft.model.JsonText.str(s)

  /** `ErrorUtil.toString`-style rendering of the enriched record, used as the
    * failed record's `input_value` on the error topic. */
  private def renderEnriched(r: Enriched): String =
    s"""{"topic":${jsonStr(r.topic)},"errorType":${jsonStr(r.errorType)},""" +
      s""""key":${jsonStr(r.key)},"offset":${r.offset},""" +
      s""""partition":${r.partition},"timestampUs":${r.timestampUs},""" +
      s""""description":${jsonStr(r.description)}}"""

  /** reference ErrorAggregatingProcessor.process: merge = (count+, min, max);
    * example set only when no prior state. Rows of one group within a
    * micro-batch are applied in (timestamp, offset) order — the group
    * iterator itself is unordered, so the sort is what pins which record is
    * "first" deterministically across retries. `onRecord` is the
    * processor body hook (no-op in production; tests inject a poisoned one) —
    * ANY failure while aggregating a record is captured per the reference's
    * third error channel: the record surfaces as a dead letter with
    * description "Error aggregating dead letters", state is left as it was,
    * and the stream continues. */
  def aggregateWith(onRecord: Enriched => Unit,
      stateTtlMs: Option[Long] = None)(
      key: (String, String), rows: Iterator[Enriched],
      state: GroupState[StatsState]): Iterator[StatResult] = {
    // Optional state TTL — a scale extension OFF by default: reference state
    // never expires (SURVEY §2.4/§4; key cardinality is topics × error
    // types, so parity mode is safe). With a TTL, an idle key's stats are
    // dropped and its next record starts a fresh count/example epoch.
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val ordered = rows.toIndexedSeq.sortBy(r => (r.timestampUs, r.offset))
    ordered.iterator.map { r =>
      try {
        onRecord(r)
        val prior = state.getOption
        val next = prior match {
          case Some(s) => StatsState(s.count + 1,
            math.min(s.createdUs, r.timestampUs), math.max(s.updatedUs, r.timestampUs))
          case None => StatsState(1, r.timestampUs, r.timestampUs)
        }
        state.update(next)
        stateTtlMs.foreach(state.setTimeoutDuration)
        val first = prior.isEmpty
        StatResult(key._1, key._2, next.count, next.createdUs, next.updatedUs,
          if (first) Some(r.key) else None,
          if (first) Some(r.offset) else None,
          if (first) Some(r.partition) else None,
          if (first) Some(r.timestampUs) else None,
          if (first) Some(r.description) else None,
          None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          StatResult(key._1, key._2, 0, 0L, 0L, None, None, None, None, None,
            Some(AggError(e.getClass.getName,
              Option(e.getMessage).getOrElse(""), r.key, renderEnriched(r),
              r.timestampUs, r.offset, r.partition)))
      }
    }
  }

  /** Production aggregate: the plain processor body. */
  def aggregate(key: (String, String), rows: Iterator[Enriched],
      state: GroupState[StatsState]): Iterator[StatResult] =
    aggregateWith(_ => ())(key, rows, state)

  /** The streaming outputs: `all` is a stateless projection of the shared
    * column pipeline; `results` is the per-record update stream carrying
    * stats and (on first occurrence) the example; `errors` unions all THREE
    * capture sites — parse, analyze (stateless), and aggregate (carried
    * through `results`, reference's third processValuesCapturingErrors). */
  final case class StreamingOutputs(all: DataFrame, results: DataFrame, errors: DataFrame)

  def analyze(input: DataFrame,
      onAggRecord: Enriched => Unit = _ => (),
      stateTtlMs: Option[Long] = None)(
      implicit dc: graft.functions.DecodeConfig): StreamingOutputs = {
    val p = Analyzer.parsed(input)
    val parseErrors = p.filter(col("parsed").getField("error").isNotNull)
    val ok = Analyzer.enriched(p.filter(col("parsed").getField("error").isNull))
    val analyzeErrors = ok.filter(col("enrich_error").isNotNull)
    val good = ok.filter(col("enrich_error").isNull)

    val all = good.select(
      Analyzer.elasticId(col("topic"), col("partition"), col("offset")).as("key"),
      col("key_string").as("context_key"),
      col("offset"), col("partition"),
      Analyzer.formatTimestamp(col("timestamp")).as("timestamp"),
      col("dead_letter"), col("topic"), col("error_type").as("type"))

    val results = statResults(good, onAggRecord, stateTtlMs)

    val errors = Analyzer.errorsOf(parseErrors, analyzeErrors)
      .unionByName(aggregateErrors(results))
    StreamingOutputs(all, results, errors)
  }

  /** The stateful stage: narrow projection → one `groupByKey` exchange →
    * `flatMapGroupsWithState`. Shared by [[analyze]] and [[unified]]. */
  private def statResults(good: DataFrame, onAggRecord: Enriched => Unit,
      stateTtlMs: Option[Long]): DataFrame = {
    implicit val enc = Encoders.product[Enriched]
    val narrow: Dataset[Enriched] = good.select(
      col("topic"), col("error_type").as("errorType"), col("key_string").as("key"),
      col("offset"), col("partition"), unix_micros(col("timestamp")).as("timestampUs"),
      col("dead_letter").getField("description").as("description")).as[Enriched]

    val timeout =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    narrow
      .groupByKey(r => (r.topic, r.errorType))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        aggregateWith(onAggRecord, stateTtlMs))(
        Encoders.product[StatsState], Encoders.product[StatResult])
      .toDF()
  }

  /** Fan-out order of the four sinks. */
  val SinkNames: Seq[String] = Seq("all", "stats", "examples", "errors")

  /** The WHOLE topology as ONE streaming frame: every output record tagged
    * with its sink name, shaped
    * `(sink string, key string, value binary, dedup_id string)` — `dedup_id`
    * is the record-level idempotence handle (see [[fanOut]]).
    * Combined with [[fanOut]] this runs the four sinks as a single streaming
    * query — one source read, one statistics state, one checkpoint — the way
    * the reference computes once and branches
    * (DeadLetterAnalyzerTopology.java:139-158). (Running each sink as its own
    * query consumes the source 4× and keeps 3 independent copies of the
    * statistics state under separate checkpoints, diverging on recovery.)
    *
    * Plan shape: the source forks exactly twice. One STATELESS pass emits the
    * `all` rows and both stateless error channels from a single case
    * projection (each input row lands in exactly one branch). One STATEFUL
    * pass feeds `flatMapGroupsWithState`; its subtree is referenced EXACTLY
    * ONCE — each StatResult row explodes into its stats row, optional example
    * row, and optional aggregate-error row. Filtering the result stream three
    * times (as the per-sink projections do in per-query mode) would plant
    * three independent state stores in one plan, tripling state writes. */
  def unified(input: DataFrame, onAggRecord: Enriched => Unit = _ => (),
      stateTtlMs: Option[Long] = None)(
      implicit dc: graft.functions.DecodeConfig): DataFrame = {
    val p = Analyzer.parsed(input)
    val err = col("parsed").getField("error")
    val dl = col("parsed").getField("dead_letter")
    val stackTrace = dl.getField("cause").getField("stack_trace")
    val keyString = coalesce(BruteForce.stringified(col("key")), lit("null"))
    // dedup_id: a DETERMINISTIC per-record identity, identical on replay —
    // source-derived rows use the elastic id of the input record; stateful
    // rows derive from the (deterministically recovered + sorted) state
    // epoch. A sink that upserts by (sink, dedup_id) — a log-compacted topic
    // keyed by it, or a consumer-side keyed store — observes EXACTLY-ONCE
    // effect even when a crash in the middle of the four per-topic writes
    // replays the batch (the window the per-batch commit markers leave).
    def row(sink: String, key: Column, value: Column, dedupId: Column): Column =
      struct(lit(sink).as("sink"), key.as("key"),
        value.cast("binary").as("value"), dedupId.as("dedup_id"))

    // Stateless pass — the SAME dead-letter builders as Analyzer.errorsOf
    // (one definition; parity drift between batch and streaming would
    // otherwise go unnoticed until a sink diff), fused into one per-row
    // case so the parse pipeline runs once.
    val parseDl = Analyzer.parseErrorDl(err, col("value"), col("timestamp"))
    val analyzeDl = Analyzer.analyzeErrorDl(
      Analyzer.enrichErrorMessage(stackTrace), dl, col("timestamp"))
    val allValue = to_json(struct(
      keyString.as("context_key"), col("offset"), col("partition"),
      Analyzer.formatTimestamp(col("timestamp")).as("timestamp"),
      dl.as("dead_letter"), col("topic"),
      Classify.classify(stackTrace).as("type")))
    val sourceId = Analyzer.elasticId(col("topic"), col("partition"), col("offset"))
    val stateless = p.select(
      when(err.isNotNull, row("errors", keyString, to_json(parseDl), sourceId))
        .when(stackTrace.isNull,
          row("errors", keyString, to_json(analyzeDl), sourceId))
        .otherwise(row("all", sourceId, allValue, sourceId))
        .as("r"))

    // Stateful pass — referenced once; per-result-row 1→N expansion.
    val good = Analyzer.enriched(p.filter(err.isNull))
      .filter(col("enrich_error").isNull)
    val results = statResults(good, onAggRecord, stateTtlMs)
    val statsKey = Analyzer.errorKeyString(col("topic"), col("errorType"))
    val examplesValue = to_json(struct(
      col("exampleKey"), col("exampleOffset"), col("examplePartition"),
      Analyzer.formatTimestamp(timestamp_micros(col("exampleTimestampUs")))
        .as("exampleTimestamp"),
      col("exampleDescription"), col("topic"), col("errorType").as("type")))
    val aggErrDl = Analyzer.errorDeadLetter(
      description = lit(Messages.ErrorAggregating),
      errorClass = col("aggError.errorClass"),
      message = col("aggError.message"),
      inputValue = col("aggError.inputValue"),
      timestamp = timestamp_micros(col("aggError.timestampUs")))
    val fromResults = results.select(
      explode(array_compact(array(
        when(col("aggError").isNull, row("stats", statsKey,
          statsAvroEncode(col("count"),
            Analyzer.formatTimestamp(timestamp_micros(col("createdUs"))),
            Analyzer.formatTimestamp(timestamp_micros(col("updatedUs"))),
            col("topic"), col("errorType")),
          // state recovery restores the batch-start counts and rows apply
          // in sorted order, so a replayed batch re-emits the SAME
          // (key, count) sequence — the count makes the id per-record
          concat(statsKey, lit(":"), col("count").cast("string")))),
        when(col("aggError").isNull && col("exampleKey").isNotNull,
          row("examples", statsKey, examplesValue, statsKey)),
        when(col("aggError").isNotNull,
          row("errors", col("aggError.recordKey"), to_json(aggErrDl),
            Analyzer.elasticId(col("topic"), col("aggError.partition"),
              col("aggError.offset")))))))
        .as("r"))

    stateless.unionByName(fromResults)
      .select(col("r.sink").as("sink"), col("r.key").as("key"),
        col("r.value").as("value"), col("r.dedup_id").as("dedup_id"))
  }

  /** Run the [[unified]] topology as ONE streaming query, fanning each
    * micro-batch out to the four sinks through `write(sinkName, frame)` where
    * `frame` is the batch's `(key string, value binary)` slice for that sink
    * (production: a batch Kafka write per topic; tests: an in-memory
    * collector). The batch is persisted before the per-sink filters — load
    * bearing: without it each sink's action re-executes the batch plan,
    * re-running the source scan and re-applying the state updates.
    *
    * Replay idempotence: sink writes and Spark's offset commit are not
    * atomic, so a crash BETWEEN them replays the batch on restart — the
    * dominant duplicate-delivery window of any foreachBatch sink. A commit
    * marker per batch id (written to `$checkpointDir/sink-commits/<id>`
    * AFTER all four sink writes) closes it: the replayed batch sees its
    * marker and skips. The remaining window — a crash in the MIDDLE of the
    * four writes — is closed at the RECORD level: every sink frame carries a
    * deterministic `dedup_id` column (identical on replay, see [[unified]]),
    * so a sink that upserts by it (log-compacted topic keyed by dedup_id, or
    * a consumer-side keyed store) observes exactly-once EFFECT; a replayed
    * partial batch re-sends the same ids and the duplicates collapse
    * (StreamingSpec pins this with a crash-mid-batch replay). Sinks that
    * ignore `dedup_id` (plain appends, as the reference-parity Kafka keys
    * must stay the record keys) remain at-least-once inside that narrowed
    * window — the documented delivery contract (README Known deltas). */
  def fanOut(unified: DataFrame, checkpointDir: String)(
      write: (String, DataFrame) => Unit): DataStreamWriter[Row] =
    unified.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[Row], id: Long) => {
        runBatchOnce(batch.sparkSession, checkpointDir, id) {
          batch.persist()
          try SinkNames.foreach { name =>
            write(name, batch.filter(col("sink") === name)
              .select("key", "value", "dedup_id"))
          } finally {
            batch.unpersist()
            ()
          }
        }
        ()
      }
    }.option("checkpointLocation", checkpointDir)

  /** How many sink-commit markers to retain; replay only ever concerns the
    * most recent uncommitted batch, so this is bounded housekeeping, not a
    * correctness knob. */
  private val SinkCommitRetention = 100L

  /** Execute `body` unless batch `id` already committed its sink writes
    * (marker present). Returns true when the body ran. Markers live with the
    * checkpoint (same Hadoop FS — HDFS/S3 in production), are written only
    * after `body` succeeds, and are pruned past [[SinkCommitRetention]]. */
  private[graft] def runBatchOnce(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String, id: Long)(body: => Unit): Boolean = {
    val commits = new org.apache.hadoop.fs.Path(checkpointDir, "sink-commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(commits, id.toString)
    if (fs.exists(marker)) {
      System.err.println(s"[graft] batch $id replayed with sink writes " +
        "already committed — skipping (crash landed between sink writes " +
        "and the offset commit)")
      false
    } else {
      body
      fs.mkdirs(commits)
      fs.create(marker, true).close()
      fs.listStatus(commits).foreach { s =>
        val n = s.getPath.getName
        if (n.forall(_.isDigit) && n.toLong < id - SinkCommitRetention)
          fs.delete(s.getPath, false)
      }
      true
    }
  }

  /** Aggregate-stage failures projected to the error-sink shape (key +
    * DeadLetter with the reference's literal description). */
  def aggregateErrors(results: DataFrame): DataFrame =
    results.filter(col("aggError").isNotNull).select(
      col("aggError.recordKey").as("key"),
      Analyzer.errorDeadLetter(
        description = lit(graft.model.Messages.ErrorAggregating),
        errorClass = col("aggError.errorClass"),
        message = col("aggError.message"),
        inputValue = col("aggError.inputValue"),
        timestamp = timestamp_micros(col("aggError.timestampUs"))).as("dead_letter"))

  /** Project the per-record result stream into the stats sink shape
    * (FullErrorStatistics). */
  def statsSink(results: DataFrame)(
      implicit dc: graft.functions.DecodeConfig): DataFrame = results
    .filter(col("aggError").isNull).select(
    Analyzer.errorKeyString(col("topic"), col("errorType")).as("key"),
    col("count"),
    Analyzer.formatTimestamp(timestamp_micros(col("createdUs"))).as("created"),
    Analyzer.formatTimestamp(timestamp_micros(col("updatedUs"))).as("updated"),
    col("topic"), col("errorType").as("type"))

  /** Stats sink values as Confluent-framed binary Avro — the reference's
    * serde distinction: the stats topic overrides to plain Avro values while
    * every other sink is string-rendered (DeadLetterAnalyzerTopology
    * .java:149-152). Shaped as exactly (key, value) so [[toKafka]] passes the
    * frames through unwrapped. */
  def statsAvroValues(stats: DataFrame): DataFrame =
    stats.select(col("key"),
      statsAvroEncode(col("count"), col("created"), col("updated"),
        col("topic"), col("type")).as("value"))

  /** Confluent-framed Avro encoder for FullErrorStatistics rows, as a UDF
    * (no spark-avro jar on the classpath — see [[graft.functions.AvroEncode]]). */
  private lazy val statsAvroEncode = {
    val enc = graft.functions.AvroEncode(
      graft.functions.AvroEncode.FullErrorStatisticsSchema,
      graft.functions.AvroEncode.FullErrorStatisticsId)
    udf((count: Int, created: String, updated: String,
        topic: String, tpe: String) =>
      enc.encode(count, created, updated, topic, tpe))
  }

  /** Project first-occurrence results into the examples sink shape (T15: 0-or-1
    * expansion on the first-example flag). */
  def examplesSink(results: DataFrame)(
      implicit dc: graft.functions.DecodeConfig): DataFrame = results
    .filter(col("aggError").isNull && col("exampleKey").isNotNull)
    .select(
      Analyzer.errorKeyString(col("topic"), col("errorType")).as("key"),
      col("exampleKey"), col("exampleOffset"), col("examplePartition"),
      Analyzer.formatTimestamp(timestamp_micros(col("exampleTimestampUs")))
        .as("exampleTimestamp"),
      col("exampleDescription"), col("topic"), col("errorType").as("type"))

}
