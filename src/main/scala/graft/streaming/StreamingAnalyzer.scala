package graft.streaming

import graft.functions.{BruteForce, Classify}
import graft.model.Messages
import graft.plans.Analyzer

import org.apache.spark.sql.{graftbridge, Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming topology: the reference's continuously-updated outputs
 * (SURVEY §2.3 A1) with Kafka-Streams emission semantics. [[unified]] +
 * [[fanOut]] is the one topology: one query, one source read, one statistics
 * state, four sinks.
 *
 * The stateless stages (dispatch, parse, enrich, classify) are the SAME column
 * pipeline as the batch twin ([[Analyzer.parsed]]/[[Analyzer.enriched]]), and
 * the `all` and `stats` records are the batch twin's field lists
 * ([[Analyzer.allRecord]]/[[Analyzer.statsRecord]]) — one definition, two
 * execution modes. The stateful stage is
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

  /** The fields of one classified record that the aggregate reads: only
    * what the stats/examples sinks and an aggregate-error row need. In
    * [[unified]] these ride beside the rendered sink row (see [[Carried]]);
    * only they are buffered per group. */
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
  def aggregateWith(onRecord: Enriched => Unit)(
      key: (String, String), rows: Iterator[Enriched],
      state: GroupState[StatsState]): Iterator[StatResult] = {
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

  /** The stateful stage alone: the per-record update stream of
    * [[aggregateWith]] over the classified records, one [[StatResult]] row
    * each. */
  final case class StreamingOutputs(results: DataFrame)

  /** The statistics state's input and output without the sinks: parse,
    * enrich, keep the classified records, then one `groupBy(topic, type)`
    * exchange into `flatMapGroupsWithState`. [[unified]] is the topology
    * that runs; this frame measures its stateful stage on its own (perfbench
    * `state` layer), over the same state key and value schemas. */
  def analyze(input: DataFrame,
      onAggRecord: Enriched => Unit = _ => ())(
      implicit dc: graft.functions.DecodeConfig): StreamingOutputs = {
    val good = Analyzer.enriched(
        Analyzer.parsed(input).filter(col("parsed").getField("error").isNull))
      .filter(col("enrich_error").isNull)
    val stats = statsInput(col("topic"), col("error_type"), col("key_string"),
      col("dead_letter"))
    StreamingOutputs(good
      .select(stats.fields :+ stats.key1.as("_1") :+ stats.key2.as("_2"): _*)
      .groupBy(col("_1"), col("_2"))
      .as[(String, String), Enriched](StateKey, Encoders.product[Enriched])
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        aggregateWith(onAggRecord))(
        Encoders.product[StatsState], Encoders.product[StatResult])
      .toDF())
  }

  /** A classified record's input to the statistics state: its [[Enriched]]
    * fields as named columns and its state key `(_1, _2) = (topic, errorType)`,
    * built from the record's topic, error type, rendered key and dead letter.
    * [[analyze]] and [[unified]] both group by these, so the key columns
    * match the state key schema that checkpoints hold: [[StateKey]]'s two
    * nullable strings, whatever nullability the input declares. */
  private final case class StatsInput(fields: Seq[Column], key1: Column, key2: Column)

  private def statsInput(topic: Column, errorType: Column, keyString: Column,
      deadLetter: Column): StatsInput = {
    def nullable(c: Column) = graftbridge.column(KnownNullable(graftbridge.expression(c)))
    StatsInput(
      Seq(topic.as("topic"), errorType.as("errorType"), keyString.as("key"),
        col("offset"), col("partition"),
        unix_micros(col("timestamp")).as("timestampUs"),
        deadLetter.getField("description").as("description")),
      nullable(topic), nullable(errorType))
  }

  private val StateKey = Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** Fan-out order of the four sinks. */
  val SinkNames: Seq[String] = Seq("all", "stats", "examples", "errors")

  /** One record of the [[unified]] frame, named as the frame's columns. */
  final case class SinkRow(sink: String, key: String, value: Array[Byte],
      dedup_id: String)

  /** A parsed branch row on its way into the stateful exchange: its rendered
    * stateless sink row (`all`, or `errors` for a parse or analyze failure)
    * and, for a classified record only, the narrow [[Enriched]] fields the
    * aggregate needs. */
  final case class Carried(row: SinkRow, enriched: Option[Enriched])

  /** One row out of the stateful operator: a carried sink row passed
    * through, or one per-record aggregate result. */
  final case class Emitted(row: Option[SinkRow], result: Option[StatResult])

  /** The per-group function of [[unified]]. Each carried sink row is
    * emitted as it is pulled from the group iterator, so the rendered
    * payloads stream through; only the narrow fields are buffered, and
    * [[aggregateWith]] then runs over them in `(timestamp, offset)` order.
    * A pass-only group (parse and analyze errors) carries no narrow fields,
    * so it emits its rows and never touches state. */
  def passAndAggregate(onRecord: Enriched => Unit)(
      key: (String, String), rows: Iterator[Carried],
      state: GroupState[StatsState]): Iterator[Emitted] = {
    val narrow = scala.collection.mutable.ArrayBuffer.empty[Enriched]
    val passed = rows.map { c =>
      c.enriched.foreach(narrow += _)
      Emitted(Some(c.row), None)
    }
    // `++` takes its argument by name: the aggregate runs once the carried
    // rows are drained
    passed ++ aggregateWith(onRecord)(key, narrow.iterator, state)
      .map(r => Emitted(None, Some(r)))
  }

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
    * Plan shape: one path from the source scan to the sinks, so each record
    * is decoded once. One projection over [[Analyzer.parsed]] renders each
    * branch row's stateless sink row and its narrow [[Enriched]] fields;
    * one `groupBy(topic, type)` exchange feeds `flatMapGroupsWithState`
    * ([[passAndAggregate]]), which passes the carried rows through and
    * emits the per-record results; each result row then explodes into its
    * stats row, optional example row and optional aggregate-error row. A
    * pass-only row is keyed `(elastic id, null)`: a key no classified record
    * has, spread across tasks rather than funnelled into one, and one that
    * never holds state. The state key `(_1, _2)` and value schemas are
    * byte-identical to those of [[analyze]] (both group by [[statsInput]]).
    *
    * The trade: the rendered rows, not only the narrow fields, cross the
    * exchange (LZ4-compressed shuffle). Kafka Streams repartitions only the
    * narrow stream; here that would cost a second decode of every record.
    * The exchange places each classified record's rendered `all` row in the
    * task of its `(topic, type)` key, so this pays off when a batch's
    * records spread over many keys (perfbench `dl-flood`: ~6.4 k classified
    * records of an 8 k-row trigger over ~2.2 k keys, the largest holding
    * under 1 %). When one key dominates — a flood from one failing service
    * with one error type — one task deserializes, re-serializes and writes
    * nearly the whole batch's payload. */
  def unified(input: DataFrame, onAggRecord: Enriched => Unit = _ => ())(
      implicit dc: graft.functions.DecodeConfig): DataFrame = {
    val err = col("parsed").getField("error")
    val dl = col("parsed").getField("dead_letter")
    val stackTrace = dl.getField("cause").getField("stack_trace")
    // the classifier's regexes run once per row: CollapseProject does not
    // inline a non-cheap expression into a projection that uses it 3×
    val p = Analyzer.parsed(input).withColumn("__type", Classify.classify(stackTrace))
    val errorType = col("__type")
    val classified = err.isNull && stackTrace.isNotNull
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

    // Stateless rows — the SAME dead-letter builders as the batch error sink
    // (one definition; parity drift between batch and streaming would
    // otherwise go unnoticed until a sink diff), one per-row case.
    val parseDl = Analyzer.parseErrorDl(err, col("value"), col("timestamp"))
    val analyzeDl = Analyzer.analyzeErrorDl(
      Analyzer.enrichErrorMessage(stackTrace), dl, col("timestamp"))
    val allValue = to_json(struct(Analyzer.allRecord(keyString, dl, errorType): _*))
    val sourceId = Analyzer.elasticId(col("topic"), col("partition"), col("offset"))
    val stats = statsInput(col("topic"), errorType, keyString, dl)
    val carried = p.select(
      when(err.isNotNull, row("errors", keyString, to_json(parseDl), sourceId))
        .when(stackTrace.isNull,
          row("errors", keyString, to_json(analyzeDl), sourceId))
        .otherwise(row("all", sourceId, allValue, sourceId))
        .as("row"),
      when(classified, struct(stats.fields: _*)).as("enriched"),
      when(classified, stats.key1).otherwise(sourceId).as("_1"),
      when(classified, stats.key2).as("_2"))

    val emitted = carried
      .groupBy(col("_1"), col("_2"))
      .as[(String, String), Carried](StateKey, Encoders.product[Carried])
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        passAndAggregate(onAggRecord))(
        Encoders.product[StatsState], Encoders.product[Emitted])
      .toDF()
      .select(col("row"), col("result.*"))

    val isResult = col("row").isNull
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
    emitted.select(
      explode(array_compact(array(
        col("row"),
        when(isResult && col("aggError").isNull, row("stats", statsKey,
          statsAvroEncode(Analyzer.statsRecord(col("count"),
            timestamp_micros(col("createdUs")), timestamp_micros(col("updatedUs")),
            col("topic"), col("errorType")): _*),
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
      .select(col("r.sink").as("sink"), col("r.key").as("key"),
        col("r.value").as("value"), col("r.dedup_id").as("dedup_id"))
  }

  /** Run the [[unified]] topology as ONE streaming query, fanning each
    * micro-batch out to the four sinks through `write(sinkName, frame)` where
    * `frame` is the batch's `(key string, value binary)` slice for that sink
    * (production: a batch Kafka write per topic; tests: an in-memory
    * collector). The batch is cut from its lineage (`localCheckpoint`, lazy)
    * before the per-sink filters: the first sink write computes the
    * micro-batch once — source scan, decode, state updates — and leaves its
    * rows as executor blocks; the other three read that leaf instead of
    * shipping the micro-batch plan to every task. The blocks are released
    * when the batch's writes end.
    *
    * The cut trades fault tolerance inside a batch: persisted blocks could be
    * recomputed from lineage, checkpointed ones cannot. If an executor
    * holding some of them is lost between two sink writes (preemption,
    * dynamic allocation), the next write fails ("checkpoint block not
    * found"), the query stops, and a restart replays the batch under the
    * replay-idempotence contract below (StreamingSpec pins this by dropping
    * the blocks between writes).
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
          val cut = batch.localCheckpoint(eager = false)
          try SinkNames.foreach { name =>
            write(name, cut.filter(col("sink") === name)
              .select("key", "value", "dedup_id"))
          } finally graftbridge.checkpointRdd(cut).foreach(_.unpersist(blocking = false))
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
        "already committed - skipping (crash landed between sink writes " +
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

  /** Confluent-framed Avro encoder for the stats value, as a UDF over the
    * fields of [[Analyzer.statsRecord]] in their order (no spark-avro jar on
    * the classpath — see [[graft.functions.AvroEncode]]). The reference's
    * serde distinction: the stats topic carries plain Avro values, every
    * other sink string-rendered ones (DeadLetterAnalyzerTopology.java:149-152). */
  private lazy val statsAvroEncode = {
    val enc = graft.functions.AvroEncode(
      graft.functions.AvroEncode.FullErrorStatisticsSchema,
      graft.functions.AvroEncode.FullErrorStatisticsId)
    udf((count: Int, created: String, updated: String,
        topic: String, tpe: String) =>
      enc.encode(count, created, updated, topic, tpe))
  }
}
