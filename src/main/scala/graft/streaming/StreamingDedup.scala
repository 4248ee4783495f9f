package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest-time exact dedup: emit only the FIRST record seen for
  * each key (e.g. a content hash) across all micro-batches of a stream.
  *
  * This is the streaming twin of [[graft.ops.Dedup.exact]]: where the batch
  * operator groups a complete corpus, this one suppresses duplicates as
  * data arrives, holding one tiny state entry (first-seen timestamp) per
  * distinct key in the checkpointed state store. State is partitioned by
  * the key hash, so it scales horizontally like any keyed stream.
  *
  * State is bounded only by the number of distinct keys: an entry never
  * expires, so a key is suppressed forever and state grows with every new
  * key. An unbounded key space needs a state store sized for it (the
  * RocksDB provider spills to local disk) or the batch operator over the
  * accumulated corpus.
  *
  * Works on batch frames too (Spark runs `flatMapGroupsWithState` with
  * batch semantics: per-group state starts empty), where it degenerates to
  * "first row per key" — handy for unit parity.
  *
  * @param keyExpr deduplication key, cast to string (use a content hash
  *   like `md5(col("text"))` — never raw long documents)
  * @param orderBy when a single micro-batch carries several rows of one
  *   key, the group iterator is UNORDERED; pass a long-castable expression
  *   (Kafka offset, event timestamp) and the minimal row wins
  *   deterministically — without it the batch's first-encountered row is
  *   kept, which can differ across crash-replays of an uncommitted batch
  */
object StreamingDedup {

  /** Streaming ingest labeled against a STATIC history corpus: the
    * incremental-dedup index ([[graft.ops.Dedup.buildIndex]]: digest
    * relation + banded minhash sketch) is built and persisted ONCE when the
    * query starts, and every micro-batch probes it
    * ([[graft.ops.Dedup.incrementalWithIndex]] — exact tier wins over near
    * tier); `sink` receives the batch's rows with `dup_of` / `dup_kind` /
    * `is_new` attached — the "is this crawl item already in the index?"
    * decision at ingest time, at O(batch) cost per increment.
    *
    * Composition notes: within-stream duplicates are [[firstSeen]]'s job
    * (chain it upstream); this operator is stateless on the stream —
    * duplicates are defined against `history` only, so recovery/replay is
    * trivially idempotent. The persisted index frames live for the query's
    * lifetime (they are deliberately NOT CacheScope-tracked, so the
    * per-batch release of probe-side intermediates leaves them cached). */
  def againstHistory(stream: DataFrame, history: DataFrame,
      threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    againstIndex(stream, graft.ops.Dedup.buildIndex(history), threshold)(sink)

  /** [[againstHistory]] with a PREBUILT index — the durable-artifact path:
    * `graft.ops.Dedup.readIndex(spark, dir)` loads the parquet index a prior
    * run wrote ([[graft.ops.Dedup.writeIndex]]), so the ingest query starts
    * probing without re-scanning the history corpus at all. The index frames
    * are persisted for the query's lifetime here (deliberately NOT
    * CacheScope-tracked, so the per-batch release of probe-side
    * intermediates leaves them cached). */
  def againstIndex(stream: DataFrame, rawIndex: graft.ops.Dedup.IncrementalIndex,
      threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    val index = rawIndex.copy(
      digests = rawIndex.digests.persist(), banded = rawIndex.banded.persist())
    stream.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val labeled = graft.ops.Dedup
          .incrementalWithIndex(index, batch, threshold = threshold)
          .join(batch, "doc_id")
        try sink(labeled, id)
        finally graft.ops.CacheScope.releaseAll(batch.sparkSession)
    }
  }

  def firstSeen(df: DataFrame, keyExpr: org.apache.spark.sql.Column,
      orderBy: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val withKey = orderBy.foldLeft(
      df.withColumn("__dedup_key", keyExpr.cast("string"))) {
      (d, c) => d.withColumn("__dedup_ord", c.cast("long"))
    }
    val rowEnc = Encoders.row(withKey.schema)
    val keyIdx = withKey.schema.fieldIndex("__dedup_key")
    val ordIdx = if (orderBy.isDefined)
      withKey.schema.fieldIndex("__dedup_ord") else -1
    val deduped = withKey.as(rowEnc)
      .groupByKey(r => r.getString(keyIdx))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else {
            state.update(System.currentTimeMillis())
            // a single micro-batch can itself carry duplicates: the
            // orderBy-minimal row wins (or the first encountered, if no
            // order was given) — O(1) memory either way
            var first = rows.next()
            if (ordIdx >= 0) {
              def ord(r: Row): Long =
                if (r.isNullAt(ordIdx)) Long.MaxValue else r.getLong(ordIdx)
              while (rows.hasNext) {
                val r = rows.next()
                if (ord(r) < ord(first)) first = r
              }
            }
            Iterator.single(first)
          }
      }(Encoders.scalaLong, rowEnc)
    deduped.drop("__dedup_key").drop("__dedup_ord")
  }
}
