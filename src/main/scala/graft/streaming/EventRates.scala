package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked windowed rates over an event stream — the third stateful
  * streaming shape the engine supports, next to the per-record
  * `flatMapGroupsWithState` statistics ([[StreamingAnalyzer]]) and the
  * first-seen dedup ([[StreamingDedup]]).
  *
  * Spark-first: `withWatermark` + `window()` + `groupBy().count()` is
  * entirely built-in — windows are state store entries keyed by
  * (window, group), partial-aggregated map-side, and EVICTED once the
  * watermark passes the window end, which is what bounds state at an
  * unbounded stream: without the watermark every window ever seen stays
  * resident. Late rows inside the allowed lateness update their window;
  * rows older than the watermark are dropped (counted upstream by the
  * `numRowsDroppedByWatermark` metric, not silently invisible).
  *
  * Output (Append mode): one final row per closed (window, group) —
  * downstream sinks see each window exactly once, after it can no longer
  * change. */
object EventRates {

  /** Per-window counts of `groupCol` over event-time `tsCol` (a timestamp
    * column), windows of `windowDur` with `lateness` allowed out-of-order
    * arrival. */
  def windowedCounts(events: DataFrame, tsCol: String, groupCol: String,
      windowDur: String = "1 minute", lateness: String = "1 minute"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col(groupCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(groupCol), col("n"))
}
