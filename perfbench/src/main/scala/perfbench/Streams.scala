package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.plans.Analyzer
import graft.streaming.StreamingAnalyzer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** A streaming workload: the `rate-micro-batch` source, `rowsPerBatch`
  * rows per trigger and the next trigger as soon as one ends (a closed loop). */
final case class StreamCfg(name: String, spec: GenSpec, rowsPerBatch: Long, warmBatches: Int)

object Streams {
  val Flood = StreamCfg("dl-flood", GenSpec(topics = 50, frames = 1000, traceFrames = 40),
    rowsPerBatch = 8000, warmBatches = 3)

  /** 64-bit hash of one string, summed by `digest`. */
  def h64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x2545F491)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x7A3C1E29)
    (a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL)
  }

  /** Order-independent digest of a Dataset, as a Dataset action (so that the
    * session's `QueryExecutionListener`s see it): (rows, wrapping sum of
    * `h64` of each row's `text`). */
  def digest[T](ds: Dataset[T])(text: T => String): (Long, Long) = {
    val parts = ds.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { x => n += 1; s += h64(text(x)) }
      Iterator((n, s))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def digestIds(ids: Dataset[String]): (Long, Long) = digest(ids)(x => x)

  /** Records `[from, until)` of the generator as a batch frame. */
  def batchInput(spark: SparkSession, seed: Long, spec: GenSpec, from: Long, until: Long,
      parts: Int): DataFrame =
    spark.range(from, until, 1, parts).as[Long](Encoders.scalaLong)
      .mapPartitions(_.map(id => Gen.render(seed, id, spec)))(Encoders.product[Rec]).toDF()

  /** The generator over a `rate-micro-batch` source's rows. */
  def streamInput(spark: SparkSession, cfg: StreamCfg, seed: Long, parts: Int): DataFrame = {
    val spec = cfg.spec
    spark.readStream.format("rate-micro-batch").option("rowsPerBatch", cfg.rowsPerBatch)
      .option("numPartitions", parts).load()
      .select(col("value")).as[Long](Encoders.scalaLong)
      .mapPartitions(_.map(id => Gen.render(seed, id, spec)))(Encoders.product[Rec]).toDF()
  }

  /** One completed micro-batch, from its progress event. */
  final case class Batch(id: Long, startMs: Long, trigMs: Long, fromId: Long, untilId: Long,
      durations: Map[String, Long], stateRows: Long, stateUpdMs: Long, stateCommitMs: Long,
      stateMemBytes: Long) {
    def rows: Long = untilId - fromId
    def endMs: Long = startMs + trigMs
  }

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") 0L
    else "\"offset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(json.trim.toLong)

  /** A started query and the batches it has committed. */
  final class Running(val cfg: StreamCfg) {
    @volatile var q: StreamingQuery = _
    val sinks = new SinkLog
    val batches = new java.util.concurrent.CopyOnWriteArrayList[Batch]()
    def done: Seq[Batch] = batches.asScala.toSeq
    def nonEmpty: Seq[Batch] = done.filter(_.rows > 0)

    /** Waits until `p` holds for the committed batches. */
    def await(what: String, timeoutS: Int)(p: Seq[Batch] => Boolean): Unit = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (!p(done)) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline) sys.error(s"timed out waiting for $what")
        Thread.sleep(20)
      }
    }

      def stop(): Unit = try q.stop() catch { case _: Throwable => () }
  }

  /** Listens for progress of every benchmark query and files each batch
    * with its query. */
  final class Progress(cfgOf: String => Option[Running]) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      cfgOf(p.name).foreach { r =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val trig = d.getOrElse("triggerExecution", 0L)
        val s = p.sources.headOption
        val from = s.map(x => offsetOf(x.startOffset)).getOrElse(0L)
        val until = s.map(x => offsetOf(x.endOffset)).getOrElse(0L)
        val so = p.stateOperators.headOption
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        r.batches.add(Batch(p.batchId, startMs, trig, from, math.max(from, until), d,
          so.map(_.numRowsTotal).getOrElse(0L), so.map(_.allUpdatesTimeMs).getOrElse(0L),
          so.map(_.commitTimeMs).getOrElse(0L), so.map(_.memoryUsedBytes).getOrElse(0L)))
      }
    }
  }

  /** Per-(batch, sink) counts and digests of what the topology committed. */
  final class SinkLog {
    val rows = new ConcurrentHashMap[(Long, String), (Long, Long)]()
    def committed(batchIds: Set[Long]): Map[String, (Long, Long)] =
      rows.asScala.toSeq.filter { case ((b, _), _) => batchIds(b) }
        .groupBy(_._1._2).map { case (sink, xs) =>
          sink -> xs.map(_._2).foldLeft((0L, 0L)) { case ((n, s), (n2, s2)) => (n + n2, s + s2) }
        }
  }

  /** What the batch twin gives for records `[0, until)`: per sink, (rows,
    * digest of dedup ids). */
  def expected(spark: SparkSession, seed: Long, spec: GenSpec, until: Long,
      parts: Int): Map[String, (Long, Long)] = {
    implicit val dc: graft.functions.DecodeConfig = graft.functions.DecodeConfig()
    val p = Analyzer.parsed(batchInput(spark, seed, spec, 0, until, parts)).persist()
    try {
      val out = Analyzer.analyzeParsed(p)
      val s = Encoders.STRING
      val sourceId = Analyzer.elasticId(col("topic"), col("partition"), col("offset"))
      val err = col("parsed").getField("error")
      val parseErr = p.filter(err.isNotNull).select(sourceId).as[String](s)
      val analyzeErr = Analyzer.enriched(p.filter(err.isNull))
        .filter(col("enrich_error").isNotNull).select(sourceId).as[String](s)
      var sn = 0L; var ss = 0L; var en = 0L; var es = 0L
      out.stats.select(col("key"), col("count")).collect().foreach { r =>
        val k = r.getString(0); val c = r.getInt(1)
        var i = 1
        while (i <= c) { ss += h64(s"$k:$i"); i += 1 }
        sn += c; en += 1; es += h64(k)
      }
      Map("all" -> digestIds(out.all.select(col("key")).as[String](s)),
        "errors" -> digestIds(parseErr.union(analyzeErr)),
        "stats" -> ((sn, ss)), "examples" -> ((en, es)))
    } finally { p.unpersist(); () }
  }
}

/** Drives the streaming workloads; one instance per session. */
final class StreamRunner(spark: SparkSession, seed: Long, cores: Int, spans: Spans) {
  import Streams._

  private val queries = new ConcurrentHashMap[String, Running]()
  private val listener = new Progress(n => Option(n).flatMap(x => Option(queries.get(x))))
  spark.streams.addListener(listener)
  private var nQueries = 0

  private def checkpoint(): String = {
    val d = java.nio.file.Files.createTempDirectory("perfbench-ckpt-")
    d.toString
  }

  /** Starts `kind` ("full": the four-sink topology through `fanOut`; "parse":
    * `Analyzer.parsed` alone; "state": `StreamingAnalyzer.analyze(...).results`)
    * over the generator. */
  def start(cfg: StreamCfg, kind: String): Running = {
    implicit val dc: graft.functions.DecodeConfig = graft.functions.DecodeConfig()
    nQueries += 1
    val name = s"perfbench_${kind}_$nQueries"
    val ckpt = checkpoint()
    val in = streamInput(spark, cfg, seed, cores)
    def forced(df: DataFrame) =
      df.writeStream.foreachBatch { (b: Dataset[Row], _: Long) =>
        org.apache.spark.sql.graftbridge.forceCount(b); ()
      }.option("checkpointLocation", ckpt)
    val r = new Running(cfg)
    val writer = kind match {
      case "full" =>
        StreamingAnalyzer.fanOut(StreamingAnalyzer.unified(in), ckpt) { (sink, frame) =>
          val batch = spark.sparkContext.getLocalProperty("streaming.sql.batchId").toLong
          val d = spans.time(s"streaming.fanout.$sink", batch.toString) {
            digestIds(frame.select(col("dedup_id")).as[String](Encoders.STRING))
          }
          r.sinks.rows.put((batch, sink), d)
        }
      case "parse" => forced(Analyzer.parsed(in))
      case "state" => forced(StreamingAnalyzer.analyze(in).results)
    }
    queries.put(name, r)
    r.q = writer.queryName(name).start()
    r
  }

  def close(): Unit = {
    queries.values.asScala.foreach(_.stop())
    spark.streams.removeListener(listener)
  }
}
