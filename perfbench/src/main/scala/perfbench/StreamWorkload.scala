package perfbench

import org.apache.spark.sql.SparkSession

/**
 * `dl-flood`: the four-sink topology (`StreamingAnalyzer.unified` +
 * `fanOut`) over the generator, in a closed loop.
 *
 * Set-up runs from JVM start to the commit of the query's first non-empty
 * batch: session, plan, codegen and state-store start. The query then warms
 * up for `warmBatches` batches and is timed for `--seconds`.
 */
object StreamWorkload {
  import Streams._

  /** Throughput and record latencies of the batches timed from `fromMs`. */
  final case class Window(rows: Long, wallMs: Long, latencies: Array[Double], batches: Seq[Batch]) {
    def rps: Double = rows * 1000.0 / wallMs
  }

  /** Waits for `seconds` of batches starting at or after `fromMs` and
    * measures them. Every record of a trigger is there when it starts (a
    * closed loop), so a record's latency is its trigger's duration. */
  def window(r: Running, fromMs: Long, seconds: Double): Window = {
    def timed(bs: Seq[Batch]) = bs.filter(b => b.rows > 0 && b.startMs >= fromMs)
    r.await("timed window", (seconds * 10 + 120).toInt)(bs =>
      timed(bs).exists(_.endMs >= fromMs + seconds * 1000))
    val bs = timed(r.done).sortBy(_.id)
    val lat = bs.flatMap(b => Iterator.fill(b.rows.toInt)(b.trigMs.toDouble)).toArray
    Window(bs.map(_.rows).sum, bs.last.endMs - fromMs, lat, bs)
  }

  /** Every batch committed so far must form the id range `[0, n)`; returns n. */
  def committedRange(r: Running): Option[Long] = {
    val bs = r.done.filter(_.rows > 0).sortBy(_.fromId)
    val contiguous = bs.nonEmpty && bs.head.fromId == 0 &&
      bs.zip(bs.drop(1)).forall { case (a, b) => a.untilId == b.fromId }
    if (contiguous) Some(bs.last.untilId) else None
  }

  /** Compares what the sinks committed with the batch twin over the same
    * id range; any difference fails the run. */
  def check(spark: SparkSession, a: Args, cfg: StreamCfg, r: Running, res: Result): Unit = {
    committedRange(r) match {
      case None => res.fail("committed batches do not form one id range")
      case Some(n) =>
        val ids = r.done.filter(_.rows > 0).map(_.id).toSet
        val got = r.sinks.committed(ids)
        val want = expected(spark, a.seed, cfg.spec, n, a.cores)
        SinkNames.foreach { s =>
          val g = got.getOrElse(s, (0L, 0L))
          if (g != want(s)) res.fail(s"sink $s: got ${g._1} rows/${g._2}, want ${want(s)._1}/${want(s)._2}")
        }
        res.env("checked_records") = n.toString
    }
  }

  val SinkNames: Seq[String] = graft.streaming.StreamingAnalyzer.SinkNames

  /** The generator alone over `n` records, timed; and the parse stage's
    * output rows per input record. */
  def renderProbe(spark: SparkSession, a: Args, cfg: StreamCfg, n: Long): (Double, Double) = {
    val in = batchInput(spark, a.seed, cfg.spec, 0, n, a.cores)
    org.apache.spark.sql.graftbridge.forceCount(in) // compile + JIT
    val t0 = System.nanoTime()
    org.apache.spark.sql.graftbridge.forceCount(in)
    val rps = n / ((System.nanoTime() - t0) / 1e9)
    val branchRows = graft.plans.Analyzer.parsed(in)(graft.functions.DecodeConfig()).count()
    (rps, branchRows.toDouble / n)
  }

  /** Closed-loop throughput of a prefix of the topology. */
  def prefix(runner: StreamRunner, cfg: StreamCfg, kind: String, seconds: Double): Double = {
    val r = runner.start(cfg, kind)
    try {
      r.await(s"$kind warm-up", 300)(_.count(_.rows > 0) >= 1)
      window(r, r.nonEmpty.head.endMs, seconds).rps
    } finally r.stop()
  }

  def run(a: Args, cfg: StreamCfg, res: Result, spans: Spans): Unit = {
    val spark = Main.session(a, a.cores)
    val probes = if (a.trace) new Probes(spark) else null
    spans.on = a.trace
    val runner = new StreamRunner(spark, a.seed, a.cores, spans)
    val r = runner.start(cfg, "full")
    r.await("first batch", 600)(_.exists(_.rows > 0))
    res.put("setup_s", (r.nonEmpty.head.endMs - Jvm.startMs) / 1000.0, "s")
    Log("set-up done")
    r.await("warm-up", 600)(_.count(_.rows > 0) >= cfg.warmBatches)
    val heapSetup = Jvm.oldGenAfterGcMb()
    if (a.trace) probes.reset()
    val snap0 = if (a.trace) probes.snap() else null
    val w = window(r, r.nonEmpty.last.endMs, a.seconds)
    Log(s"window done: ${w.batches.size} batches")
    val layer = if (a.trace) probes.layerMetrics(snap0) else Nil
    val heapEnd = Jvm.oldGenAfterGcMb()
    spans.on = false
    r.stop()
    res.attempted = w.rows
    res.env("batches") = w.batches.size.toString
    res.env("rows_per_batch_median") = Stats.median(w.batches.map(_.rows.toDouble)).toString
    res.env("trigger_ms") = r.nonEmpty.map(_.trigMs).mkString(",")
    res.env("batch_detail") = r.nonEmpty.map { b =>
      s"${b.durations.getOrElse("addBatch", 0L)}/${b.durations.getOrElse("walCommit", 0L)}/" +
        s"${b.durations.getOrElse("commitOffsets", 0L)}/${b.stateUpdMs}/${b.stateCommitMs}"
    }.mkString(" ")
    check(spark, a, cfg, r, res)
    Log("check done")
    if (!a.trace) {
      res.put("throughput_per_s", w.rps, "1/s")
      res.put("latency_p50_ms", Stats.quantile(w.latencies.toSeq, 0.50), "ms")
      res.put("latency_p99_ms", Stats.quantile(w.latencies.toSeq, 0.99), "ms")
      res.put("heap_peak_mb", math.max(heapSetup, heapEnd), "MB")
      runner.close()
    } else {
      val bs = w.batches
      def med(f: Batch => Double) = Stats.median(bs.map(f))
      def dur(k: String) = med(_.durations.getOrElse(k, 0L).toDouble)
      res.putAll(layer)
      res.put("trace.throughput_per_s", w.rps, "1/s")
      res.put("driver.trigger_ms", med(_.trigMs.toDouble), "ms")
      res.put("driver.query_planning_ms", dur("queryPlanning"), "ms")
      res.put("driver.add_batch_ms", dur("addBatch"), "ms")
      res.put("driver.wal_commit_ms", dur("walCommit"), "ms")
      res.put("driver.commit_offsets_ms", dur("commitOffsets"), "ms")
      res.put("streaming.state_keys", bs.last.stateRows.toDouble, "count")
      res.put("streaming.state_update_ms", med(_.stateUpdMs.toDouble), "ms")
      res.put("streaming.state_commit_ms", med(_.stateCommitMs.toDouble), "ms")
      res.put("streaming.state_memory_mb", bs.last.stateMemBytes / 1048576.0, "MB")
      val ids = bs.map(b => b.id.toString).toSet
      val jobs = probes.exec.jobsPerBatch.filter { case (id, _) => ids(id) }
      res.put("streaming.fanout_jobs_per_batch",
        if (jobs.isEmpty) 0.0 else Stats.median(jobs.values.map(_.toDouble).toSeq), "count")
      val sinkRows = r.sinks.committed(bs.map(_.id).toSet)
      SinkNames.foreach { s =>
        val sp = spans.all.filter(x => x.name == s"streaming.fanout.$s" && ids(x.parent))
        res.put(s"streaming.fanout_write_ms.$s",
          if (sp.isEmpty) 0.0 else Stats.median(sp.map(_.ms.toDouble)), "ms")
        res.put(s"streaming.fanout_rows.$s", sinkRows.getOrElse(s, (0L, 0L))._1.toDouble / bs.size,
          "count")
      }
      res.put("plans.error_share", sinkRows.getOrElse("errors", (0L, 0L))._1.toDouble / w.rows,
        "ratio")
      val prefixS = math.max(2.0, a.seconds / 2.0)
      res.put("plans.parse_rps", prefix(runner, cfg, "parse", prefixS), "1/s")
      Log("parse prefix done")
      res.put("streaming.state_rps", prefix(runner, cfg, "state", prefixS), "1/s")
      Log("state prefix done")
      val (renderRps, branchRows) = renderProbe(spark, a, cfg, cfg.rowsPerBatch * 4)
      res.put("sources.render_rps", renderRps, "1/s")
      // the generator must not set the number it is measured by
      if (renderRps < 5 * w.rps)
        res.fail(f"generator renders $renderRps%.0f rec/s, under 5 x ${w.rps}%.0f rec/s")
      res.put("plans.branch_rows_per_record", branchRows, "ratio")
      runner.close()
      OpsBatch.idleOpsMetrics(res)
      // the same topology on one core, for the scaling baseline
      spark.stop()
      val one = Main.session(a, 1)
      val r1 = new StreamRunner(one, a.seed, 1, new Spans)
      val q1 = r1.start(cfg, "full")
      q1.await("1-core warm-up", 600)(_.count(_.rows > 0) >= 1)
      val w1 = window(q1, q1.nonEmpty.head.endMs, 1)
      r1.close()
      res.put("exec.scaling_1core", w.rps / w1.rps, "ratio")
      res.env("throughput_per_s_1core") = w1.rps.toString
      Log("1-core run done")
    }
    // a failed check fails every record of the window
    if (!res.correct) res.failed = res.attempted
  }
}
