package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.ops.CacheScope

import org.apache.spark.sql.Row

/**
 * `ops-batch`: `SparkEntry.queries` over the sf0.01 tables, each query timed
 * to completion. The timed action is one order-independent digest over all
 * output columns, compared with digests recorded from outputs that passed
 * the DuckDB oracle (`dev/check.py`).
 *
 * Set-up is JVM start, session and one untimed pass, which builds the
 * shared `dl_*` parse cache on first use. (`SparkEntry.prewarm` is not
 * called: it builds fixtures for queries outside this list and takes longer
 * than a whole run may.)
 * Timed passes then repeat in the seed's query order until `--seconds` have
 * passed (at least one pass).
 */
object OpsBatch {

  /** The six `dl_*` queries (the analyzer's batch twin), the ROADMAP
    * targets that fit the run length, and two controls. */
  val Queries: Seq[String] = Seq(
    "dl_classify", "dl_parsed", "dl_all", "dl_stats", "dl_examples", "dl_errors",
    "web_url_canonical", "text_dup_spans", "search_bm25", "q3_join")

  def family(q: String): String = q match {
    case x if x.startsWith("dl_") => "plans.batch_s"
    case x if x.startsWith("web_") => "ops.web_s"
    case "text_dup_spans" | "search_bm25" => "ops.text_s"
    case _ => "ops.relational_s"
  }
  val Families: Seq[String] = Queries.map(family).distinct

  /** Canonical text of one value: doubles to 9 significant digits (the
    * last bits of a float sum depend on partitioning), maps by key. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
    case f: Float => String.format(java.util.Locale.ROOT, "%.6e", Double.box(f.toDouble))
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  def idleOpsMetrics(res: Result): Unit = {
    Families.foreach(f => res.put(f, 0.0, "s"))
    res.put("ops.cachescope_release_ms", 0.0, "ms")
    res.put("ops.cachescope_blocks", 0.0, "count")
    Queries.foreach(q => res.put(s"driver.codegen_fallbacks.$q", 0.0, "count"))
  }

  def idleStreamMetrics(res: Result): Unit = {
    Seq("plans.parse_rps", "streaming.state_rps", "sources.render_rps")
      .foreach(res.put(_, 0.0, "1/s"))
    Seq("plans.branch_rows_per_record", "plans.error_share", "exec.scaling_1core")
      .foreach(res.put(_, 0.0, "ratio"))
    Seq("driver.trigger_ms", "driver.query_planning_ms", "driver.add_batch_ms",
      "driver.wal_commit_ms", "driver.commit_offsets_ms", "streaming.state_update_ms",
      "streaming.state_commit_ms").foreach(res.put(_, 0.0, "ms"))
    res.put("streaming.state_keys", 0.0, "count")
    res.put("streaming.state_memory_mb", 0.0, "MB")
    res.put("streaming.fanout_jobs_per_batch", 0.0, "count")
    StreamWorkload.SinkNames.foreach { s =>
      res.put(s"streaming.fanout_write_ms.$s", 0.0, "ms")
      res.put(s"streaming.fanout_rows.$s", 0.0, "count")
    }
  }

  private def readExpected(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"([a-z0-9_]+)\"\\s*:\\s*\\[\\s*(-?\\d+)\\s*,\\s*(-?\\d+)\\s*\\]".r.findAllMatchIn(s)
        .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
    }
  }

  final case class Exec(query: String, pass: Int, ms: Double, ok: Boolean, fallbacks: Int,
      releaseMs: Double, blocks: Int)

  def run(a: Args, res: Result, spans: Spans): Unit = {
    val spark = Main.session(a, a.cores,
      // as graft.Bench: the list's classes must survive between passes
      Map("spark.sql.codegen.cache.maxEntries" -> "5000"))
    val dir = a.data
    val want = readExpected(a.expected)
    val order = new scala.util.Random(a.seed).shuffle(Queries)
    res.env("query_order") = order.mkString(",")
    val execs = mutable.ArrayBuffer.empty[Exec]
    val got = mutable.LinkedHashMap.empty[String, (Long, Long)]

    def once(q: String, pass: Int, release: Boolean = true): Exec = {
      val f0 = CodegenFallbacks.count.get
      val t0 = System.nanoTime()
      val d = try Some(spans.time(s"ops.query.$q", s"pass-$pass") {
        Streams.digest(SparkEntry.queries(q)(spark, dir))(canon)
      }) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      Log(f"$q pass $pass: $ms%.0f ms")
      val fb = CodegenFallbacks.count.get - f0
      val blocks = CacheScope.trackedCount(spark)
      val r0 = System.nanoTime()
      if (release) CacheScope.releaseAll(spark)
      val releaseMs = (System.nanoTime() - r0) / 1e6
      val ok = d.isDefined && (a.record || want.get(q).contains(d.get))
      got.synchronized { // the untimed pass calls this from several threads
        d.foreach(x => got(q) = x)
        if (!ok && d.isDefined) res.notes += s"$q digest ${d.get} != expected ${want.get(q)}"
      }
      Exec(q, pass, ms, ok, fb, releaseMs, blocks)
    }

    val probes = if (a.trace) new Probes(spark) else null
    val snapSetup = if (a.trace) probes.snap() else null
    // the untimed pass runs the queries concurrently, `cores` at a time:
    // it compiles every class, builds the shared caches and warms the JIT in
    // less wall time than one pass after another would
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    val warm = try order.map(q => pool.submit(() => once(q, 0, release = false))).map(_.get)
      finally pool.shutdown()
    CacheScope.releaseAll(spark)
    Log("untimed pass done")
    res.put("setup_s", (System.currentTimeMillis() - Jvm.startMs) / 1000.0, "s")
    var heap = Jvm.oldGenAfterGcMb()
    res.env("heap_samples_mb") = f"$heap%.1f,"
    if (a.trace) probes.reset()
    spans.on = a.trace
    val snap0 = if (a.trace) probes.snap() else null
    val t0 = System.nanoTime()
    val passWall = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      pass += 1
      val p0 = System.nanoTime()
      execs ++= order.map(once(_, pass))
      passWall += (System.nanoTime() - p0) / 1e9
      Log(s"pass $pass: ${passWall.last} s")
      val h = Jvm.oldGenAfterGcMb()
      heap = math.max(heap, h)
      res.env("heap_samples_mb") = res.env.getOrElse("heap_samples_mb", "") + f"$h%.1f,"
    }
    val layer = if (a.trace) probes.layerMetrics(snap0) else Nil
    spans.on = false

    res.attempted = execs.size
    res.failed = execs.count(!_.ok)
    if (warm.exists(!_.ok)) res.fail("a query failed in the untimed pass")
    if (res.failed > 0) res.correct = false
    val wall = Stats.median(passWall.toSeq)
    // latency percentiles across the queries, each at its median over passes
    val lat = execs.groupBy(_.query).values.map(e => Stats.median(e.map(_.ms).toSeq)).toSeq
    if (!a.trace) {
      res.put("throughput_per_s", order.size / wall, "1/s")
      res.put("latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
      res.put("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
      res.put("heap_peak_mb", heap, "MB")
    }
    res.env("passes") = pass.toString
    res.env("wall_s") = wall.toString
    res.env("query_p50_s") = (Stats.quantile(lat, 0.5) / 1000).toString

    if (a.record) {
      val body = got.toSeq.sortBy(_._1).map { case (q, (n, s)) => s"""  "$q": [$n, $s]""" }
      java.nio.file.Files.write(java.nio.file.Paths.get(a.expected),
        body.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    }

    if (a.trace) {
      // per-pass values: the window's totals divided by the passes
      res.putAll(layer.map { case (n, v, u) =>
        if (u == "ratio") (n, v, u) else (n, v / pass, u) })
      // codegen runs in the untimed pass, which set-up includes
      res.put("driver.codegen_compile_ms", snap0.codegenMs - snapSetup.codegenMs, "ms")
      res.put("driver.codegen_classes", (snap0.codegenN - snapSetup.codegenN).toDouble, "count")
      Families.foreach { f =>
        res.put(f, execs.filter(e => family(e.query) == f).map(_.ms).sum / 1000 / pass, "s")
      }
      res.put("ops.cachescope_release_ms", execs.map(_.releaseMs).sum / pass, "ms")
      res.put("ops.cachescope_blocks", execs.map(_.blocks).sum.toDouble / pass, "count")
      Queries.foreach { q =>
        res.put(s"driver.codegen_fallbacks.$q",
          execs.filter(_.query == q).map(_.fallbacks).sum.toDouble / pass, "count")
      }
      idleStreamMetrics(res)
      res.put("trace.throughput_per_s", order.size / wall, "1/s")
    }
  }
}
