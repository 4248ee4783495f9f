package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval recorded by the benchmark around a call into a layer. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String) {
  def ms: Long = endMs - startMs
}

/** In-memory span and counter store; written out when the run ends. */
final class Spans {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var on = false
  def time[T](name: String, parent: String = "")(body: => T): T = {
    if (!on) body
    else {
      val t0 = System.currentTimeMillis()
      try body finally spans.add(Span(name, t0, System.currentTimeMillis(), parent))
    }
  }
  def all: Seq[Span] = spans.asScala.toSeq
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      s"""{"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"parent":"${s.parent}"}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Executor-layer counters from a benchmark-side `SparkListener`: jobs,
  * stages, tasks, task time, shuffle bytes, the busy intervals of stages (for
  * the driver share) and the jobs each streaming micro-batch ran. */
final class ExecProbe extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskMs = new AtomicLong; val shuffleBytes = new AtomicLong
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobsByBatch = mutable.Map.empty[String, Int]

  def reset(): Unit = synchronized {
    Seq(jobs, stages, tasks, taskMs, shuffleBytes).foreach(_.set(0))
    stageSpans.clear(); jobsByBatch.clear()
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val b = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    b.foreach(id => synchronized { jobsByBatch(id) = jobsByBatch.getOrElse(id, 0) + 1 })
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) synchronized { stageSpans += ((s, c)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  /** Milliseconds within [from, to] during which at least one stage ran. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val iv = stageSpans.map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, c) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def jobsPerBatch: Map[String, Int] = synchronized(jobsByBatch.toMap)
}

/** Catalyst phase times (`QueryExecution.tracker`) of every action. */
final class PhaseProbe extends QueryExecutionListener {
  val analysisMs = new AtomicLong; val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  def reset(): Unit = Seq(analysisMs, optimizationMs, planningMs).foreach(_.set(0))
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** Counts janino "Code grows beyond 64 KB" failures, after which Spark falls
  * back from whole-stage codegen, from Spark's own log events. */
object CodegenFallbacks {
  val count = new AtomicInteger
  private var installed = false

  /** Attaches the counting appender; call after the SparkContext started,
    * which re-initializes logging. */
  def install(): Unit = synchronized {
    if (installed) return
    installed = true
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val causes = Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null).take(1000)
        if (causes.exists(t => String.valueOf(t.getMessage).contains("grows beyond 64 KB")))
          count.incrementAndGet()
      }
    }
    app.start()
    val cfg = ctx.getConfiguration
    cfg.addAppender(app)
    // CodeGenerator logs the failed compile at ERROR, with janino's
    // exception as a cause, before whole-stage codegen falls back; the event
    // reaches the root logger
    cfg.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
  }
}

/** Process-level probes: GC time, old-generation heap after GC, codegen. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private val lastFullGcOld = new AtomicLong(-1)
  private lazy val listening: Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          import com.sun.management.GarbageCollectionNotificationInfo
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcCause == "System.gc()")
              lastFullGcOld.set(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
              }.sum)
          }
        }, null, null)
      case _ => ()
    }

  /** Old-generation bytes in use right after a full collection, in MB, from
    * the collection's own notification. */
  def oldGenAfterGcMb(): Double = {
    listening
    // a first collection lets Spark's ContextCleaner find unreachable
    // broadcasts, shuffles and RDDs, and cached blocks are removed
    // asynchronously after `unpersist`: wait until the storage memory in use
    // stops changing before the collection that is measured
    System.gc()
    Thread.sleep(300)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      // queued listener events hold plans; let the bus drain first
      org.apache.spark.sql.graftbridge.flushListenerBus(s)
      def stored = s.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      var last = -1L; var now = stored; var tries = 0
      while (now != last && tries < 30) { Thread.sleep(100); last = now; now = stored; tries += 1 }
    }
    lastFullGcOld.set(-1)
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (lastFullGcOld.get < 0 && System.nanoTime() < deadline) Thread.sleep(2)
    lastFullGcOld.get / 1048576.0
  }

  def startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def codegenCompileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Process counters at one instant. */
final case class Snap(atMs: Long, gcMs: Long, codegenMs: Double, codegenN: Long, fallbacks: Int)

/** Every probe of one session, with a snapshot/delta API. */
final class Probes(val spark: SparkSession) {
  val exec = new ExecProbe
  val phases = new PhaseProbe
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(phases)

  def snap(): Snap = {
    org.apache.spark.sql.graftbridge.flushListenerBus(spark)
    Snap(System.currentTimeMillis(), Jvm.gcMs, Jvm.codegenCompileMs, Jvm.codegenClasses,
      CodegenFallbacks.count.get)
  }
  def reset(): Unit = {
    org.apache.spark.sql.graftbridge.flushListenerBus(spark)
    exec.reset(); phases.reset()
  }

  /** Per-layer metrics of the executor and driver layers since `from`. */
  def layerMetrics(from: Snap): Seq[(String, Double, String)] = {
    val to = snap()
    val wall = math.max(1L, to.atMs - from.atMs)
    val busy = exec.busyMs(from.atMs, to.atMs)
    Seq(
      ("exec.jobs", exec.jobs.get.toDouble, "count"),
      ("exec.stages", exec.stages.get.toDouble, "count"),
      ("exec.tasks", exec.tasks.get.toDouble, "count"),
      ("exec.task_ms", exec.taskMs.get.toDouble, "ms"),
      ("exec.shuffle_bytes", exec.shuffleBytes.get.toDouble, "bytes"),
      ("exec.gc_ms", (to.gcMs - from.gcMs).toDouble, "ms"),
      ("driver.analysis_ms", phases.analysisMs.get.toDouble, "ms"),
      ("driver.optimization_ms", phases.optimizationMs.get.toDouble, "ms"),
      ("driver.planning_ms", phases.planningMs.get.toDouble, "ms"),
      ("driver.codegen_compile_ms", to.codegenMs - from.codegenMs, "ms"),
      ("driver.codegen_classes", (to.codegenN - from.codegenN).toDouble, "count"),
      ("driver.codegen_fallbacks", (to.fallbacks - from.fallbacks).toDouble, "count"),
      ("driver.share", (wall - busy).toDouble / wall, "ratio"))
  }
}
