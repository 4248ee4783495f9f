package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Plan capture + per-stage profiling for declared queries. Each query
  * builds its own fixtures on first use.
  *
  * Usage (sbt Test/runMain):
  *   graft.DevPlanProf plans <outDir> <query> [query ...]   — write
  *     .explain("formatted") of each query to <outDir>/<query>.txt
  *   graft.DevPlanProf prof <query> [query ...]             — run each query
  *     (warm-up pass + timed pass, CacheScope released between) printing
  *     wall seconds and a per-stage table (duration, shuffle bytes, tasks)
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32). */
object DevPlanProf {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("prof")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    // extra confs for A/B experiments: GRAFT_PROF_CONF="k=v;k2=v2"
    val b = sys.env.get("GRAFT_PROF_CONF").map(_.split(";").toSeq)
      .getOrElse(Nil).filter(_.contains("="))
      .foldLeft(b0) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "plans" =>
        val outDir = args(1)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        args.drop(2).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val s = org.apache.spark.sql.graftbridge.formattedPlan(df)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$name.txt"),
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plans] wrote $outDir/$name.txt")
          ops.CacheScope.releaseAll(spark)
        }

      case "prof" =>
        // per-stage metrics listener: name -> (count, ms, shuffle bytes)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, String, Long, Long, Long, Int)]()
        // job-train diagnostics: how many driver jobs a query runs and how
        // much wall time the job train spans (the r16 anti-scaling lead —
        // per-hop fixed job costs grow with core count)
        val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            jobStarts.put(e.jobId, e.time)
          override def onJobEnd(e: SparkListenerJobEnd): Unit = {
            val st = jobStarts.getOrDefault(e.jobId, e.time)
            jobs.add((e.jobId, e.time - st))
          }
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val i = e.stageInfo
            val ms = (for {s <- i.submissionTime; c <- i.completionTime}
              yield c - s).getOrElse(-1L)
            // the first graft.* frame of the callsite pinpoints the operator
            val site = i.details.split("\n")
              .find(l => l.contains("graft.") && !l.contains("graftbridge"))
              .getOrElse(i.name.split("\n").head).trim.take(90)
            stages.add((i.stageId,
              site,
              ms,
              i.taskMetrics.shuffleReadMetrics.totalBytesRead,
              i.taskMetrics.shuffleWriteMetrics.bytesWritten,
              i.numTasks))
          }
        })
        val reps = sys.env.getOrElse("GRAFT_PROF_REPS", "1").toInt
        args.drop(1).foreach { name =>
          // untimed warm-up: fixture builds, codegen compile etc.
          try org.apache.spark.sql.graftbridge.forceCount(
            SparkEntry.queries(name)(spark, sfDir))
          catch { case e: Throwable => println(s"[prof] $name warmup FAILED: $e") }
          ops.CacheScope.releaseAll(spark)
          // drain the async listener bus before clearing, and again before
          // reading: late warm-up events must not leak into the timed table
          // (advisor r15)
          org.apache.spark.sql.graftbridge.flushListenerBus(spark)
          stages.clear(); jobs.clear(); jobStarts.clear()
          val secs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            org.apache.spark.sql.graftbridge.forceCount(
              SparkEntry.queries(name)(spark, sfDir))
            val sec = (System.nanoTime() - t0) / 1e9
            ops.CacheScope.releaseAll(spark)
            sec
          }
          val sec = secs.min
          org.apache.spark.sql.graftbridge.flushListenerBus(spark)
          println(f"[prof] ===== $name%-28s ${sec}%8.3f s min of " +
            secs.map(s => f"$s%.2f").mkString("[", ",", "]") + " =====")
          import scala.jdk.CollectionConverters._
          val jrows = jobs.asScala.toList
          println(f"[prof] jobs: ${jrows.size}%d over $reps reps " +
            f"(${jrows.size / reps}%d/run), job-wall total ${jrows.map(_._2).sum}%d ms")
          val rows = stages.asScala.toList.sortBy(-_._3)
          val totMs = rows.map(_._3.max(0L)).sum
          println(f"[prof] stage-ms total $totMs%d over ${rows.size}%d stages")
          rows.take(25).foreach { case (id, nm, ms, sr, sw, nt) =>
            println(f"[prof]   s$id%-5d $ms%7d ms  read=${sr / 1024}%9d KiB  write=${sw / 1024}%9d KiB  tasks=$nt%4d  $nm%s")
          }
        }
    }
    spark.stop()
  }
}
