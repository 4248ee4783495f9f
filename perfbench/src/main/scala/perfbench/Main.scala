package perfbench

import scala.collection.mutable

import graft.AnalyzerMain

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, data: String, expected: String, record: Boolean)

/** Everything one run measured. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val env = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]
  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def putAll(xs: Seq[(String, Double, String)]): Unit = xs.foreach { case (n, v, u) => put(n, v, u) }
  def fail(why: String): Unit = { correct = false; notes += why }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def json: String = {
    val ms = metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    val es = env.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")},"env":${es.mkString("{", ",", "}")},""" +
      s""""notes":${notes.map(q).mkString("[", ",", "]")}}"""
  }
}

object Log {
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - Jvm.startMs) / 1000.0}%.1fs $msg")
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.length - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/**
 * Benchmark entry point: one run of one workload.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
 *                  --work DIR --data DIR --expected FILE [--record 1]
 *
 * Prints one JSON line, last on stdout, with every metric it measured.
 */
object Main {

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.get("trace").contains("1"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv("work"), kv.getOrElse("data", ""), kv.getOrElse("expected", ""),
      kv.get("record").contains("1"))
  }

  /** The production configuration: RocksDB state, `local[cores]`, shuffle
    * partitions = cores. */
  def session(a: Args, cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop")
      .config("spark.sql.streaming.stateStore.providerClass",
        AnalyzerMain.stateStoreProviderClass("rocksdb").get)
    val spark = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenFallbacks.install()
    spark
  }

  def loadavg: String = try {
    val s = scala.io.Source.fromFile("/proc/loadavg")
    try s.mkString.trim finally s.close()
  } catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val load0 = loadavg
    val res = new Result
    res.env ++= Seq("workload" -> a.workload, "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> a.cores.toString, "loadavg_start" -> load0,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    val spans = new Spans
    try {
      a.workload match {
        case "dl-flood" => StreamWorkload.run(a, Streams.Flood, res, spans)
        case "ops-batch" => OpsBatch.run(a, res, spans)
        case w => sys.error(s"unknown workload $w")
      }
    } finally {
      if (a.trace) spans.write(java.nio.file.Paths.get(a.work, s"spans-${a.workload}.jsonl"))
    }
    res.env("loadavg_end") = loadavg
    println(res.json)
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
