// Checkpoint-compatibility probe for the `unified` + `fanOut` streaming query.
//
// Each run appends one 6-record input file (2 topics x 2 error types) under
// $CK_BASE/src, runs the query over a parquet file source with the state store
// that `AnalyzerMain.main` runs (RocksDB) until it is idle, and prints the
// stats sink's dedup ids (`topic:type:count`) as one `STATS=` line. Run it
// once with the old commit's classes, then again on the same CK_BASE with
// the new classes: the counts must continue (the second run prints 2..4, not
// 1..2). A fresh CK_BASE run with the new classes gives the state schema to
// compare with the old one:
//   cmp old/ck/state/0/0/_metadata/schema new/ck/state/0/0/_metadata/schema
// Each run also writes the query's last executed micro-batch plan to
// $CK_BASE/plan.txt, stripped of what differs between runs of one plan:
// expression ids (`#123`), object identities (lambda names, `@1f2e3d`), the
// run id, the batch timestamp, input file names and the CK_BASE path. Two
// fresh CK_FILE=0 runs, old classes and new, must `diff` clean:
//   diff old/plan.txt new/plan.txt
//
//   CK_BASE=<dir> CK_FILE=<n> spark-shell --master local[2] \
//     --conf spark.ui.enabled=false \
//     --driver-class-path <checkout>/target/scala-2.13/classes \
//     -i dev/ckpt_compat.scala
import org.apache.spark.sql.functions._

val base = sys.env("CK_BASE")
val n = sys.env("CK_FILE").toInt
spark.conf.set("spark.sql.streaming.stateStore.providerClass",
  graft.AnalyzerMain.stateStoreProviderClass("rocksdb").get)
spark.conf.set("spark.sql.shuffle.partitions", "2")

def deadLetter(trace: String) =
  s"""{"input_value":"foo","description":"d","cause":{"message":"m",""" +
    s""""stack_trace":"$trace"},"input_timestamp":200}"""
val traces = Seq(
  "java.lang.IllegalStateException: boom\\n\\tat com.acme.Svc.run(Svc.java:42)",
  "java.io.IOException: disk\\n\\tat com.acme.Io.write(Io.java:9)")
val rows = (0 until 6).map { i =>
  val offset = n * 10L + i
  (s"dlq-${i % 2}", 0, offset, new java.sql.Timestamp(1000L * offset),
    s"k$offset".getBytes("UTF-8"),
    deadLetter(traces(if (i % 3 == 2) 1 else 0)).getBytes("UTF-8"))
}
spark.createDataFrame(rows)
  .toDF("topic", "partition", "offset", "timestamp", "key", "value")
  .withColumn("headers",
    lit(null).cast(graft.model.Schemas.kafkaEnvelope("headers").dataType))
  .coalesce(1).write.mode("append").parquet(s"$base/src")

val input = spark.readStream.schema(graft.model.Schemas.kafkaEnvelope)
  .parquet(s"$base/src")
val stats = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val q = graft.streaming.StreamingAnalyzer.fanOut(
    graft.streaming.StreamingAnalyzer.unified(input), s"$base/ck") {
  (sink, frame) =>
    if (sink == "stats")
      frame.select("dedup_id").collect().foreach(r => stats.add(r.getString(0)))
}.start()
q.processAllAvailable()
val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
    .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.treeString
  .replace(base, "$CK_BASE")
  .replaceAll("#\\d+L?", "")
  .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
  .replaceAll("@[0-9a-f]+\\b", "@")
  .replaceAll("runId = [0-9a-f-]+", "runId = <uuid>")
  .replaceAll("\\b\\d{13}\\b", "<batch ms>")
  .replaceAll("src/part-[^,\\]]*", "src/<file>")
java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/plan.txt"), plan)
q.stop()
println("STATS=" + stats.toArray.map(_.toString).sorted.mkString(","))
sys.exit(0)
