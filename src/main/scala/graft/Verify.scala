package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those queries
    // (pair with dev/check.py --only); unset = the full gate. A typo'd
    // name must fail loudly, not silently dump nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: $unknown")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name) // names the query in operator logs
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      ops.CacheScope.releaseAll(spark)
    }
    // full JSON escaping (graft.model.JsonText) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load fail
    // and silently zero the round's correctness.
    def q(s: String): String = model.JsonText.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sketch-parameter recall vs exact no-sketch baselines (see graft.Recall:
    // CORRECTNESS alone is self-consistency for oracle-mirrored LSH ops);
    // skipped under the dev-loop filter (full-gate runs only)
    if (only.isEmpty) try {
      spark.sparkContext.setJobDescription("recall")
      val recallJson = Recall.toJson(Recall.metrics(spark, sfDir))
      Files.writeString(Paths.get(s"$outDir/recall.json"), recallJson)
      println(s"[verify] recall: $recallJson")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] recall metrics failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
