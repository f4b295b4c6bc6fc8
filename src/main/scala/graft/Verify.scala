package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always passes exactly two args = run everything)
    val selected: Iterable[(String, (SparkSession, String) => DataFrame)] =
      if (args.length > 2) SparkEntry.named(args(2)).map(q => q.name -> q.run)
      else SparkEntry.queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Defaults.localSession(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // A failing query must be LOUD: round 9's broken gapfill_resample just
    // vanished from the correctness report (125/126 entries, zero failures
    // shown) because the per-query catch only whispered to stderr. Failures
    // now land in a verify_errors.json artifact next to oracle_sql.json and
    // in an unmissable stdout summary.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = JsonText.esc(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      println(s"[verify] FAILED queries (${failures.size}): ${failures.keys.mkString(", ")}")
      System.out.flush()
    }
  }
}
