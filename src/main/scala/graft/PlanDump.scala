package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence artifact for the optimization rounds (`plans/r<k>/<query>_
  * {before,after}.txt`). Usage:
  *
  *   sbt -batch 'runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...'
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. Plans are captured
  * WITHOUT executing the query (explain of the final frame), so queries
  * whose construction itself runs jobs (store builds, streaming twins)
  * still execute those side steps — same as any explain over them. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val selected = SparkEntry.named(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Defaults.localSession(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case QueryDef(name, run, _, _) =>
      val df = run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
