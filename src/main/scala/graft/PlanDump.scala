package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.GraftBridge

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence artifact for the optimization rounds (`plans/r<k>/<query>_
  * {before,after}.txt`). Usage:
  *
  *   sbt -batch 'runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...'
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query: the plan of every SQL
  * execution the query's construction ran (store builds, streaming twins,
  * an operator's loan), oldest first, then the returned frame's plan,
  * which is not executed. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val selected = SparkEntry.named(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Defaults.localSession(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case QueryDef(name, run, _, _) =>
      val before = GraftBridge.executedPlans(spark).lastOption.fold(-1L)(_._1)
      val df = run(spark, sfDir)
      val plans = GraftBridge.executedPlans(spark).collect { case (id, p) if id > before => p } :+
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plans.mkString("\n"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plans.size} plans)")
    }
    spark.stop()
  }
}
