package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The registry bench. It runs every [[SparkEntry.registry]] query, or the
  * `SPARK_GRAFT_QUERIES=a,b` subset, exactly `SPARK_GRAFT_PASSES` times on
  * one `local[SPARK_GRAFT_CPUS]` session over `SPARK_GRAFT_SF_DIR`. Each
  * query keeps its minimum wall and the [[Counters]] of its last pass (its
  * ledger row); both go to `target/bench.json`, and a full-suite run with
  * no failure also archives that file as `bench_history/bench_r<N>.json`.
  *
  * The comparator reads the archives run at the same sf and cpus. A query
  * is a lead when its wall is above [[Ratio]] x its trailing minimum there.
  * A lead is confirmed only when a plan counter moved against the newest
  * such archive with a ledger row for it: walls on a shared host swing ±2x
  * between runs, jobs, stages and shuffle bytes do not.
  *
  * The last stdout line is a one-line JSON summary. */
object Bench {

  /** Lead threshold on the wall, and on shuffle bytes for a confirmation. */
  val Ratio = 1.5

  /** One admitted archive: its file name, per-query walls and ledger rows. */
  final case class Prior(file: String, walls: Map[String, Double], ledger: Map[String, Counters])

  /** A lead: its wall over its trailing minimum, and the plan counters that
    * moved, if any did. */
  final case class Flag(ratio: Double, moved: Option[String]) {
    def confirmed: Boolean = moved.nonEmpty
  }

  /** A run's scale-factor key is its sf directory's basename, so any mount
    * of the same tables compares with the others. */
  private def sfKey(dir: String): String = Paths.get(dir).getFileName.toString

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d)  => Some(d)
    case JInt(i)     => Some(i.toDouble)
    case JLong(l)    => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _           => None
  }

  private def fields(v: JValue): List[(String, JValue)] = v match {
    case JObject(fs) => fs
    case _           => Nil
  }

  /** The archive `text` as a prior for a run at sf key `sf` and `cpus`, or
    * why it is not one. A wall at another sf differs by the data-size ratio
    * and a wall at another core count by the parallelism, not by the plan;
    * an archive without an explicit sf or cpus stamp cannot be keyed, so it
    * is never admitted either. */
  def admit(file: String, text: String, sf: String, cpus: Int): Either[String, Prior] = {
    val j = JsonMethods.parse(text)
    val histSf = j \ "sf" match {
      case JString(s) => Some(sfKey(s))
      case _          => None
    }
    val histCpus = num(j \ "cpus").map(_.toInt)
    val walls = fields(j \ "queries").flatMap { case (k, v) => num(v).map(k -> _) }.toMap
    if (!histSf.contains(sf)) Left(s"sf ${histSf.orNull} != $sf")
    else if (!histCpus.contains(cpus)) Left(s"cpus ${histCpus.getOrElse("absent")} != $cpus")
    else if (walls.isEmpty) Left("no query walls")
    else Right(Prior(file, walls,
      fields(j \ "ledger").flatMap { case (k, v) => counters(v).map(k -> _) }.toMap))
  }

  private def counters(row: JValue): Option[Counters] = {
    def n(k: String): Option[Double] = num(row \ k)
    def or0(k: String): Double = n(k).getOrElse(0.0)
    for (jobs <- n("jobs"); stages <- n("stages");
         read <- n("shuffle_read_bytes"); write <- n("shuffle_write_bytes"))
      yield Counters(jobs.toLong, stages.toLong, or0("tasks").toLong, read.toLong, write.toLong,
        (or0("executor_cpu_s") * 1e9).toLong, (or0("gc_s") * 1e3).toLong, or0("cached_rdds_left").toInt)
  }

  private def r3(v: Double): String = (math.rint(v * 1000) / 1000).toString

  /** One ledger row as JSON. */
  def ledgerJson(c: Counters): String =
    s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""executor_cpu_s":${r3(c.executorCpuNs / 1e9)},"gc_s":${r3(c.gcMs / 1e3)},""" +
      s""""cached_rdds_left":${c.cachedRddsLeft}}"""

  /** The plan counters that moved from `prior` to `now`: jobs or stages
    * differ, or shuffle bytes grew past [[Ratio]] x the prior's. */
  private def moved(now: Counters, prior: Counters): Option[String] = {
    val what = Seq(
      Option.when(now.jobs != prior.jobs)(s"jobs ${prior.jobs} -> ${now.jobs}"),
      Option.when(now.stages != prior.stages)(s"stages ${prior.stages} -> ${now.stages}"),
      Option.when(now.shuffleBytes > Ratio * prior.shuffleBytes)(
        s"shuffle bytes ${prior.shuffleBytes} -> ${now.shuffleBytes}")).flatten
    Option.when(what.nonEmpty)(what.mkString(", "))
  }

  /** The leads among this run's `walls`, judged against `priors` (admitted
    * archives, oldest first) and this run's `ledger`. */
  def judge(walls: Map[String, Double], ledger: Map[String, Counters],
            priors: Seq[Prior]): Map[String, Flag] =
    walls.flatMap { case (q, t) =>
      // sub-ms walls archive as 0.0; a zero minimum would flag forever
      val mins = priors.flatMap(_.walls.get(q)).filter(_ > 0)
      Option.when(mins.nonEmpty && t > Ratio * mins.min) {
        val evidence = for {
          now <- ledger.get(q)
          p <- priors.reverseIterator.find(_.ledger.contains(q))
          m <- moved(now, p.ledger(q))
        } yield s"$m (${p.file})"
        q -> Flag(math.rint(t / mins.min * 100) / 100, evidence)
      }
    }

  private def history(dir: Path, sf: String, cpus: Int): Seq[Prior] =
    if (!Files.isDirectory(dir)) Nil
    else {
      // drain the listing inside Using so the directory handle is closed
      val files = scala.util.Using.resource(Files.list(dir)) {
        _.iterator().asScala.filter(_.getFileName.toString.matches("bench_r\\d+(_c\\d+)?\\.json")).toSeq
      }.sortBy(_.getFileName.toString)
      files.flatMap { p =>
        try admit(p.getFileName.toString, new String(Files.readAllBytes(p), "UTF-8"), sf, cpus) match {
          case Right(prior) => Some(prior)
          case Left(why)    => System.err.println(s"[bench] history $p skipped: $why"); None
        } catch {
          // an unreadable archive costs the comparator that round's priors only
          case NonFatal(e) => System.err.println(s"[bench] unreadable history $p: $e"); None
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
    val selected = only.fold(SparkEntry.queries)(SparkEntry.named(_).map(q => q.name -> q.run).toMap)
    // single passes show 10x GC spikes on a shared host; the min over passes
    // reports the cost rather than whichever pass a pause landed on
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    val histDir = Paths.get("bench_history")
    val priors = history(histDir, sfKey(sfDir), cpus)
    val spark = Defaults.localSession(cpus)
    // absorb one-time session costs (codegen warmup, parquet footer reads,
    // UDF registration) so the first measured query isn't inflated
    try {
      Defaults.registerAll(spark)
      spark.range(1000).selectExpr("sum(id)").count()
      spark.read.parquet(s"$sfDir/customer.parquet").limit(1).count()
    } catch { case _: Throwable => }

    val walls = mutable.LinkedHashMap.empty[String, Double]
    val ledger = mutable.LinkedHashMap.empty[String, Counters]
    // a failed query is a failure, never a timing: its error path must not
    // be recorded as the fastest query in the suite
    val errors = mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      var lastErr: Option[String] = None
      val runs = (1 to passes).flatMap { _ =>
        val run = try Some(Metrics.measure(spark) {
          val t0 = System.nanoTime()
          // collect, not count: count() lets Catalyst prune deterministic
          // expression columns out of aggregates, skipping the measured work.
          // Every query returns a small aggregate or a <=10k-row profile.
          fn(spark, sfDir).collect()
          (System.nanoTime() - t0) / 1e9
        }) catch {
          case e: Throwable =>
            lastErr = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)); None
        }
        // The ledger row has counted what the query left cached; release it
        // so the next measurement starts clean, clear the KDF memo so a repeat
        // pass re-measures real KDF work, and GC between measurements.
        try spark.catalog.clearCache() catch { case _: Throwable => }
        graft.functions.MaskFunctions.clearCache()
        System.gc()
        run
      }
      if (runs.isEmpty) errors(name) = lastErr.getOrElse("failed with no message")
      else {
        // a pass-level flake keeps the query's timing and goes to stderr, so
        // the timed and failed sets stay disjoint
        lastErr.foreach(e => System.err.println(s"[bench] $name flaky (kept min of ${runs.size}/$passes passes): $e"))
        walls(name) = runs.map(_._1).min
        ledger(name) = runs.last._2
      }
    }

    val flags = judge(walls.toMap, ledger.toMap, priors)
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => JsonText.esc(k) + ":" + v }.mkString("{", ",", "}")
    val regressions = obj(flags.toSeq.sortBy(-_._2.ratio).map { case (q, f) =>
      q -> (s"""{"ratio":${f.ratio},"in_suite_s":${r3(walls(q))},"confirmed":${f.confirmed}""" +
        f.moved.fold("")(m => ",\"moved\":" + JsonText.esc(m)) + "}")
    })
    val total = r3(walls.values.sum)
    // stdout gets a short summary only: the full per-query line overflowed
    // stdout capture windows, so the complete artifact lives in `out`
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
      s""""n_queries":${walls.size},"n_failed":${errors.size},"n_flagged":${flags.size},""" +
      s""""n_confirmed":${flags.values.count(_.confirmed)},"bench_file":"$out"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(walls.map { case (q, t) => q -> r3(t) })},""" +
      s""""ledger":${obj(ledger.map { case (q, c) => q -> ledgerJson(c) })},""" +
      s""""regressions":$regressions,"errors":${obj(errors.map { case (q, e) => q -> JsonText.esc(e) })},""" +
      s""""sf":"$sfDir","cpus":$cpus}""" + "\n"
    try {
      val p = Paths.get(out)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, full.getBytes("UTF-8"))
    } catch {
      case NonFatal(e) => System.err.println(s"[bench] failed to persist $out: $e")
    }
    // Archive full-suite runs only: a subset would plant low trailing minimums
    // for the queries it includes. The round is 1 + the highest BENCH_r<k>.json
    // in the working directory; a run at other than 32 cpus gets a _c<cpus>
    // suffix so the same round at two core counts keeps both archives.
    if (only.isEmpty && errors.isEmpty) {
      try {
        val roundRe = "BENCH_r(\\d+)\\.json".r
        val lastRound = scala.util.Using.resource(Files.list(Paths.get("."))) {
          _.iterator().asScala.flatMap(p => p.getFileName.toString match {
            case roundRe(n) => Some(n.toInt)
            case _          => None
          }).foldLeft(0)(math.max)
        }
        val archName = if (cpus == 32) f"bench_r${lastRound + 1}%02d.json"
                       else f"bench_r${lastRound + 1}%02d_c$cpus.json"
        Files.createDirectories(histDir)
        Files.write(histDir.resolve(archName), full.getBytes("UTF-8"))
      } catch {
        case NonFatal(e) => System.err.println(s"[bench] failed to archive history: $e")
      }
    }
    // The summary must be the final stdout line: stop Spark first so no
    // shutdown chatter lands after it.
    spark.stop()
    println(summary)
    System.out.flush()
  }
}
