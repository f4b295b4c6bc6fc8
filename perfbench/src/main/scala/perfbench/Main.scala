package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, run the workload's ops as a closed loop with
  * one client for `--seconds` of op time, check every op, and write the raw
  * per-op record as JSON to `--out`. `run.py` turns that record into the
  * reported metrics.
  *
  *   --workload mask_kdf|mask_etl|analytics_mix  --seed N  --seconds S
  *   --trace 0|1  --cores N  --work DIR  --out FILE
  */
object Main {
  val SetupRounds = 3
  /** The tail percentile needs at least 10 op timings beyond it. */
  val MinTimedOps = 11
  /** Ends the timed loop whatever the op count, inside the run's time limit. */
  val MaxLoopSeconds = 100

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("cores").toInt, m("work"), m("out"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap in use after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fresh-job state for the next op: no cached tables or RDDs and a cold
    * KDF memo. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.perfbench.MemoReset.clear()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload, a.cores)
    val inputDir = s"${a.work}/input"

    // ---- set-up: session start, input generation and warm-up ops,
    // repeated so the reported set-up time is a median
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { round =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      w.prepare(spark, a.seed, inputDir)
      Workloads.register(spark, w.codec)
      for (batch <- w.warmup(round)) {
        reset(spark)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(batch.length)
        try batch.map(item => pool.submit(new java.util.concurrent.Callable[OpOutput] {
          def call(): OpOutput = w.run(spark, item, traced = false)
        })).foreach(_.get())
        finally pool.shutdown()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // ---- timed loop: whole passes until `seconds` of op time, and in an
    // untraced run at least MinTimedOps ops and the workload's minPasses;
    // in a traced run every op runs twice, untraced then traced, so the
    // tracing overhead is measured on the same work
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    val tracedCodec = new CountingCodec(w.codec)
    var opTime = 0.0
    var okUntraced = 0
    var passNo = 0
    val hardStop = System.nanoTime() + (MaxLoopSeconds * 1e9).toLong
    def enough = opTime >= a.seconds && (a.trace || okUntraced >= MinTimedOps && passNo >= w.minPasses)
    while (!enough && System.nanoTime() < hardStop) {
      for (item <- w.pass(a.seed, passNo); traced <- if (a.trace) Seq(false, true) else Seq(false)) {
        val i = ops.length
        val opId = s"op-$i"
        reset(spark)
        Workloads.register(spark, if (traced) tracedCodec else w.codec)
        val tracer = if (traced) Some(new OpTracer(spark)) else None
        tracer.foreach(_.install())
        CodecCounters.reset()
        spark.sparkContext.setJobGroup(opId, s"${w.name} $item", interruptOnCancel = false)
        val cpu0 = cpuBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val startMs = Clock.epochMs()
        val result = scala.util.Try(w.run(spark, item, traced))
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
        val endMs = Clock.epochMs()
        spark.sparkContext.clearJobGroup()
        tracer.foreach(_.drain())
        val heapMb = heapAfterGcMb()
        val cachedLeft = spark.sparkContext.getPersistentRDDs.size
        val checked = result.map(out => w.check(spark, item, out, s"${a.work}/out/$opId"))
        val failures = checked match {
          case scala.util.Failure(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
          case scala.util.Success(Right(fs)) => fs
          case scala.util.Success(Left(_)) => Nil
        }
        val layers = (tracer, result) match {
          case (Some(t), scala.util.Success(out)) =>
            val (l, s) = Layers.forOp(opId, w, item, t, out, startMs, endMs, wall, a.cores, cachedLeft)
            spans ++= s
            l
          case _ => Map.empty[String, Double]
        }
        // a cold memo computes each distinct masked value exactly once
        val kdfFailure = layers.get("codec.kdf_calls").filter(_ != w.expectedKdfCalls)
          .map(c => s"codec.kdf_calls $c != ${w.expectedKdfCalls} distinct masked values")
        ops += Map(
          "op" -> opId, "item" -> item, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
          "heap_mb" -> heapMb, "cached_rdds_left" -> cachedLeft, "failures" -> (failures ++ kdfFailure),
          "oracle_check" -> checked.toOption.flatMap(_.left.toOption).orNull,
          "layers" -> layers)
        opTime += wall
        if (!traced && failures.isEmpty) okUntraced += 1
      }
      passNo += 1
    }
    reset(spark)

    val record = Map(
      "workload" -> w.name, "seed" -> a.seed, "cores" -> a.cores, "trace" -> a.trace,
      "setup_s" -> setups, "ops" -> ops, "spans" -> spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "detail" -> s.detail)),
      "oracle" -> (w match {
        case m: AnalyticsMix => Map("data_dir" -> m.dataDir, "sql" -> m.oracleSql)
        case _ => null
      }))
    spark.stop()
    Json.write(a.out, record)
  }
}

object Json {
  def write(path: String, value: Any): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), mapper.writeValueAsBytes(value))
  }
}
