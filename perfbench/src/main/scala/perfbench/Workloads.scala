package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.codec.{Argon2Codec, Codec, Pbkdf2Codec}
import graft.functions.MaskUdfs
import graft.operators.StageConfig

/** What an op hands to its check: the rows it returned and, for a traced
  * op, the stage spans it could time from outside. */
final case class OpOutput(rows: Array[Row], schema: StructType,
                          spans: Seq[(String, Double, Double)] = Nil)

/** A workload: seeded inputs, the ops of one pass, and the output check.
  * `run` is the timed part; `check` runs after the clock stops. */
trait Workload {
  def name: String
  /** Generates the inputs from `seed` and writes them under `dir`. */
  def prepare(spark: SparkSession, seed: Long, dir: String): Unit
  /** The ops of pass `pass`, by item name, in run order. */
  def pass(seed: Long, pass: Int): Seq[String]
  /** Warm-up ops of set-up round `round`, in batches whose distinct ops may
    * run side by side: the first round runs enough ops for the JIT to reach
    * steady op times; later rounds run one op on their fresh session. */
  def warmup(round: Int): Seq[Seq[String]]
  /** Whole passes an untraced run times at least, whatever `--seconds`. */
  def minPasses: Int = 1
  def run(spark: SparkSession, item: String, traced: Boolean): OpOutput
  /** Failures of the op; `Left(path)` defers the check to the oracle
    * comparison that runs after the JVM, on the rows saved at `path`. */
  def check(spark: SparkSession, item: String, out: OpOutput, opDir: String): Either[String, Seq[String]]
  /** Non-null masked cells the last checked op produced. */
  def maskedCells: Long = 0L
  /** KDF calls an op makes with a cold memo: one per distinct masked value. */
  def expectedKdfCalls: Double = 0.0
  /** The codec the workload's mask functions use. */
  def codec: Codec
}

object Workloads {
  val Passphrase: Array[Byte] =
    "perfbench-fixed-passphrase-for-benchmark-masking-0123456789abcdef".getBytes("UTF-8")

  def apply(name: String, cores: Int): Workload = name match {
    case "mask_kdf" => new MaskKdf(cores)
    case "mask_etl" => new MaskEtl(cores)
    case "analytics_mix" => new AnalyticsMix(cores)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Registers graft's mask functions with `codec`: the raw codec for
    * untraced ops, a [[CountingCodec]] around it for traced ones. */
  def register(spark: SparkSession, codec: Codec): Unit = MaskUdfs.register(spark, codec, Passphrase)
}

/** The two masking workloads share one shape: a HOCON pipeline run through
  * `StageConfig.runPipeline`, checked against the generated table. */
abstract class MaskPipeline(cores: Int) extends Workload {
  protected def table(seed: Long): Inputs.Table
  protected def treatments: Seq[(String, String)]
  protected def rules: Seq[MaskCheck.Rule]
  /** Extra stages after the summary (the ParquetLoad of `mask_etl`). */
  protected def tailStages(outDir: String): String = ""

  private var input: Inputs.Table = _
  private var inputPath: String = _
  protected var outDir: String = _
  private var cells = 0L
  private var kdfCalls = 0.0
  private val seen = scala.collection.mutable.HashMap.empty[(String, Any), Any]
  var conf: String = _

  def prepare(spark: SparkSession, seed: Long, dir: String): Unit = {
    input = table(seed)
    val card = input.cardinalities
    kdfCalls = rules.map(r => card(r.column)).sum.toDouble
    inputPath = input.write(spark, dir, cores)
    outDir = s"$dir/${name}_out"
    val treat = treatments.map { case (c, t) => s"""$c = "$t"""" }.mkString(", ")
    val lengthCol = rules.collectFirst { case r: MaskCheck.StringRule if r.format.isEmpty => r.column }.get
    conf =
      s"""stages = [
         |  { type = ParquetExtract, name = extract, environments = [bench],
         |    inputURI = "$inputPath", outputView = pb_raw, persist = true, numPartitions = $cores }
         |  { type = MetadataTransform, name = treatments, environments = [bench],
         |    inputView = pb_raw, outputView = pb_typed, treatments { $treat } }
         |  { type = MaskDataTransform, name = mask, environments = [bench],
         |    inputView = pb_typed, outputView = pb_masked, persist = true }
         |  { type = SQLTransform, name = summary, environments = [bench], persist = true,
         |    sql = "SELECT count(*) AS n, count(CASE WHEN length($lengthCol) = 16 THEN 1 END) AS n_len16, sum(id) AS id_sum FROM pb_masked",
         |    outputView = pb_summary }
         |${tailStages(outDir)}]""".stripMargin
  }

  def pass(seed: Long, pass: Int): Seq[String] = Seq("pipeline")
  def warmup(round: Int): Seq[Seq[String]] = Seq.fill(if (round == 1) 3 else 1)(Seq("pipeline"))

  def run(spark: SparkSession, item: String, traced: Boolean): OpOutput = {
    val spans = if (traced) {
      val t0 = Clock.epochMs()
      StageConfig.parsePipeline(conf).left.foreach(e => throw new IllegalStateException(e.mkString("; ")))
      Seq(("parse", t0, Clock.epochMs()))
    } else Nil
    StageConfig.runPipeline(spark, conf, "bench").fold(
      errs => throw new IllegalStateException(errs.mkString("; ")),
      last => last.getOrElse(throw new IllegalStateException("pipeline ran no stage")))
    val summary = spark.table("pb_summary")
    OpOutput(summary.collect(), summary.schema, spans)
  }

  def check(spark: SparkSession, item: String, out: OpOutput, opDir: String): Either[String, Seq[String]] = {
    val cols = "id" +: rules.map(_.column)
    val masked = spark.table("pb_masked").selectExpr(cols: _*).collect().toSeq
    cells = masked.iterator.map(r => (1 until r.length).count(!r.isNullAt(_)).toLong).sum
    val failures = MaskCheck.check(MaskCheck.Expect(input.rows.length, rules), input, masked, seen)
    val summary = out.rows.headOption
    val summaryFailures =
      if (summary.exists(s => s.getLong(0) == input.rows.length && s.getLong(0) >= s.getLong(1))) Nil
      else Seq(s"summary ${summary.map(_.toString).getOrElse("missing")} disagrees with ${input.rows.length} rows")
    Right(failures ++ summaryFailures ++ loadFailures(spark))
  }

  protected def loadFailures(spark: SparkSession): Seq[String] = Nil

  override def maskedCells: Long = cells

  override def expectedKdfCalls: Double = kdfCalls
}

/** Argon2id at the reference's CI profile over distinct names: the KDF is
  * nearly the whole op and the memo cannot hit. */
final class MaskKdf(cores: Int) extends MaskPipeline(cores) {
  val name = "mask_kdf"
  val codec: Codec = new Argon2Codec(2, 16384, 1)
  val spec = Inputs.KdfSpec(rows = 100)
  protected def table(seed: Long) = Inputs.kdfTable(seed, spec)
  protected val treatments = Seq("name" -> "mask_string(16, true, ${value})")
  protected val rules = Seq(MaskCheck.StringRule("name", 16, graft.functions.MaskFunctions.DefaultAlphabet))
}

/** PBKDF2 at graft's default profile over a wide Zipf-skewed table: the
  * per-cell path (memo lookups, UDF conversion, scan, persist, write) is
  * most of the op. */
final class MaskEtl(cores: Int) extends MaskPipeline(cores) {
  val name = "mask_etl"
  val codec: Codec = new Pbkdf2Codec(1024, 64)
  val spec = Inputs.EtlSpec(rows = 15000, distinct = 20, zipf = 1.1, nullShare = 0.02)
  protected def table(seed: Long) = Inputs.etlTable(seed, spec)
  protected val treatments = Seq(
    "holder" -> "mask_string(16, true, ${value})",
    "card" -> "mask_string_alphabet_format(16, '0123456789', 'xxxx-xxxx-xxxx-xxxx', true, ${value})",
    "birth_date" -> "mask_date(365, true, ${value})",
    "created_at" -> "mask_timestamp(30, true, ${value})",
    "balance" -> "mask_decimal(CAST(5.00 AS DECIMAL(4,2)), true, ${value})")
  protected val rules = Seq(
    MaskCheck.StringRule("holder", 16, graft.functions.MaskFunctions.DefaultAlphabet),
    MaskCheck.StringRule("card", 16, "0123456789", Some("xxxx-xxxx-xxxx-xxxx")),
    MaskCheck.DayJitterRule("birth_date", 365),
    MaskCheck.DayJitterRule("created_at", 30),
    MaskCheck.DecimalJitterRule("balance", BigDecimal("5.00")))

  override protected def tailStages(outDir: String): String =
    s"""  { type = ParquetLoad, name = load, environments = [bench],
       |    inputView = pb_masked, outputURI = "$outDir", numPartitions = $cores }
       |""".stripMargin

  override protected def loadFailures(spark: SparkSession): Seq[String] = {
    val written = spark.read.parquet(outDir).count()
    if (written == spec.rows) Nil else Seq(s"load wrote $written rows, expected ${spec.rows}")
  }
}

/** graft registry queries, one or two per operator family, over seeded
  * `documents` and `events` tables; none of them calls a KDF. */
final class AnalyticsMix(cores: Int) extends Workload {
  val name = "analytics_mix"
  val codec: Codec = new Pbkdf2Codec(1024, 64)
  val spec = Inputs.AnalyticsSpec(docs = 60, events = 4000, users = 150)
  val queries: Seq[String] = Seq(
    "label_prop",              // iterative
    "dedup_minhash",           // similarity
    "hll_distinct",            // sketch/text
    "dedup_ngram_hot",         // sketch/text
    "events_sessions_stream",  // stateful streams
    "cdc_incremental")         // incremental store writes
  private var dir: String = _

  def prepare(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = s"$dir/analytics"
    // one file per table, named as graft's registry tables are: the
    // streaming queries select their source file by this name
    Seq(Inputs.documentsTable(seed, spec), Inputs.eventsTable(seed ^ 0x5eedL, spec)).foreach { t =>
      val tmp = t.write(spark, s"$dir/staging", 1)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      new java.io.File(this.dir).mkdirs()
      java.nio.file.Files.move(part.toPath, new java.io.File(this.dir, s"${t.name}.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def pass(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
  /** The host's speed drifts over tens of seconds; three passes (about
    * 30 s) average more of it than two, and put 18 op timings under the
    * medians and the tail. */
  override def minPasses: Int = 3
  /** Later set-up rounds run the cheapest query, which keeps the run
    * inside its time budget. */
  def warmup(round: Int): Seq[Seq[String]] = Seq(if (round == 1) queries else Seq("hll_distinct"))

  def run(spark: SparkSession, item: String, traced: Boolean): OpOutput = {
    val t0 = Clock.epochMs()
    val df = graft.SparkEntry.queries(item)(spark, dir)
    val rows = df.collect()
    OpOutput(rows, df.schema, if (traced) Seq((s"entries.$item", t0, Clock.epochMs())) else Nil)
  }

  def check(spark: SparkSession, item: String, out: OpOutput, opDir: String): Either[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.rows.toList.asJava, out.schema).coalesce(1).write.parquet(opDir)
    Left(opDir)
  }

  /** The DuckDB oracle SQL of each query in the mix. */
  def oracleSql: Map[String, String] = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
  def dataDir: String = dir
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution, comparable with Spark's
    * listener event times. */
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
