package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.apache.spark.storage.StorageLevel

/** Declarative stage configuration for the masking dataflow — the O7 surface
  * (reference `MaskDataTransform.instantiate`, MaskDataTransform.scala:47-85):
  * fixed key set with unknown-key rejection, per-field validation with ERROR
  * ACCUMULATION (all problems reported at once, not fail-fast), and a typed
  * stage value on success.
  *
  * The reference reads HOCON through its host framework's Typesafe Config;
  * graft parses documents with the same library ([[Hocon]] — so a
  * reference user's existing `.conf` files migrate unchanged, and a JSON
  * document is HOCON too) or takes an already-parsed map — the validation
  * contract is the same on every path.
  *
  * Beyond the single stage, [[runPipeline]] is the host-runner analog: the
  * reference's driver accepts a `{"stages": [...]}` document and walks the
  * stages in order, wiring dataflow through session-catalog view names
  * (reference MaskDataTransformSuite.scala:64-110 builds exactly that shape;
  * SURVEY §3 entry point A). Semantics preserved: ALL stages are validated
  * up front with stage-indexed error accumulation (an invalid stage 3 means
  * stage 0 never runs — no partial execution), each stage is environment-
  * gated individually, and execution is a driver-side sequential loop with
  * all data-parallelism inside Spark actions.
  */
object StageConfig {

  /** A validated pipeline stage. `MaskDataTransform` is the reference
    * plugin's own stage; the extract/metadata/sql/load types are the
    * minimal host-framework vocabulary its test pipelines depend on
    * (extract a source, attach mask treatments, transform, write). */
  sealed trait PipelineStage {
    def stageType: String
    def name: String
    def environments: Seq[String]

    /** Environment gate: an empty list means run everywhere. */
    def runsIn(activeEnvironment: String): Boolean =
      environments.isEmpty || environments.contains(activeEnvironment)
  }

  case class MaskStage(
      name: String,
      description: Option[String],
      environments: Seq[String],
      inputView: String,
      outputView: String,
      persist: Boolean,
      params: Map[String, String]) extends PipelineStage {
    def stageType: String = "MaskDataTransform"
  }

  /** ParquetExtract / DelimitedExtract: read `inputURI`, publish
    * `outputView`. `header` applies to the delimited flavor only;
    * `numPartitions` respreads a single-split source so a downstream
    * per-cell KDF stage is not pinned to one core. */
  case class ExtractStage(
      stageType: String,
      name: String,
      description: Option[String],
      environments: Seq[String],
      inputURI: String,
      outputView: String,
      persist: Boolean,
      header: Boolean,
      numPartitions: Option[Int]) extends PipelineStage

  /** MetadataTransform: attach a mask treatment (a `${value}` SQL template,
    * [[MaskTransform]]'s column contract) to each named column of
    * `inputView` — the standalone analog of the reference's schema-file
    * metadata path (its TypingTransform reads treatments from a schema
    * JSON; here they ship in the stage config itself). */
  case class MetadataStage(
      name: String,
      description: Option[String],
      environments: Seq[String],
      inputView: String,
      outputView: String,
      persist: Boolean,
      treatments: Map[String, String]) extends PipelineStage {
    def stageType: String = "MetadataTransform"
  }

  /** SQLTransform: run a SQL statement over the published views, publish
    * the result. `sqlParams` values substitute `${key}` placeholders in the
    * statement at execution time (the reference's SQLTransform contract). */
  case class SqlStage(
      name: String,
      description: Option[String],
      environments: Seq[String],
      sql: String,
      outputView: String,
      persist: Boolean,
      sqlParams: Map[String, String]) extends PipelineStage {
    def stageType: String = "SQLTransform"
  }

  /** ParquetLoad: write `inputView` to `outputURI` (overwrite). */
  case class LoadStage(
      name: String,
      description: Option[String],
      environments: Seq[String],
      inputView: String,
      outputURI: String,
      numPartitions: Option[Int]) extends PipelineStage {
    def stageType: String = "ParquetLoad"
  }

  /** Accumulating field reader over one stage's config map. Each read
    * records its key and, on a bad value, its error plus a stand-in value;
    * [[result]] turns every key nobody read into `Unknown option '<k>'.`
    * (`type` is always accepted). `name`, `description` and `environments`
    * are common to every stage type and read first. Error strings are part
    * of the stage_config_errors oracle contract — do not reword. */
  private final class Fields(config: Map[String, Any]) {
    private val read = mutable.Set("type")
    private val errors = mutable.ListBuffer.empty[String]

    def field[A](key: String, fallback: A)(check: Option[Any] => Either[String, A]): A = {
      read += key
      check(config.get(key)).fold({ e => errors += e; fallback }, identity)
    }

    def requiredString(key: String): String = field(key, "") {
      case Some(s: String) if s.nonEmpty => Right(s)
      case Some(_) => Left(s"'$key' must be a non-empty string.")
      case None => Left(s"Missing required attribute '$key'.")
    }

    def bool(key: String): Boolean = field(key, false) {
      case Some(b: Boolean) => Right(b)
      case Some(s: String) if s == "true" || s == "false" => Right(s.toBoolean)
      case Some(_) => Left(s"'$key' must be a boolean.")
      case None => Right(false)
    }

    /** Validate-everything-up-front: a non-positive partition count would
      * otherwise fail MID-pipeline at repartition() after earlier stages
      * already ran and published views. */
    def positiveInt(key: String): Option[Int] = field(key, Option.empty[Int]) { v =>
      (v match {
        case Some(i: Int) => Right(Some(i))
        case Some(l: Long) if l.isValidInt => Right(Some(l.toInt))
        case Some(Hocon.WrittenNumber(_, d)) if d.isValidInt => Right(Some(d.toInt))
        // all-digit strings can still overflow Int; an unguarded toInt
        // would escape as a raw NumberFormatException
        case Some(s: String) if s.forall(_.isDigit) && s.toIntOption.isDefined => Right(s.toIntOption)
        case Some(_) => Left(s"'$key' must be an integer.")
        case None => Right(None)
      }).filterOrElse(_.forall(_ > 0), s"'$key' must be a positive integer.")
    }

    /** HOCON types unquoted scalars (days = 14 -> Long); coerce scalars to
      * strings like typesafe-config's getString (a number reads as written:
      * `1.50` stays "1.50") so reference-style .conf files migrate
      * unchanged — only nested objects/arrays/nulls reject. */
    def stringMap(key: String, ifEmpty: Option[String] = None): Map[String, String] =
      field(key, Map.empty[String, String]) { v =>
        (v match {
          case Some(m: Map[_, _]) if m.values.forall {
            case _: String | _: Boolean | _: Long | _: Int | _: Double | _: Hocon.WrittenNumber => true
            case _ => false
          } => Right(m.map { case (k, v) => k.toString -> v.toString })
          case Some(_) => Left(s"'$key' must be an object of scalar values.")
          case None => Right(Map.empty[String, String])
        }).filterOrElse(m => m.nonEmpty || ifEmpty.isEmpty, ifEmpty.get)
      }

    val name: String = requiredString("name")
    val description: Option[String] = field("description", Option.empty[String]) {
      case Some(s: String) => Right(Some(s))
      case Some(_) => Left("'description' must be a string.")
      case None => Right(None)
    }
    val environments: Seq[String] = field("environments", Seq.empty[String]) {
      case Some(xs: Seq[_]) if xs.forall(_.isInstanceOf[String]) => Right(xs.map(_.toString))
      case Some(_) => Left("'environments' must be an array of strings.")
      case None => Right(Nil)
    }

    /** The stage built from the fields read so far, or every error: unknown
      * keys first (sorted), then field errors in read order. */
    def result[A](stage: A): Either[List[String], A] = {
      val all = config.keySet.diff(read).toList.sorted.map(k => s"Unknown option '$k'.") ++ errors
      if (all.isEmpty) Right(stage) else Left(all)
    }
  }

  /** Parse a HOCON (or JSON — HOCON is a superset) stage document with the
    * same accumulating validation as [[parse]]. */
  def parseHocon(conf: String): Either[List[String], MaskStage] =
    Hocon.parse(conf).flatMap(parse)

  /** Load a `.conf` FILE: `include` directives resolve relative to the
    * file (then classpath), the Typesafe-Config behavior reference users
    * migrate from. The string entry points stay include-free by design. */
  def parseHoconFile(path: String): Either[List[String], MaskStage] =
    Hocon.parseFile(path).flatMap(parse)

  /** Validate a parsed single-stage MaskDataTransform config map. A `type`
    * other than MaskDataTransform is an error (absent means
    * MaskDataTransform). Accumulates every error. */
  def parse(config: Map[String, Any]): Either[List[String], MaskStage] = {
    val f = new Fields(config)
    f.field("type", ()) {
      case None | Some("MaskDataTransform") => Right(())
      case Some(other) => Left(s"'type' must be MaskDataTransform, not '$other'.")
    }
    f.result(MaskStage(f.name, f.description, f.environments,
      f.requiredString("inputView"), f.requiredString("outputView"), f.bool("persist"),
      f.stringMap("params")))
  }

  /** Dispatch on the `type` key. A stage with no `type` is a
    * MaskDataTransform (the single-stage entry points never required one,
    * and that behavior is kept). */
  def parseStage(config: Map[String, Any]): Either[List[String], PipelineStage] = {
    lazy val f = new Fields(config)
    config.getOrElse("type", "MaskDataTransform") match {
      case "MaskDataTransform" => parse(config)
      case t @ ("ParquetExtract" | "DelimitedExtract") =>
        f.result(ExtractStage(t.toString, f.name, f.description, f.environments,
          f.requiredString("inputURI"), f.requiredString("outputView"), f.bool("persist"),
          t == "DelimitedExtract" && f.bool("header"), f.positiveInt("numPartitions")))
      case "MetadataTransform" =>
        f.result(MetadataStage(f.name, f.description, f.environments,
          f.requiredString("inputView"), f.requiredString("outputView"), f.bool("persist"),
          f.stringMap("treatments",
            ifEmpty = Some("'treatments' must map at least one column to a treatment expression."))))
      case "SQLTransform" =>
        f.result(SqlStage(f.name, f.description, f.environments,
          f.requiredString("sql"), f.requiredString("outputView"), f.bool("persist"),
          f.stringMap("sqlParams")))
      case "ParquetLoad" =>
        f.result(LoadStage(f.name, f.description, f.environments,
          f.requiredString("inputView"), f.requiredString("outputURI"), f.positiveInt("numPartitions")))
      case other => Left(List(s"Unknown stage type '$other'."))
    }
  }

  /** Parse a `{"stages": [...]}` pipeline document (HOCON or JSON). EVERY
    * stage is validated; errors accumulate across stages, each prefixed
    * `stage <index> (<name>):` so a 12-stage config with three broken
    * stages reports all three at once. */
  def parsePipeline(conf: String): Either[List[String], List[PipelineStage]] =
    Hocon.parse(conf).flatMap(parsePipelineMap)

  def parsePipelineFile(path: String): Either[List[String], List[PipelineStage]] =
    Hocon.parseFile(path).flatMap(parsePipelineMap)

  private def parsePipelineMap(root: Map[String, Any]): Either[List[String], List[PipelineStage]] =
    root.get("stages") match {
      case Some(xs: Seq[_]) if xs.nonEmpty =>
        val results = xs.toList.zipWithIndex.map {
          case (m: Map[_, _], i) =>
            val cfg = m.map { case (k, v) => k.toString -> v }.toMap[String, Any]
            val label = cfg.get("name") match {
              case Some(s: String) if s.nonEmpty => s"'$s'"
              case _ => "unnamed"
            }
            parseStage(cfg).left.map(_.map(e => s"stage $i ($label): $e"))
          case (_, i) => Left(List(s"stage $i: must be an object."))
        }
        val errors = results.flatMap(_.left.getOrElse(Nil))
        if (errors.nonEmpty) Left(errors)
        else Right(results.flatMap(_.toOption))
      case Some(_) => Left(List("'stages' must be a non-empty array of stage objects."))
      case None => Left(List("Missing required attribute 'stages'."))
    }

  /** Parse (HOCON or JSON), validate, and execute one stage against a
    * session in one step. */
  def run(spark: SparkSession, conf: String): Either[List[String], DataFrame] =
    parseHocon(conf).map(executeStage(spark, _))

  /** Environment-gated execution — the host-dataflow semantics the
    * `environments` key exists for: a stage whose list does not contain the
    * ACTIVE environment is validated but SKIPPED, not an error (e.g. a
    * production-only masking stage under "test"). An empty list means run
    * everywhere. Returns Right(None) when skipped. */
  def runIfEnvironment(spark: SparkSession, conf: String,
                       activeEnvironment: String): Either[List[String], Option[DataFrame]] =
    parseHocon(conf).map { stage =>
      Option.when(stage.runsIn(activeEnvironment))(executeStage(spark, stage))
    }

  /** The multi-stage pipeline runner — the `{"stages": [...]}` host loop.
    *
    * Contract (reference host semantics, SURVEY §3 entry point A):
    *   1. validate EVERY stage first — any error anywhere means NOTHING
    *      executes (no partial pipelines, no half-published views);
    *   2. walk valid stages in order on the driver; dataflow between stages
    *      is session-catalog view names (`outputView` -> next `inputView`);
    *   3. each stage is environment-gated individually: a stage whose
    *      `environments` excludes `activeEnvironment` is skipped, and the
    *      pipeline continues — gating composes per stage, not per document;
    *   4. a RUNTIME failure (missing view, bad SQL) aborts the walk with
    *      the failing stage's index and name in the exception, leaving
    *      earlier stages' views published (exactly the reference's
    *      behavior: execution is sequential and effects are the catalog).
    *
    * Returns the last EXECUTED stage's frame (None when every stage was
    * gated out). */
  def runPipeline(spark: SparkSession, conf: String,
                  activeEnvironment: String): Either[List[String], Option[DataFrame]] =
    parsePipeline(conf).map(executePipeline(spark, _, activeEnvironment))

  def runPipelineFile(spark: SparkSession, path: String,
                      activeEnvironment: String): Either[List[String], Option[DataFrame]] =
    parsePipelineFile(path).map(executePipeline(spark, _, activeEnvironment))

  private def executePipeline(spark: SparkSession, stages: List[PipelineStage],
                              activeEnvironment: String): Option[DataFrame] =
    stages.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (last, (stage, _)) if !stage.runsIn(activeEnvironment) => last
      case (_, (stage, i)) =>
        try Some(executeStage(spark, stage))
        catch {
          case scala.util.control.NonFatal(e) => throw new RuntimeException(
            s"stage $i ('${stage.name}', ${stage.stageType}) failed: ${e.getMessage}", e)
        }
    }

  /** The frame [[publish]] last persisted under each (session, view name). */
  private val persisted = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Publish a frame as `outputView`, first releasing the frame an earlier
    * publish persisted under that name (a rerun pipeline would otherwise
    * pin every run's frames). `persist` materializes the frame eagerly
    * (MEMORY_AND_DISK_SER + count — the reference's persist contract) so
    * later stages re-read the cache instead of recomputing the lineage;
    * the count is returned. Streaming frames are published, never persisted. */
  private[operators] def publish(df: DataFrame, outputView: String, persist: Boolean): Option[Long] = {
    val key = (df.sparkSession, outputView)
    Option(persisted.remove(key)).foreach(_.unpersist())
    df.createOrReplaceTempView(outputView)
    Option.when(persist && !df.isStreaming) {
      df.persist(StorageLevel.MEMORY_AND_DISK_SER)
      persisted.put(key, df)
      df.count()
    }
  }

  private def published(df: DataFrame, outputView: String, persist: Boolean): DataFrame = {
    publish(df, outputView, persist)
    df
  }

  private def executeStage(spark: SparkSession, stage: PipelineStage): DataFrame = stage match {
    case s: MaskStage =>
      MaskTransform.runStage(spark, s.inputView, s.outputView, s.persist)._1
    case s: ExtractStage =>
      val raw = s.stageType match {
        case "ParquetExtract" => spark.read.parquet(s.inputURI)
        case "DelimitedExtract" => spark.read.option("header", s.header).csv(s.inputURI)
      }
      // repartition, not coalesce: the point is spreading a one-split file
      // across cores for downstream per-cell KDF work
      published(s.numPartitions.fold(raw)(raw.repartition), s.outputView, s.persist)
    case s: MetadataStage =>
      val df = spark.table(s.inputView)
      val missing = s.treatments.keySet.diff(df.columns.toSet)
      require(missing.isEmpty,
        s"treatments name columns not in '${s.inputView}': ${missing.toList.sorted.mkString(", ")}")
      // the mask key goes on top of the column's other metadata
      val projected = df.schema.fields.map { f =>
        val c = col(MaskTransform.quoted(f.name))
        s.treatments.get(f.name).fold(c) { t =>
          c.as(f.name, new MetadataBuilder().withMetadata(f.metadata)
            .withMetadata(MaskTransform.treatmentsMetadata(t)).build())
        }
      }
      published(df.select(projected.toIndexedSeq: _*), s.outputView, s.persist)
    case s: SqlStage =>
      val stmt = s.sqlParams.foldLeft(s.sql) { case (acc, (k, v)) =>
        acc.replace("${" + k + "}", v)
      }
      published(spark.sql(stmt), s.outputView, s.persist)
    case s: LoadStage =>
      val df = spark.table(s.inputView)
      s.numPartitions.fold(df)(df.repartition).write.mode("overwrite").parquet(s.outputURI)
      df
  }
}
