package graft.operators

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, DecimalType, Metadata, MetadataBuilder}

/** Metadata-driven masking projection — the reference's one relational
  * operator (O1-O6, /root/reference/src/main/scala/ai/tripl/arc/transform/MaskDataTransform.scala:107-173),
  * re-expressed as a pure `DataFrame => DataFrame` over Column trees.
  *
  * The masking program lives in the schema: any column whose metadata carries
  * `mask: { treatments: [...] }` is replaced by the composition of its
  * treatment expressions; all other columns pass through untouched. Each
  * treatment is a SQL expression template with a `${value}` placeholder; the
  * first gets the column, each subsequent one gets the previous expression
  * (left-to-right fold — reference :118-124). Example metadata:
  *
  * {{{
  *   {"mask": {"treatments": ["date_trunc('HOUR', ${value})",
  *                            "mask_timestamp(14, true, ${value})"]}}
  * }}}
  *
  * Deliberate upgrades over the reference (SURVEY.md §2.6):
  *  - Columns are built as `Column` trees and the projection runs through
  *    `df.select`, not string-built SQL + `spark.sql` — Catalyst sees through
  *    it (pushdown/pruning survive), and odd column names are backquoted (Q5).
  *  - The final expression is cast back to the ORIGINAL field type for every
  *    type, not just decimal/date (Q4) — the reference leaves e.g. a
  *    timestamp treatment's type drift unchecked.
  *  - Column metadata is re-attached via the select itself (alias-with-
  *    metadata), so no second pass over the plan is needed (O4).
  *
  * Scale note: this operator is a narrow projection — it preserves
  * partitioning, incurs no shuffle, and whole-stage codegen fuses the
  * non-UDF parts. The per-cell KDF cost is addressed at the function layer
  * (per-executor memoization) and by [[MaskTransform.maskViaDistinct]] for
  * low-cardinality columns.
  */
object MaskTransform {
  val MaskKey = "mask"
  val TreatmentsKey = "treatments"
  private val Placeholder = "${value}"

  /** Backtick-quoted identifier with embedded backticks ESCAPED (doubled,
    * Spark's convention) — a bare s"`$name`" interpolation turns a column
    * named a`b into malformed or mis-resolving SQL. */
  private[operators] def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Compose the treatment templates for one column into a single SQL
    * expression string (textual fold, `${value}` substitution).
    *
    * The accumulated state substitutes PARENTHESIZED: a bare textual
    * substitution lets the next template's operator precedence rebind the
    * previous expression (["${value} + 1", "${value} * 2"] would compose
    * to `c + 1 * 2` = c + 2 instead of (c+1)*2) — a silent wrong-mask, so
    * this is a deliberate fix-divergence in the Q1-Q5 spirit. Function-
    * call templates (the reference's actual usage) are unaffected. */
  def composeTreatments(columnName: String, treatments: Seq[String]): String =
    treatments.foldLeft("") { (state, treatment) =>
      val current = if (state.isEmpty) quoted(columnName) else s"($state)"
      treatment.replace(Placeholder, current)
    }

  /** Column metadata `{"mask": {"treatments": [...]}}` carrying the given
    * treatment templates — the format [[apply]] reads. */
  def treatmentsMetadata(treatments: String*): Metadata =
    new MetadataBuilder().putMetadata(MaskKey,
      new MetadataBuilder().putStringArray(TreatmentsKey, treatments.toArray).build()).build()

  /** The masking projection as Column trees; pure, lazy, no side effects. */
  def apply(df: DataFrame): DataFrame = {
    val columns: Array[Column] = df.schema.fields.map { field =>
      if (field.metadata.contains(MaskKey)) {
        Try(field.metadata.getMetadata(MaskKey)) match {
          case Failure(_) =>
            throw new Exception(s"field '${field.name}' has invalid type for '$MaskKey'.")
          case Success(mask) =>
            Try(mask.getStringArray(TreatmentsKey)) match {
              case Failure(_) =>
                throw new Exception(s"field '${field.name}' is missing treatments key '$TreatmentsKey'")
              case Success(treatments) if treatments.isEmpty =>
                // expr("") would throw a ParseException naming neither the
                // field nor the problem — fail with the field name like the
                // adjacent guards do
                throw new Exception(s"field '${field.name}' has an empty '$TreatmentsKey' array")
              case Success(treatments) =>
                val composed = expr(composeTreatments(field.name, treatments.toSeq))
                castBack(composed, field.dataType)
                  .as(field.name, field.metadata)
            }
        }
      } else col(quoted(field.name))
    }
    df.select(columns.toIndexedSeq: _*)
  }

  /** Re-assert the original column type after the treatment chain. The
    * reference only covers decimal (preserving precision/scale) and date;
    * we cast uniformly (its behavior is a strict subset). */
  private def castBack(c: Column, dt: DataType): Column = dt match {
    case d: DecimalType => c.cast(DecimalType(d.precision, d.scale))
    case other => c.cast(other)
  }

  /** Stage wrapper with the reference's dataflow contract: read a named view,
    * mask, publish the output view, optionally persist + instrument
    * (records + rate, O5-O6). Publishing and persisting go through
    * [[StageConfig.publish]], the pipeline runner's own path. Returns the
    * output frame and the stage detail map the reference logs. */
  def runStage(
      spark: org.apache.spark.sql.SparkSession,
      inputView: String,
      outputView: String,
      persist: Boolean = false): (DataFrame, Map[String, Any]) = {
    val outputDF = apply(spark.table(inputView))

    var detail = Map[String, Any]("inputView" -> inputView, "outputView" -> outputView)
    if (!outputDF.isStreaming) {
      detail += ("outputColumns" -> outputDF.schema.length)
      // .rdd forces one physical planning of the output frame here. That is
      // deliberate bug-compat with the reference's own instrumentation
      // (MaskDataTransform.scala:160 does the same to report partitions);
      // callers who cannot afford the planning pass use apply() directly,
      // which attaches no instrumentation.
      detail += ("numPartitions" -> outputDF.rdd.getNumPartitions)
    }
    val start = System.currentTimeMillis()
    StageConfig.publish(outputDF, outputView, persist).foreach { records =>
      val elapsed = System.currentTimeMillis() - start
      detail += ("records" -> records)
      // "rate" keeps the reference's exact formula — integer ms-per-record
      // (MaskDataTransform.scala:168 computes (endTime-startTime)/count),
      // which floors to 0 for any stage faster than 1 ms/record; kept for
      // dashboard parity, with the metric a human actually wants alongside
      detail += ("rate" -> (if (records > 0) elapsed / records else 0L))
      detail += ("recordsPerSecond" -> (records * 1000L / math.max(elapsed, 1L)))
    }
    (outputDF, detail)
  }

  /** Scale path for low-cardinality masked columns: KDF-hash each DISTINCT
    * value once, then map results back over the full table.
    *
    * At 100 TB a customer-name column might hold billions of cells but only
    * millions of distinct values; hashing per cell wastes (cells/distinct)×
    * the KDF cost. This routes through a distinct-aggregate (map-side combine
    * shrinks the shuffle to the distinct set), computes the KDF once per
    * value, and joins back. The dictionary side is broadcast when it fits
    * (Spark's AQE decides from its actual size); the join key is the original
    * column, so AQE can also convert to shuffled hash join with skew
    * handling when the dictionary is large.
    *
    * Only valid for DETERMINISTIC masking expressions (the expression must be
    * value-functional). `maskExpr` receives the distinct-value column name.
    */
  def maskViaDistinct(
      df: DataFrame,
      column: String,
      maskExpr: String => Column,
      maskedColumn: Option[String] = None): DataFrame = {
    // resolve the SCHEMA name first, honoring the session's case
    // sensitivity: with case-insensitive resolution the dict/join below
    // would succeed for a case-mismatched name while the exact-string
    // projection match silently KEPT THE PLAINTEXT column — the worst
    // failure mode a masking operator can have
    val caseSensitive = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    val matches =
      if (caseSensitive) df.columns.filter(_ == column)
      else df.columns.filter(_.equalsIgnoreCase(column))
    require(matches.length == 1,
      if (matches.isEmpty) s"maskViaDistinct: column `$column` not found in [${df.columns.mkString(", ")}]"
      else s"maskViaDistinct: column `$column` is ambiguous under case-insensitive resolution: ${matches.mkString(", ")}")
    val schemaName = matches.head
    val outName = maskedColumn.getOrElse(schemaName)
    val dictCol = "__graft_distinct_value"
    val maskedDictCol = "__graft_masked_value"
    // The distinct output is BYTES-tiny but each row costs a full KDF call;
    // AQE's size-based coalescing would funnel every hash into one task.
    // An explicit repartition (exempt from coalescing) keeps the KDF stage
    // on all cores — at production Argon2 cost this is the difference
    // between minutes and hours per million distinct values.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val dict = df.select(col(quoted(schemaName)).as(dictCol)).where(col(dictCol).isNotNull).distinct()
      .repartition(parallelism)
      .select(col(dictCol), maskExpr(dictCol).as(maskedDictCol))
    // no broadcast hint: AQE broadcasts the dictionary when it is small and
    // falls back to a shuffled hash join (with skew handling) when the
    // distinct set is large - a forced hint would OOM the driver there
    val joined = df.join(dict, df(quoted(schemaName)) === dict(dictCol), "left")
    val projected: Array[Column] =
      if (outName == schemaName) df.columns.map {
        case `schemaName` => col(maskedDictCol).as(schemaName)
        case c => col(quoted(c))
      }
      else df.columns.map(c => col(quoted(c))) :+ col(maskedDictCol).as(outName)
    joined.select(projected.toIndexedSeq: _*)
  }
}
