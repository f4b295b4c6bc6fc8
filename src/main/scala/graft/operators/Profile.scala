package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-table column profiling — the schema-drift monitor a pipeline runs
  * on every ingest batch: one row per column with row/null/distinct counts
  * and min/max, computed in a SINGLE aggregation pass over the corpus.
  *
  * Scale shape: every per-column statistic folds into one `agg(...)` call,
  * so the table is scanned exactly once; the multiple exact
  * `count_distinct`s plan through Spark's Expand (rows × profiled-columns
  * before map-side partial aggregation — the standard cost of exact
  * multi-column distincts; swap in `approx_count_distinct` via
  * `exact = false` at corpus scale, where HLL's ~2% error is immaterial
  * for drift detection but the Expand multiplier is not). The wide 1-row
  * result is then unpivoted driver-side into the per-column report — a
  * columns-count-sized stack, no second scan.
  *
  * min/max are reported as STRINGS so one report schema covers every
  * column type. Integral and string columns render identically on any
  * engine; floating-point, timestamp, date, and decimal columns report
  * null — ALL of them have engine-specific string rendering (float
  * formatting, timestamp fraction-trimming and zone suffixes, decimal
  * trailing-zero policy), and suppressing only floats would quietly
  * reintroduce the divergence for the others.
  */
object Profile {

  def profileColumns(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.foreach { c =>
      require(df.columns.contains(c), s"no such column: $c")
      // the unpivot goes through a generated stack() SQL string; a quote,
      // backtick, or backslash in the name would break (or mis-resolve)
      // the parse — fail loudly instead of surfacing an opaque
      // ParseException (a trailing backslash escapes the closing quote)
      require(!c.contains("`") && !c.contains("'") && !c.contains("\\"),
        s"column name contains a quote/backtick/backslash and cannot be profiled: $c " +
          "(alias it first)")
    }
    import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, FloatType, TimestampType}
    // any type whose canonical string form differs across engines: floats
    // (formatting), timestamps/dates (fraction trimming, zone suffixes),
    // decimals (trailing-zero policy)
    def nonPortableRendering(c: String) = df.schema(c).dataType match {
      case DoubleType | FloatType | TimestampType | DateType => true
      case _: DecimalType => true
      case _ => false
    }
    val aggs = cols.flatMap { c =>
      val v = col(s"`$c`")
      Seq(
        count(when(v.isNull, 1)).as(s"__null_$c"),
        (if (exact) countDistinct(v) else approx_count_distinct(v)).as(s"__dist_$c"),
        (if (nonPortableRendering(c)) lit(null).cast("string")
         else min(v).cast("string")).as(s"__min_$c"),
        (if (nonPortableRendering(c)) lit(null).cast("string")
         else max(v).cast("string")).as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // unpivot the 1-row wide frame with a stack expression — a
    // columns-count-sized projection, not a second pass over the data
    val stackArgs = cols.map { c =>
      s"'$c', __n, `__null_$c`, `__dist_$c`, `__min_$c`, `__max_$c`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $stackArgs) AS (column_name, n_rows, n_null, n_distinct, min_str, max_str)"))
  }
}
