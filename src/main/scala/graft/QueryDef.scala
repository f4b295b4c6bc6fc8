package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the registry, stated once: its name, how to build its
  * result over a scale-factor directory, the DuckDB SQL that computes the
  * same result over the same parquet tables, and the tags harnesses select
  * it by. [[SparkEntry.registry]] lists every record; [[Bench]] runs all of
  * them, and [[ScaleCheck]] the `Scale`-tagged ones. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    tags: Set[QueryDef.Tag] = Set.empty)

object QueryDef {
  sealed trait Tag

  /** Measured by [[ScaleCheck]] at 1x and SCALEx. */
  case object Scale extends Tag
}
