package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.MaskTransform

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 (or an
  * LLM-pipeline extension) over the driver's parquet tables. KDF outputs are
  * not computable in DuckDB, so masking queries return PROPERTY AGGREGATES
  * (row counts, null counts, bound checks, determinism self-equality) whose
  * expected values the DuckDB oracle derives from the unmasked base table.
  */
object SparkEntry extends EntryCore
    with EntryMaskDedupMedia with EntryAnnSketchText
    with EntryTokenizerStream with EntryGraphCrawlPrivacy {

  /** Flagship: metadata-driven masking pipeline over sf0.001 customer —
    * the reference's end-to-end flow (typed source -> treatments in schema
    * metadata -> masking projection), driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Defaults.registerAll(spark)
    val customer = table(spark, "/root/testdata/sf0.001", "customer")
    val tagged = customer.select(
      customer("c_custkey"),
      customer("c_name").as("c_name", MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")),
      customer("c_nationkey"),
      customer("c_acctbal").as("c_acctbal",
        MaskTransform.treatmentsMetadata(
          "mask_decimal(CAST(2.00 AS DECIMAL(4,2)), true, CAST(${value} AS DECIMAL(12,2)))")),
      customer("c_mktsegment"))
    MaskTransform(tagged)
  }


  // ---------------------------------------------------------------------

  /** Every query, each record declared with its oracle and tags in the
    * entry file that defines it. */
  lazy val registry: Seq[QueryDef] = coreQueries ++ maskDedupMediaQueries ++
    annSketchTextQueries ++ tokenizerStreamQueries ++ graphCrawlPrivacyQueries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** The records named in the comma-separated `list`, in the order given;
    * throws naming every name that is not a query, so a mistyped subset
    * fails instead of running nothing. */
  def named(list: String): Seq[QueryDef] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val byName = registry.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query name(s): ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }
}
