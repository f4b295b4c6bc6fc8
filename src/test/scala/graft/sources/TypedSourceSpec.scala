package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.operators.MaskTransform
// (typo'd-spec guard test appended at the bottom of this suite)

class TypedSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  // messy raw rows mirroring the SHAPE of the reference's userdata fixture
  // (padded strings, dd/MM/uuuu dates, explicit null markers) — data is ours
  private def rawDf() = {
    import spark.implicits._
    Seq(
      ("  Avery ", "18/12/2016", "2016-12-18 21:46:54", " 96.37", "42", "true"),
      ("Rowan", "02/01/2017", "2017-01-02 03:04:05", "10.00", "NULL", "false"),
      ("NULL", "", "", "", "7", "TRUE"))
      .toDF("first_name", "registered", "created_at", "balance", "visits", "active")
  }

  private val specs = Seq(
    TypedSource.ColumnSpec("first_name", "string", trim = true, nullableValues = Seq("NULL", ""),
      metadata = MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")),
    TypedSource.ColumnSpec("registered", "date", trim = true, nullableValues = Seq(""),
      formatters = Seq("dd/MM/uuuu")),
    TypedSource.ColumnSpec("created_at", "timestamp", nullableValues = Seq(""),
      formatters = Seq("yyyy-MM-dd HH:mm:ss")),
    TypedSource.ColumnSpec("balance", "decimal(12,2)", trim = true, nullableValues = Seq("")),
    TypedSource.ColumnSpec("visits", "integer", nullableValues = Seq("NULL")),
    TypedSource.ColumnSpec("active", "boolean"))

  test("typing: trim, nullableValues, formatters, decimal precision") {
    val out = TypedSource.typed(rawDf(), specs)
    assert(out.schema.map(_.dataType) === Seq(StringType, DateType, TimestampType,
      DecimalType(12, 2), IntegerType, BooleanType))
    val rows = out.collect()
    assert(rows(0).getString(0) === "Avery") // trimmed
    assert(rows(0).getAs[java.sql.Date](1).toString === "2016-12-18") // dd/MM/uuuu
    assert(rows(0).getAs[java.math.BigDecimal](3).toString === "96.37")
    assert(rows(1).isNullAt(4), "'NULL' marker -> null int")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1) && rows(2).isNullAt(2))
    assert(rows(2).getBoolean(5) === true) // TRUE parses
  }

  test("mask treatments attached by typing drive MaskTransform end-to-end") {
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val typedDf = TypedSource.typed(rawDf(), specs)
    val masked = graft.operators.MaskTransform(typedDf).collect()
    assert(masked(0).getString(0).length === 16)
    assert(masked(2).isNullAt(0))
    // untreated typed columns unchanged
    assert(masked(0).getAs[java.sql.Date](1).toString === "2016-12-18")
  }

  test("readCsv: delimited extract + typing in one step") {
    SparkTestBase.withTargetDir("graft_csv") { d =>
      val dir = new java.io.File(d)
      val f = new java.io.File(dir, "data.csv")
      java.nio.file.Files.writeString(f.toPath,
        "first_name,registered,created_at,balance,visits,active\n" +
          "  Avery ,18/12/2016,2016-12-18 21:46:54, 96.37,42,true\n" +
          "NULL,,,,7,TRUE\n")
      val out = TypedSource.readCsv(spark, f.getAbsolutePath, specs)
      val rows = out.orderBy(org.apache.spark.sql.functions.col("visits")).collect()
      assert(rows.length === 2)
      assert(rows(1).getString(0) === "Avery")
      assert(rows(0).isNullAt(0))
      assert(out.schema("first_name").metadata.contains("mask"))
    }
  }

  test("readJson: json-lines extract + typing, same rules as delimited") {
    SparkTestBase.withTargetDir("graft_json") { d =>
      val dir = new java.io.File(d)
      val f = new java.io.File(dir, "data.json")
      java.nio.file.Files.writeString(f.toPath,
        """{"first_name": "  Avery ", "registered": "18/12/2016", "created_at": "2016-12-18 21:46:54", "balance": "96.37", "visits": "42", "active": "true"}
          |{"first_name": "NULL", "registered": "", "created_at": null, "balance": "1e3", "visits": "7", "active": "TRUE"}
          |""".stripMargin)
      val out = TypedSource.readJson(spark, f.getAbsolutePath, specs)
      assert(out.schema.map(_.dataType) === Seq(StringType, DateType, TimestampType,
        DecimalType(12, 2), IntegerType, BooleanType))
      val rows = out.orderBy(org.apache.spark.sql.functions.col("visits")).collect()
      assert(rows.length === 2)
      assert(rows(1).getString(0) === "Avery") // trimmed
      assert(rows(1).getAs[java.sql.Date](1).toString === "2016-12-18")
      assert(rows(0).isNullAt(0), "'NULL' marker applies to JSON too")
      assert(rows(0).getAs[java.math.BigDecimal](3).toString === "1000.00") // scientific -> decimal
      assert(out.schema("first_name").metadata.contains("mask"))
    }
  }

  test("multi-formatter fallback and malformed values survive ANSI mode") {
    import spark.implicits._
    val raw = Seq(
      ("2016-12-18", "42"), // ISO date matches the FIRST pattern
      ("18/12/2016", "oops"), // matches the SECOND; malformed int -> null
      ("not a date", "7")).toDF("d", "n")
    val out = TypedSource.typed(raw, Seq(
      TypedSource.ColumnSpec("d", "date", formatters = Seq("yyyy-MM-dd", "dd/MM/uuuu")),
      TypedSource.ColumnSpec("n", "integer")))
    val rows = out.collect()
    assert(rows(0).getAs[java.sql.Date](0).toString === "2016-12-18")
    assert(rows(1).getAs[java.sql.Date](0).toString === "2016-12-18")
    assert(rows(2).isNullAt(0), "unparseable date must be null, not an exception")
    assert(rows(1).isNullAt(1), "malformed int must be null under ANSI mode")
    assert(rows(2).getInt(1) === 7)
  }

  test("unknown type errors with the field name") {
    val e = intercept[Exception](TypedSource.typed(rawDf(),
      Seq(TypedSource.ColumnSpec("first_name", "blob"))))
    assert(e.getMessage === "field 'first_name' has unknown type 'blob'")
  }

  test("a spec matching no source column fails loudly (typos cannot drop masking metadata)") {
    val e = intercept[IllegalArgumentException](TypedSource.typed(rawDf(),
      Seq(TypedSource.ColumnSpec("frist_name", "string"))))
    assert(e.getMessage.contains("frist_name"))
    assert(e.getMessage.contains("typedPositional"))
  }
}
