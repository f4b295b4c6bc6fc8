package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.MaskUdfs
import graft.operators.MaskTransform.treatmentsMetadata

class MaskTransformSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def fixture() = {
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val schema = StructType(Seq(
      StructField("first_name", StringType, nullable = true, treatmentsMetadata("mask_string(16, true, ${value})")),
      StructField("plain", StringType, nullable = true,
        new MetadataBuilder().putBoolean("pii", false).build()),
      StructField("create_date", TimestampType, nullable = true,
        treatmentsMetadata("date_trunc('HOUR', ${value})", "mask_timestamp(14, true, ${value})")),
      StructField("balance", DecimalType(6, 2), nullable = true,
        treatmentsMetadata("mask_decimal(CAST(5.00 AS DECIMAL(4,2)), true, ${value})"))))
    val rows = Seq(
      Row("Alice", "keep-1", java.sql.Timestamp.valueOf("2016-12-18 21:46:54"), new java.math.BigDecimal("96.37")),
      Row("Bob", "keep-2", java.sql.Timestamp.valueOf("2017-01-02 03:04:05"), new java.math.BigDecimal("10.00")),
      Row(null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("masks only treated columns; passthrough untouched; nulls preserved") {
    val df = fixture()
    val out = MaskTransform(df)
    val rows = out.collect()
    val in = df.collect()
    // passthrough column identical
    assert(rows.map(_.getAs[String]("plain")).toSeq === in.map(_.getAs[String]("plain")).toSeq)
    // masked string: changed, 16 chars, deterministic
    val masked = rows.map(r => Option(r.getAs[String]("first_name")))
    assert(masked(0).get.length === 16)
    assert(masked(0).get !== "Alice")
    assert(masked(2).isEmpty, "null must stay null")
    val again = MaskTransform(df).collect().map(r => Option(r.getAs[String]("first_name")))
    assert(masked.toSeq === again.toSeq)
  }

  test("treatment composition folds left-to-right (date_trunc then mask)") {
    val out = MaskTransform(fixture()).collect()
    val t = out(0).getAs[java.sql.Timestamp]("create_date")
    // hour-truncated survives the whole-day mask shift
    assert(t.toInstant.toString.matches(".*T\\d{2}:00:00Z"), s"got $t")
    val orig = java.sql.Timestamp.valueOf("2016-12-18 21:00:00")
    val days = (t.getTime - orig.getTime) / (24L * 3600 * 1000)
    assert(math.abs(days) < 14)
  }

  test("type re-assertion: output schema types match input exactly") {
    val df = fixture()
    val out = MaskTransform(df)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val b = out.collect()(0).getAs[java.math.BigDecimal]("balance")
    assert(b.scale === 2)
    assert(b.subtract(new java.math.BigDecimal("96.37")).abs.doubleValue < 5.0)
  }

  test("metadata re-attach: treatments survive into the output schema") {
    val out = MaskTransform(fixture())
    val meta = out.schema("first_name").metadata
    assert(meta.contains(MaskTransform.MaskKey))
    assert(meta.getMetadata(MaskTransform.MaskKey)
      .getStringArray(MaskTransform.TreatmentsKey).toSeq === Seq("mask_string(16, true, ${value})"))
    assert(out.schema("plain").metadata.getBoolean("pii") === false)
  }

  test("error contract: mask metadata of wrong shape / missing treatments") {
    val schema1 = StructType(Seq(StructField("c", StringType, nullable = true,
      new MetadataBuilder().putString(MaskTransform.MaskKey, "oops").build())))
    val df1 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("x"))), schema1)
    val e1 = intercept[Exception](MaskTransform(df1))
    assert(e1.getMessage === "field 'c' has invalid type for 'mask'.")

    val schema2 = StructType(Seq(StructField("c", StringType, nullable = true,
      new MetadataBuilder().putMetadata(MaskTransform.MaskKey,
        new MetadataBuilder().putString("other", "x").build()).build())))
    val df2 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("x"))), schema2)
    val e2 = intercept[Exception](MaskTransform(df2))
    assert(e2.getMessage === "field 'c' is missing treatments key 'treatments'")
  }

  test("runStage publishes the output view and instruments persist") {
    val df = fixture()
    df.createOrReplaceTempView("mt_input")
    val (_, detail) = MaskTransform.runStage(spark, "mt_input", "mt_output", persist = true)
    assert(spark.table("mt_output").count() === 3)
    assert(detail("records") === 3L)
    assert(detail.contains("rate") && detail.contains("numPartitions"))
    spark.catalog.dropTempView("mt_output")
  }

  test("backquote-needing column names survive (Q5 fix)") {
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val schema = StructType(Seq(
      StructField("weird name-col", StringType, nullable = true, treatmentsMetadata("mask_string(16, true, ${value})"))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("v1"))), schema)
    val out = MaskTransform(df).collect()
    assert(out(0).getString(0).length === 16)
  }

  test("masked output round-trips through parquet with treatments metadata intact") {
    val df = fixture()
    val out = MaskTransform(df)
    SparkTestBase.withTargetDir("graft_rt") { dir =>
      out.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.count() === 3)
      val meta = back.schema("first_name").metadata
      assert(meta.contains(MaskTransform.MaskKey),
        "treatments metadata must survive a parquet round trip")
      assert(back.schema.map(_.dataType) === out.schema.map(_.dataType))
    }
  }

  test("maskViaDistinct agrees with direct masking and preserves nulls") {
    import org.apache.spark.sql.functions.expr
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    import spark.implicits._
    val df = (1 to 100).map(i => s"name-${i % 7}").toDF("n")
      .union(Seq.fill(3)(null.asInstanceOf[String]).toDF("n"))
    val direct = df.selectExpr("mask_string_det(16, n) AS n").collect().map(r => Option(r.getString(0)))
    val viaDistinct = MaskTransform.maskViaDistinct(df, "n", c => expr(s"mask_string_det(16, `$c`)"))
      .collect().map(r => Option(r.getString(0)))
    assert(direct.sortBy(_.getOrElse("")).toSeq === viaDistinct.sortBy(_.getOrElse("")).toSeq)
    assert(viaDistinct.count(_.isEmpty) === 3)
  }

  test("maskViaDistinct: a case-mismatched column name masks (never silently leaks plaintext)") {
    import spark.implicits._
    val df = Seq("alice", "bob").toDF("Email")
    // case-insensitive session default: "email" must resolve to "Email"
    val out = MaskTransform.maskViaDistinct(df, "email",
      name => org.apache.spark.sql.functions.upper(org.apache.spark.sql.functions.col(name)))
    val vals = out.collect().map(_.getString(0)).toSet
    assert(vals === Set("ALICE", "BOB"), "plaintext leaked through a case mismatch")
    // a name that matches nothing fails loudly
    val e = intercept[IllegalArgumentException] {
      MaskTransform.maskViaDistinct(df, "nope",
        name => org.apache.spark.sql.functions.col(name))
    }
    assert(e.getMessage.contains("not found"))
  }

  test("treatment composition parenthesizes the accumulated state (precedence-safe)") {
    assert(MaskTransform.composeTreatments("c", Seq("${value} + 1", "${value} * 2"))
      === "(`c` + 1) * 2")
  }

  test("mask_fpe composes as a metadata treatment (FPE joins the O1/O2 pipeline)") {
    // treatments are SQL templates, so the FF1 function needs NO operator
    // change to ride the metadata-driven masking stage — this pins that
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val schema = StructType(Seq(
      StructField("pan", StringType, nullable = true,
        treatmentsMetadata("mask_fpe('0123456789', 'pan', ${value})"))))
    val rows = Seq(Row("4111-1111-1111-1111"), Row("12"), Row(null: String))
    val out = MaskTransform(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)).collect()
    val masked = out(0).getString(0)
    assert(masked.matches("^[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}$"))
    assert(masked !== "4111-1111-1111-1111")
    assert(masked === graft.functions.Fpe.mask(SparkTestBase.passphrase)(
      "0123456789", "pan", "4111-1111-1111-1111"))
    assert(out(1).getString(0) !== null) // "12" is at the FF1 domain minimum
    assert(out(2).isNullAt(0)) // null passes
  }

  test("empty treatments array fails naming the field, not with a bare ParseException") {
    import spark.implicits._
    val meta = treatmentsMetadata()
    val df = Seq("x").toDF("c").select(org.apache.spark.sql.functions.col("c").as("c", meta))
    val e = intercept[Exception] { MaskTransform(df) }
    assert(e.getMessage.contains("'c'") && e.getMessage.contains("empty"))
  }
}
