package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StageConfigSpec extends AnyFunSuite {

  test("valid config parses to a typed stage with defaults") {
    val Right(stage) = StageConfig.parseHocon(
      """{"type":"MaskDataTransform","name":"mask","environments":["test"],
        |"inputView":"in_v","outputView":"out_v"}""".stripMargin): @unchecked
    assert(stage.name === "mask")
    assert(stage.inputView === "in_v" && stage.outputView === "out_v")
    assert(!stage.persist && stage.params.isEmpty && stage.description.isEmpty)
  }

  test("errors accumulate: unknown keys + every missing field reported at once") {
    val Left(errors) = StageConfig.parseHocon(
      """{"typo":"x","another":"y","persist":"maybe"}"""): @unchecked
    assert(errors.exists(_.contains("Unknown option 'typo'")))
    assert(errors.exists(_.contains("Unknown option 'another'")))
    assert(errors.exists(_.contains("Missing required attribute 'name'")))
    assert(errors.exists(_.contains("Missing required attribute 'inputView'")))
    assert(errors.exists(_.contains("Missing required attribute 'outputView'")))
    assert(errors.exists(_.contains("'persist' must be a boolean")))
    assert(errors.size >= 6)
  }

  test("non-object json is rejected") {
    assert(StageConfig.parseHocon("[1,2,3]").isLeft)
    assert(StageConfig.parseHocon("not json").isLeft)
  }

  test("a single-stage document declaring another stage type is rejected") {
    val Left(errors) = StageConfig.parseHocon(
      "type = ParquetLoad\nname = x\ninputView = a\noutputView = b"): @unchecked
    assert(errors === List("'type' must be MaskDataTransform, not 'ParquetLoad'."))
    val Right(_) = StageConfig.parseHocon(
      "type = MaskDataTransform\nname = x\ninputView = a\noutputView = b"): @unchecked
  }

  test("environments gate: stage skipped when active env not listed, run when it is") {
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val meta = MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")
    val schema = StructType(Seq(StructField("secret", StringType, nullable = true, meta)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("sensitive"))), schema)
      .createOrReplaceTempView("env_in")
    val cfg =
      """{"name":"mask","environments":["production"],"inputView":"env_in","outputView":"env_out"}"""
    // active env not in the list -> validated but skipped
    assert(StageConfig.runIfEnvironment(spark, cfg, "test") === Right(None))
    assert(!spark.catalog.tableExists("env_out"), "skipped stage must not publish")
    // matching env -> runs
    val Right(Some(df)) = StageConfig.runIfEnvironment(spark, cfg, "production"): @unchecked
    assert(df.collect()(0).getString(0).length === 16)
    // empty/absent list -> runs everywhere
    val cfg2 = """{"name":"mask","inputView":"env_in","outputView":"env_out2"}"""
    assert(StageConfig.runIfEnvironment(spark, cfg2, "anything").toOption.get.isDefined)
    // malformed environments accumulates an error
    val Left(errs) = StageConfig.parseHocon(
      """{"name":"m","environments":"prod","inputView":"a","outputView":"b"}"""): @unchecked
    assert(errs.exists(_.contains("'environments' must be an array of strings")))
    spark.catalog.dropTempView("env_out")
    spark.catalog.dropTempView("env_out2")
  }

  test("golden error lists: every stage type reports the same strings in the same order") {
    // one config per stage type with an unknown key, a wrongly typed field
    // and a missing required field; unknown keys come first (sorted), then
    // field errors in the type's field order
    val cases = Seq(
      """{ type = MaskDataTransform, name = "", description = [x], environments = prod,
        |  outputView = b, persist = maybe, params = 5, zeta = 1, alpha = 2 }""".stripMargin -> Seq(
        "stage 0 (unnamed): Unknown option 'alpha'.",
        "stage 0 (unnamed): Unknown option 'zeta'.",
        "stage 0 (unnamed): 'name' must be a non-empty string.",
        "stage 0 (unnamed): 'description' must be a string.",
        "stage 0 (unnamed): 'environments' must be an array of strings.",
        "stage 0 (unnamed): Missing required attribute 'inputView'.",
        "stage 0 (unnamed): 'persist' must be a boolean.",
        "stage 0 (unnamed): 'params' must be an object of scalar values."),
      """{ type = ParquetExtract, name = p, inputURI = 7, persist = 1, numPartitions = 0,
        |  header = true, extra = x }""".stripMargin -> Seq(
        "stage 0 ('p'): Unknown option 'extra'.",
        "stage 0 ('p'): Unknown option 'header'.",
        "stage 0 ('p'): 'inputURI' must be a non-empty string.",
        "stage 0 ('p'): Missing required attribute 'outputView'.",
        "stage 0 ('p'): 'persist' must be a boolean.",
        "stage 0 ('p'): 'numPartitions' must be a positive integer."),
      """{ type = DelimitedExtract, name = d, environments = [a, 2], outputView = v,
        |  header = yes, numPartitions = many, inputUri = x }""".stripMargin -> Seq(
        "stage 0 ('d'): Unknown option 'inputUri'.",
        "stage 0 ('d'): 'environments' must be an array of strings.",
        "stage 0 ('d'): Missing required attribute 'inputURI'.",
        "stage 0 ('d'): 'header' must be a boolean.",
        "stage 0 ('d'): 'numPartitions' must be an integer."),
      """{ type = MetadataTransform, name = t, outputView = [b], treatments {},
        |  params { a = b } }""".stripMargin -> Seq(
        "stage 0 ('t'): Unknown option 'params'.",
        "stage 0 ('t'): Missing required attribute 'inputView'.",
        "stage 0 ('t'): 'outputView' must be a non-empty string.",
        "stage 0 ('t'): 'treatments' must map at least one column to a treatment expression."),
      """{ type = SQLTransform, description = 3, sql = "SELECT 1", persist = "true",
        |  sqlParams = [x], inputView = a }""".stripMargin -> Seq(
        "stage 0 (unnamed): Unknown option 'inputView'.",
        "stage 0 (unnamed): Missing required attribute 'name'.",
        "stage 0 (unnamed): 'description' must be a string.",
        "stage 0 (unnamed): Missing required attribute 'outputView'.",
        "stage 0 (unnamed): 'sqlParams' must be an object of scalar values."),
      """{ type = ParquetLoad, name = l, inputView = a, numPartitions = 99999999999,
        |  persist = true }""".stripMargin -> Seq(
        "stage 0 ('l'): Unknown option 'persist'.",
        "stage 0 ('l'): Missing required attribute 'outputURI'.",
        "stage 0 ('l'): 'numPartitions' must be an integer."))
    cases.foreach { case (stage, expected) =>
      assert(StageConfig.parsePipeline(s"stages = [ $stage ]") === Left(expected.toList), stage)
    }
  }

  test("golden: a mask_etl-shaped pipeline document parses to these typed stages") {
    // the benchmark's document shape: newline-separated stage objects,
    // quoted treatments holding ${value} and single-quoted SQL literals, a
    // persisted SQL stage and a ParquetLoad with numPartitions
    val treatments = Seq(
      "holder" -> "mask_string(16, true, ${value})",
      "card" -> "mask_string_alphabet_format(16, '0123456789', 'xxxx-xxxx-xxxx-xxxx', true, ${value})",
      "birth_date" -> "mask_date(365, true, ${value})",
      "created_at" -> "mask_timestamp(30, true, ${value})",
      "balance" -> "mask_decimal(CAST(5.00 AS DECIMAL(4,2)), true, ${value})")
    val treat = treatments.map { case (c, t) => s"""$c = "$t"""" }.mkString(", ")
    val sql = "SELECT count(*) AS n, count(CASE WHEN length(holder) = 16 THEN 1 END) AS n_len16, " +
      "sum(id) AS id_sum FROM pb_masked"
    val conf =
      s"""stages = [
         |  { type = ParquetExtract, name = extract, environments = [bench],
         |    inputURI = "/data/etl_in", outputView = pb_raw, persist = true, numPartitions = 4 }
         |  { type = MetadataTransform, name = treatments, environments = [bench],
         |    inputView = pb_raw, outputView = pb_typed, treatments { $treat } }
         |  { type = MaskDataTransform, name = mask, environments = [bench],
         |    inputView = pb_typed, outputView = pb_masked, persist = true }
         |  { type = SQLTransform, name = summary, environments = [bench], persist = true,
         |    sql = "$sql",
         |    outputView = pb_summary }
         |  { type = ParquetLoad, name = load, environments = [bench],
         |    inputView = pb_masked, outputURI = "/data/etl_out", numPartitions = 4 }
         |]""".stripMargin
    val bench = Seq("bench")
    assert(StageConfig.parsePipeline(conf) === Right(List(
      StageConfig.ExtractStage("ParquetExtract", "extract", None, bench, "/data/etl_in", "pb_raw",
        persist = true, header = false, numPartitions = Some(4)),
      StageConfig.MetadataStage("treatments", None, bench, "pb_raw", "pb_typed", persist = false,
        treatments.toMap),
      StageConfig.MaskStage("mask", None, bench, "pb_typed", "pb_masked", persist = true, Map.empty),
      StageConfig.SqlStage("summary", None, bench, sql, "pb_summary", persist = true, Map.empty),
      StageConfig.LoadStage("load", None, bench, "pb_masked", "/data/etl_out", Some(4)))))
  }

  test("run executes the configured stage end to end") {
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val meta = MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")
    val schema = StructType(Seq(StructField("secret", StringType, nullable = true, meta)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("sensitive"))), schema)
      .createOrReplaceTempView("sc_in")
    val Right(df) = StageConfig.run(spark,
      """{"name":"mask","inputView":"sc_in","outputView":"sc_out","persist":true}"""): @unchecked
    assert(df.collect()(0).getString(0).length === 16)
    assert(spark.table("sc_out").count() === 1)
    spark.catalog.dropTempView("sc_out")
  }

  test("string maps read a number as written, as Typesafe's getString does; numPartitions reads its value") {
    val Right(stages) = StageConfig.parsePipeline(
      """stages = [
        |  { name = m, inputView = a, outputView = b, params { f = 3.5e2, g = 1.50, h = 2.0, n = 32, r = 0.5 } }
        |  { type = MetadataTransform, name = t, inputView = b, outputView = c, treatments { x = 1.50 } }
        |  { type = SQLTransform, name = s, sql = "SELECT 1", outputView = d, sqlParams { k = 1e3 } }
        |  { type = ParquetLoad, name = l, inputView = d, outputURI = out, numPartitions = 2.0 }
        |]""".stripMargin): @unchecked
    val List(m: StageConfig.MaskStage, t: StageConfig.MetadataStage, s: StageConfig.SqlStage,
      l: StageConfig.LoadStage) = stages: @unchecked
    assert(m.params === Map("f" -> "3.5e2", "g" -> "1.50", "h" -> "2.0", "n" -> "32", "r" -> "0.5"))
    assert(t.treatments === Map("x" -> "1.50"))
    assert(s.sqlParams === Map("k" -> "1e3"))
    assert(l.numPartitions === Some(2))
    assert(StageConfig.parsePipeline(
      "stages = [ { type = ParquetLoad, name = l, inputView = d, outputURI = out, numPartitions = 2.5 } ]") ===
      Left(List("stage 0 ('l'): 'numPartitions' must be an integer.")))
  }
}
