package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The `{"stages": [...]}` host-runner contract: validate-all-then-execute,
  * stage-indexed error accumulation, per-stage environment gating, and
  * view-name dataflow (reference MaskDataTransformSuite.scala:64-110). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def publishRaw(view: String): Unit = {
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "alice"), Row(2L, "bob"), Row(3L, "carol"))),
      StructType(Seq(StructField("id", LongType), StructField("secret", StringType))))
      .createOrReplaceTempView(view)
  }

  test("multi-stage pipeline: metadata -> mask -> sql, wired by view names") {
    publishRaw("pl_raw")
    val conf =
      """stages = [
        |  {
        |    type = MetadataTransform
        |    name = "attach treatments"
        |    environments = [test]
        |    inputView = pl_raw
        |    outputView = pl_typed
        |    treatments { secret = "mask_string(16, true, ${value})" }
        |  }
        |  {
        |    type = MaskDataTransform
        |    name = "mask"
        |    environments = [test]
        |    inputView = pl_typed
        |    outputView = pl_masked
        |    persist = true
        |  }
        |  {
        |    type = SQLTransform
        |    name = "summarize"
        |    environments = [test]
        |    sql = "SELECT count(*) AS n, count(CASE WHEN length(secret) = ${want} THEN 1 END) AS n_len FROM pl_masked"
        |    sqlParams { want = 16 }
        |    outputView = pl_summary
        |  }
        |]""".stripMargin
    val Right(Some(df)) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
    val row = df.collect()(0)
    assert(row.getLong(0) === 3L && row.getLong(1) === 3L)
    // dataflow went through the catalog: every stage's view is published
    assert(spark.catalog.tableExists("pl_typed"))
    assert(spark.catalog.tableExists("pl_masked"))
    assert(spark.catalog.tableExists("pl_summary"))
    // the masked view actually masked (not the raw values)
    val masked = spark.table("pl_masked").collect().map(_.getString(1))
    assert(masked.forall(_.length === 16))
    assert(!masked.contains("alice"))
    Seq("pl_typed", "pl_masked", "pl_summary").foreach(spark.catalog.dropTempView)
  }

  test("validation failure anywhere means NO stage executes (no partial pipelines)") {
    publishRaw("pl2_raw")
    val conf =
      """stages = [
        |  { type = MetadataTransform, name = ok, inputView = pl2_raw, outputView = pl2_typed,
        |    treatments { secret = "mask_string(16, true, ${value})" } }
        |  { type = MaskDataTransform, name = broken, inputView = pl2_typed }
        |  { type = SQLTransform, name = "also broken", outputView = x }
        |]""".stripMargin
    val Left(errors) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
    // errors from BOTH broken stages, each prefixed with index and name
    assert(errors.exists(e => e.startsWith("stage 1 ('broken'):") && e.contains("Missing required attribute 'outputView'")), errors)
    assert(errors.exists(e => e.startsWith("stage 2 ('also broken'):") && e.contains("Missing required attribute 'sql'")), errors)
    // the VALID stage 0 must not have run
    assert(!spark.catalog.tableExists("pl2_typed"), "no partial execution on validation failure")
  }

  test("per-stage environment gating skips gated stages and keeps walking") {
    publishRaw("pl3_raw")
    val conf =
      """stages = [
        |  { type = MetadataTransform, name = meta, environments = [test, production],
        |    inputView = pl3_raw, outputView = pl3_typed,
        |    treatments { secret = "mask_string(16, true, ${value})" } }
        |  { type = SQLTransform, name = "prod only", environments = [production],
        |    sql = "SELECT * FROM does_not_exist", outputView = pl3_prod }
        |  { type = SQLTransform, name = count, environments = [test],
        |    sql = "SELECT count(*) AS n FROM pl3_typed", outputView = pl3_n }
        |]""".stripMargin
    // under "test" the production-only stage (which would fail at runtime)
    // is skipped; the pipeline completes and returns the LAST EXECUTED frame
    val Right(Some(df)) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
    assert(df.collect()(0).getLong(0) === 3L)
    assert(!spark.catalog.tableExists("pl3_prod"))
    // every stage gated out -> Right(None)
    val allGated =
      """stages = [ { type = SQLTransform, name = s, environments = [production],
        |  sql = "SELECT 1 AS one", outputView = pl3_x } ]""".stripMargin
    assert(StageConfig.runPipeline(spark, allGated, "test") === Right(None))
    Seq("pl3_typed", "pl3_n").foreach(spark.catalog.dropTempView)
  }

  test("unknown stage type and non-object stages are stage-indexed errors") {
    val Left(e1) = StageConfig.parsePipeline(
      """stages = [ { type = TeleportTransform, name = t, inputView = a, outputView = b } ]"""): @unchecked
    assert(e1.exists(e => e.startsWith("stage 0 ('t'):") && e.contains("Unknown stage type 'TeleportTransform'")), e1)
    val Left(e2) = StageConfig.parsePipeline("""stages = [ 42 ]"""): @unchecked
    assert(e2.exists(_.contains("stage 0: must be an object")), e2)
    assert(StageConfig.parsePipeline("""stages = []""").isLeft)
    assert(StageConfig.parsePipeline("""name = x""").left.exists(_.exists(_.contains("'stages'"))))
  }

  test("runtime failure aborts the walk with stage index and name in the error") {
    publishRaw("pl4_raw")
    val conf =
      """stages = [
        |  { type = SQLTransform, name = first, sql = "SELECT count(*) AS n FROM pl4_raw", outputView = pl4_a }
        |  { type = SQLTransform, name = explodes, sql = "SELECT * FROM view_that_is_not_there", outputView = pl4_b }
        |]""".stripMargin
    val ex = intercept[RuntimeException] {
      StageConfig.runPipeline(spark, conf, "test")
    }
    assert(ex.getMessage.startsWith("stage 1 ('explodes', SQLTransform) failed:"), ex.getMessage)
    // sequential semantics: the earlier stage's view IS published
    assert(spark.catalog.tableExists("pl4_a"))
    spark.catalog.dropTempView("pl4_a")
  }

  test("extract and load stages round-trip files (delimited in, parquet out)") {
    SparkTestBase.withTargetDir("graft_pl") { d =>
      val dir = new java.io.File(d)
      val csv = new java.io.File(dir, "in.csv")
      val pw = new java.io.PrintWriter(csv)
      pw.println("id,word"); pw.println("1,hello"); pw.println("2,world"); pw.close()
      val outDir = new java.io.File(dir, "out.parquet").getAbsolutePath
      val conf =
        s"""stages = [
           |  { type = DelimitedExtract, name = extract, inputURI = "${csv.getAbsolutePath}",
           |    outputView = pl5_csv, header = true, numPartitions = 2 }
           |  { type = SQLTransform, name = upper,
           |    sql = "SELECT id, upper(word) AS word FROM pl5_csv", outputView = pl5_up }
           |  { type = ParquetLoad, name = load, inputView = pl5_up, outputURI = "$outDir" }
           |]""".stripMargin
      val Right(Some(_)) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
      val back = spark.read.parquet(outDir).collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(back === Set(("1", "HELLO"), ("2", "WORLD")))
      // the extract honored numPartitions (spreads a one-split file)
      assert(spark.table("pl5_csv").rdd.getNumPartitions === 2)
      Seq("pl5_csv", "pl5_up").foreach(spark.catalog.dropTempView)
    }
  }

  test("MetadataTransform adds the mask key on top of a column's other metadata") {
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val comment = new MetadataBuilder().putString("comment", "pii").build()
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "alice"), Row(2L, "bob"))),
      StructType(Seq(StructField("id", LongType),
        StructField("secret", StringType, nullable = true, comment))))
      .createOrReplaceTempView("plm_raw")
    val conf =
      """stages = [
        |  { type = MetadataTransform, name = meta, inputView = plm_raw, outputView = plm_typed,
        |    treatments { secret = "mask_string(16, true, ${value})" } }
        |  { type = MaskDataTransform, name = mask, inputView = plm_typed, outputView = plm_masked }
        |]""".stripMargin
    val Right(Some(df)) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
    val meta = df.schema("secret").metadata
    assert(meta.getString("comment") === "pii")
    assert(meta.getMetadata(MaskTransform.MaskKey).getStringArray(MaskTransform.TreatmentsKey).toSeq ===
      Seq("mask_string(16, true, ${value})"))
    assert(df.collect().map(_.getString(1)).forall(_.length === 16))
    Seq("plm_raw", "plm_typed", "plm_masked").foreach(spark.catalog.dropTempView)
  }

  test("rerunning a persist = true pipeline releases the frames it persisted before") {
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    SparkTestBase.withTargetDir("graft_plr") { d =>
      val dir = java.nio.file.Paths.get(d)
      // two inputs, so the second run's frames are new plans, not cache hits
      val inputs = Seq("alice", "bob").map { who =>
        val path = dir.resolve(who).toString
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, who))),
          StructType(Seq(StructField("id", LongType), StructField("secret", StringType))))
          .write.parquet(path)
        path
      }
      def run(input: String): Int = {
        val conf =
          s"""stages = [
             |  { type = ParquetExtract, name = extract, inputURI = "$input",
             |    outputView = plr_raw, persist = true }
             |  { type = MetadataTransform, name = meta, inputView = plr_raw, outputView = plr_typed,
             |    treatments { secret = "mask_string(16, true, $${value})" } }
             |  { type = MaskDataTransform, name = mask, inputView = plr_typed, outputView = plr_masked,
             |    persist = true }
             |]""".stripMargin
        val Right(Some(df)) = StageConfig.runPipeline(spark, conf, "test"): @unchecked
        assert(df.collect().map(_.getString(1)).forall(_.length === 16))
        spark.sparkContext.getPersistentRDDs.size
      }
      val afterFirst = run(inputs(0))
      assert(run(inputs(1)) === afterFirst, "the first run's persisted frames must be released")
      Seq("plr_raw", "plr_masked").foreach(v => spark.table(v).unpersist())
      Seq("plr_raw", "plr_typed", "plr_masked").foreach(spark.catalog.dropTempView)
    }
  }

  test("file entry points: a .conf including a shared stage fragment runs end to end") {
    publishRaw("plf_raw")
    SparkTestBase.withTargetDir("graft_plf") { d =>
      val dir = java.nio.file.Paths.get(d)
      val fragment = java.nio.file.Files.writeString(dir.resolve("mask_stage.conf"),
        """type = MaskDataTransform
          |name = "shared mask"
          |inputView = plf_typed
          |outputView = plf_masked
          |""".stripMargin)
      val main = java.nio.file.Files.writeString(dir.resolve("pipeline.conf"),
        """stages = [
          |  { type = MetadataTransform, name = meta, inputView = plf_raw, outputView = plf_typed,
          |    treatments { secret = "mask_string(16, true, ${value})" } }
          |  { include "mask_stage.conf" }
          |]""".stripMargin)
      val Right(stage) = StageConfig.parseHoconFile(fragment.toString): @unchecked
      assert(stage.name === "shared mask" && stage.outputView === "plf_masked")
      val Right(stages) = StageConfig.parsePipelineFile(main.toString): @unchecked
      assert(stages.map(_.stageType) === List("MetadataTransform", "MaskDataTransform"))
      val Right(Some(df)) = StageConfig.runPipelineFile(spark, main.toString, "test"): @unchecked
      val masked = df.collect().map(_.getString(1))
      assert(masked.length === 3 && masked.forall(_.length === 16) && !masked.contains("alice"))
      Seq("plf_raw", "plf_typed", "plf_masked").foreach(spark.catalog.dropTempView)
    }
  }
}
