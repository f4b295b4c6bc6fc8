package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-injected builders resolve and evaluate mask functions") {
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.{GraftBridge, SparkSessionExtensions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.lit

    // capture what the extension injects (a fresh session per extension config
    // isn't possible inside one shared test JVM, so drive the injected
    // builders directly - they are exactly what a session would register)
    sys.props("graft.allowTestProfile") = "true" // no ETL_CONF_* env in the test JVM
    try {
      val captured = scala.collection.mutable.Map[String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression]()
      val ext = new SparkSessionExtensions {
        override def injectFunction(fd: (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
          captured(fd._1.funcName) = fd._3
      }
      new GraftExtensions().apply(ext)
      assert(captured.keySet === Set(
        "mask_string", "mask_string_alphabet", "mask_string_alphabet_format",
        "mask_date", "mask_timestamp", "mask_decimal", "mask_name", "mask_email",
        "mask_string_det", "mask_date_det", "mask_timestamp_det", "mask_decimal_det",
        "mask_fpe", "unmask_fpe", "mask_fpe_number", "unmask_fpe_number",
        "mask_fpe_date", "unmask_fpe_date", "graft_url_host", "graft_url_domain",
        "graft_url_canonical",
        "graft_dot", "graft_simhash64", "graft_quality", "graft_lang",
        "graft_langid", "graft_fingerprint", "graft_hash_bucket",
        "graft_max_abs", "graft_quantize_int8", "graft_dequant_max_error",
        "graft_redact", "graft_redaction_count",
        "graft_normalize", "graft_normalize_nopunct", "graft_tokens",
        "graft_zorder2", "graft_top_k", "graft_epoch_key",
        "graft_bottom_k", "graft_kll_sketch", "graft_gram_matrix"))

      val e = captured("mask_string")(Seq(
        GraftBridge.expression(lit(16)), GraftBridge.expression(lit(true)), GraftBridge.expression(lit("alice"))))
      val row = spark.range(1).select(GraftBridge.column(e).as("m")).collect()(0)
      assert(row.getString(0).length === 16)

      // analytics functions: native expressions, evaluable from SQL args
      import org.apache.spark.sql.functions.{array, split}
      val dot = captured("graft_dot")(Seq(
        GraftBridge.expression(array(lit(1.0), lit(2.0))), GraftBridge.expression(array(lit(3.0), lit(4.0)))))
      assert(spark.range(1).select(GraftBridge.column(dot)).collect()(0).getDouble(0) === 11.0)
      val lang = captured("graft_lang")(Seq(GraftBridge.expression(lit("the cat and the dog in the house"))))
      assert(spark.range(1).select(GraftBridge.column(lang)).collect()(0).getString(0) === "en")
      val sh = captured("graft_simhash64")(Seq(GraftBridge.expression(split(lit("a b c"), " "))))
      val shv = spark.range(1).select(GraftBridge.column(sh)).collect()(0).getLong(0)
      val apiV = spark.range(1).select(
        graft.plans.VectorExpressions.simhash64(split(lit("a b c"), " "))).collect()(0).getLong(0)
      assert(shv === apiV, "SQL-injected simhash matches the Column API")
      val red = captured("graft_redact")(Seq(GraftBridge.expression(lit("mail a@b.co now"))))
      assert(spark.range(1).select(GraftBridge.column(red)).collect()(0).getString(0) ===
        "mail [EMAIL] now")
      val redN = captured("graft_redaction_count")(Seq(GraftBridge.expression(lit("a@b.co and 1.2.3.4"))))
      assert(spark.range(1).select(GraftBridge.column(redN)).collect()(0).getLong(0) === 2L)
      val bucket = captured("graft_hash_bucket")(Seq(GraftBridge.expression(lit(42L))))
      assert(spark.range(1).select(GraftBridge.column(bucket)).collect()(0).getLong(0) ===
        java.lang.Long.remainderUnsigned(42L * 2654435761L, 4294967296L))
      // literal-parameterized expressions: z-order and the top-k aggregate
      // the SQL parser hands builders raw Literals for constants
      import org.apache.spark.sql.catalyst.expressions.Literal
      val z = captured("graft_zorder2")(Seq(
        GraftBridge.expression(lit(3L)), GraftBridge.expression(lit(5L)), Literal(10)))
      assert(spark.range(1).select(GraftBridge.column(z)).collect()(0).getLong(0) === 39L)
      val zErr = intercept[IllegalArgumentException](captured("graft_zorder2")(Seq(
        GraftBridge.expression(lit(3L)), GraftBridge.expression(lit(5L)),
        GraftBridge.expression(org.apache.spark.sql.functions.col("x")))))
      assert(zErr.getMessage.contains("integer literal"))
      val topk = captured("graft_top_k")(Seq(
        GraftBridge.expression(lit(1.0)), GraftBridge.expression(lit(7L)), Literal(3)))
      assert(topk.isInstanceOf[graft.plans.TopKByScore])
      // sketch aggregates (r13 ask #4): SQL surface for bottom-k and KLL —
      // evaluate end-to-end and match the Column-API result
      val bk = captured("graft_bottom_k")(Seq(
        GraftBridge.expression(org.apache.spark.sql.functions.col("id") * 7 % 5),
        GraftBridge.expression(org.apache.spark.sql.functions.col("id")), Literal(3)))
      assert(bk.isInstanceOf[graft.plans.BottomKLongPairs])
      val bkRows = spark.range(20)
        .select(GraftBridge.column(bk.asInstanceOf[graft.plans.BottomKLongPairs]
          .toAggregateExpression()).as("sk"))
        .selectExpr("inline(sk)").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val bkApi = spark.range(20)
        .select(graft.plans.TopKAggregate.bottomKLongPairs(
          org.apache.spark.sql.functions.col("id") * 7 % 5,
          org.apache.spark.sql.functions.col("id"), 3).as("sk"))
        .selectExpr("inline(sk)").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(bkRows === bkApi, "SQL-injected bottom-k matches the Column API")
      val kll = captured("graft_kll_sketch")(Seq(
        GraftBridge.expression(org.apache.spark.sql.functions.col("id")), Literal(64)))
      assert(kll.isInstanceOf[graft.plans.KllSketchAgg])
      val kllItems = spark.range(1000)
        .select(GraftBridge.column(kll.asInstanceOf[graft.plans.KllSketchAgg]
          .toAggregateExpression()).as("sk"))
        .selectExpr("inline(sk)").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val kllState = graft.plans.KllAggregate.stateOf(kllItems, 1000L, 64)
      assert(kllState.totalWeight === 1000L, "SQL-built KLL conserves weight exactly")
      val kllCapErr = intercept[IllegalArgumentException](captured("graft_kll_sketch")(Seq(
        GraftBridge.expression(org.apache.spark.sql.functions.col("id")),
        GraftBridge.expression(org.apache.spark.sql.functions.col("x")))))
      assert(kllCapErr.getMessage.contains("integer literal"))
      // gram-matrix aggregate surface: SQL state equals the Column API state
      val gram = captured("graft_gram_matrix")(Seq(
        GraftBridge.expression(org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("id") * 2)), Literal(2)))
      assert(gram.isInstanceOf[graft.plans.GramMatrixAgg])
      val gramSql = spark.range(10)
        .select(GraftBridge.column(gram.asInstanceOf[graft.plans.GramMatrixAgg]
          .toAggregateExpression()).as("g")).collect()(0).getSeq[Long](0)
      val gramApi = spark.range(10)
        .select(graft.plans.GramMatrixAgg.gramSketch(
          org.apache.spark.sql.functions.array(
            org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("id") * 2), 2).as("g"))
        .collect()(0).getSeq[Long](0)
      assert(gramSql === gramApi, "SQL-injected gram matrix matches the Column API")
      // int8 quantization surface
      val q = captured("graft_quantize_int8")(Seq(
        GraftBridge.expression(org.apache.spark.sql.functions.array(
          lit(1.0f), lit(-0.5f))), GraftBridge.expression(lit(1.0 / 127.0))))
      assert(spark.range(1).select(GraftBridge.column(q)).collect()(0)
        .getAs[collection.Seq[Int]](0).toSeq === Seq(127, -63))
      // text normalization surface
      val nrm = captured("graft_normalize")(Seq(GraftBridge.expression(lit("  A\tB!  c "))))
      assert(spark.range(1).select(GraftBridge.column(nrm)).collect()(0).getString(0) === "a b! c")
      val nrmNp = captured("graft_normalize_nopunct")(Seq(GraftBridge.expression(lit("  A\tB!  c "))))
      assert(spark.range(1).select(GraftBridge.column(nrmNp)).collect()(0).getString(0) === "a b c")
      val toksF = captured("graft_tokens")(Seq(GraftBridge.expression(lit("X y  Z"))))
      assert(spark.range(1).select(GraftBridge.column(toksF)).collect()(0)
        .getAs[collection.Seq[String]](0).toSeq === Seq("x", "y", "z"))
      // epoch key: literal seed (Int or Long), non-literal rejected
      val ek = captured("graft_epoch_key")(Seq(GraftBridge.expression(lit(17L)), Literal(7)))
      val ekApi = spark.range(1).select(
        graft.operators.Shuffling.epochKey(lit(17L), 7L)).collect()(0).getLong(0)
      assert(spark.range(1).select(GraftBridge.column(ek)).collect()(0).getLong(0) === ekApi)
      val ekErr = intercept[IllegalArgumentException](captured("graft_epoch_key")(Seq(
        GraftBridge.expression(lit(17L)),
        GraftBridge.expression(org.apache.spark.sql.functions.col("s")))))
      assert(ekErr.getMessage.contains("integer literal"))
      // arity is validated with a clear message
      val err = intercept[IllegalArgumentException](captured("graft_dot")(Seq.empty))
      assert(err.getMessage.contains("graft_dot expects 2"))
    } finally sys.props.remove("graft.allowTestProfile")
  }

  test("without test-profile opt-in and without env, registration fails at apply time") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // only meaningful when the real env really is absent (the driver's
    // correctness runs export ETL_CONF_MASK_DATA_PASSPHRASE)
    assume(sys.env.get("ETL_CONF_MASK_DATA_PASSPHRASE").isEmpty)
    assume(sys.env.get("GRAFT_ALLOW_TEST_PROFILE").isEmpty)
    sys.props.remove("graft.allowTestProfile")
    val ext = new SparkSessionExtensions {
      override def injectFunction(fd: (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)): Unit = ()
    }
    // must throw HERE (driver, session build), not lazily inside a task on
    // some executor with a possibly different environment
    val e = intercept[Exception] { new GraftExtensions().apply(ext) }
    assert(e.getMessage.contains("ETL_CONF_MASK_DATA_PASSPHRASE"))
  }
}
