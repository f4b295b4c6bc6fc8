package graft.functions

import java.time.{Instant, LocalDate}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class MaskUdfsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def registered(): Unit =
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)

  test("mask_string over SQL: null, deterministic repeat, alphabet") {
    registered()
    val rows = spark.sql(
      """SELECT
        |  mask_string(16, true, null) AS n,
        |  mask_string(16, true, 'alice') AS a1,
        |  mask_string(16, true, 'alice') AS a2,
        |  mask_string_alphabet(16, '0123456789', true, 'alice') AS num,
        |  mask_string_alphabet_format(16, '0123456789', '4xxx-xxxx-xxxx-xxxx', true, 'alice') AS cc
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0))
    assert(rows.getString(1) === rows.getString(2))
    assert(rows.getString(1).length === 16)
    assert(rows.getString(3).forall(_.isDigit))
    assert(rows.getString(4).matches("4\\d{3}-\\d{4}-\\d{4}-\\d{4}"))
  }

  test("mask_date / mask_timestamp / mask_decimal over SQL with bounds") {
    registered()
    val row = spark.sql(
      """SELECT
        |  mask_date(14, true, DATE '2016-12-18') AS d,
        |  mask_timestamp(14, true, TIMESTAMP '2016-12-18 21:46:54') AS ts,
        |  CAST(mask_decimal(CAST(5.00 AS DECIMAL(4,2)), true, CAST(96.37 AS DECIMAL(4,2))) AS DECIMAL(6,2)) AS dec,
        |  mask_date(14, true, null) AS dn,
        |  mask_timestamp(14, true, null) AS tsn,
        |  mask_decimal(CAST(5.0 AS DECIMAL(4,2)), true, null) AS decn
        |""".stripMargin).collect()(0)
    val d = row.getAs[java.sql.Date]("d").toLocalDate
    assert(math.abs(d.toEpochDay - java.time.LocalDate.parse("2016-12-18").toEpochDay) < 14)
    val ts = row.getAs[java.sql.Timestamp]("ts")
    val base = java.sql.Timestamp.valueOf("2016-12-18 21:46:54")
    assert(math.abs(ts.getTime - base.getTime) < 14L * 24 * 3600 * 1000)
    val dec = row.getAs[java.math.BigDecimal]("dec")
    assert(dec.subtract(new java.math.BigDecimal("96.37")).abs.doubleValue < 5.0)
    assert(row.isNullAt(3) && row.isNullAt(4) && row.isNullAt(5))
  }

  test("masking composes with built-ins (date_trunc) like the reference suite") {
    registered()
    val row = spark.sql(
      "SELECT mask_timestamp(14, true, date_trunc('HOUR', TIMESTAMP '2016-12-18 21:46:54')) AS t").collect()(0)
    val t = row.getAs[java.sql.Timestamp]("t").toInstant
    // time-of-day must survive the day-shift: truncated to an exact hour
    assert(t.toString.matches(".*T\\d{2}:00:00Z"))
  }

  test("non-deterministic mode produces differing values across rows with equal input") {
    registered()
    val vals = spark.range(8).selectExpr("mask_string(16, false, 'same-input') AS m")
      .collect().map(_.getString(0))
    assert(vals.distinct.length > 1, "SecureRandom path must differ across rows")
  }

  test("deterministic masking is stable across the DataFrame API and SQL") {
    registered()
    import spark.implicits._
    val df = Seq("alice", "bob", null).toDF("name")
    df.createOrReplaceTempView("mu_names")
    val viaSql = spark.sql("SELECT mask_string(16, true, name) AS m FROM mu_names ORDER BY m").collect().map(r => Option(r.getString(0)))
    val viaDf = df.selectExpr("mask_string(16, true, name) AS m").orderBy("m").collect().map(r => Option(r.getString(0)))
    assert(viaSql.toSeq === viaDf.toSeq)
    assert(viaSql.count(_.isEmpty) === 1)
  }

  private val Java8Api = "spark.sql.datetime.java8API.enabled"

  private def withJava8Api[A](on: Boolean)(body: => A): A = {
    val saved = spark.conf.getOption(Java8Api)
    spark.conf.set(Java8Api, on.toString)
    try body finally saved.fold(spark.conf.unset(Java8Api))(spark.conf.set(Java8Api, _))
  }

  private def expectedMicros(range: Int, ts: Instant): Long = {
    val m = MaskFunctions.maskInstant(SparkTestBase.fastCodec, SparkTestBase.passphrase)(range, true, ts)
    m.getEpochSecond * 1000000L + m.getNano / 1000
  }

  test("mask_timestamp over SQL masks the instant, whatever the JVM default timezone") {
    registered()
    // unix_micros reads the masked value inside Spark, so no java.sql
    // conversion on the way out can hide a difference
    def viaSql(ts: String): Long = spark.sql(
      s"SELECT unix_micros(mask_timestamp(30, true, TIMESTAMP '$ts'))").collect()(0).getLong(0)
    val saved = java.util.TimeZone.getDefault
    val (utc, early, la) = withJava8Api(on = false) {
      try {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
        val utc = viaSql("1700-02-28 13:45:07.123456")
        val early = Seq(viaSql("0001-01-01 00:00:00"), viaSql("1000-03-01 12:00:00"))
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
        (utc, early, viaSql("1700-02-28 13:45:07.123456"))
      } finally java.util.TimeZone.setDefault(saved)
    }
    assert(utc === la, "same instant must mask identically regardless of JVM default TZ")
    assert(utc === expectedMicros(30, Instant.parse("1700-02-28T13:45:07.123456Z")))
    assert(early === Seq(expectedMicros(30, Instant.parse("0001-01-01T00:00:00Z")),
      expectedMicros(30, Instant.parse("1000-03-01T12:00:00Z"))))
  }

  test("mask_date / mask_timestamp over SQL agree with java8API on and off") {
    registered()
    def run(): Seq[Long] = spark.sql(
      """SELECT
        |  unix_date(mask_date(14, true, DATE '2016-12-18')),
        |  unix_micros(mask_timestamp(14, true, TIMESTAMP '2016-12-18 21:46:54')),
        |  unix_date(mask_date_det(14, DATE '1582-10-04')),
        |  unix_micros(mask_timestamp_det(14, TIMESTAMP '1582-10-04 13:45:07.123456'))
        |""".stripMargin).collect()(0).toSeq.map {
      case i: Int => i.toLong
      case l: Long => l
    }
    val date = MaskFunctions.maskLocalDate(SparkTestBase.fastCodec, SparkTestBase.passphrase) _
    val expected = Seq(
      date(14, true, LocalDate.parse("2016-12-18")).toEpochDay,
      expectedMicros(14, Instant.parse("2016-12-18T21:46:54Z")),
      date(14, true, LocalDate.parse("1582-10-04")).toEpochDay,
      expectedMicros(14, Instant.parse("1582-10-04T13:45:07.123456Z")))
    assert(withJava8Api(on = true)(run()) === expected)
    assert(withJava8Api(on = false)(run()) === expected)
  }

  test("Defaults.registerAll and GraftExtensions expose the same function table") {
    import org.apache.spark.sql.{GraftBridge, SparkSessionExtensions}
    val table = MaskUdfs.functions(SparkTestBase.fastCodec, SparkTestBase.passphrase).map(_._1.funcName)
    assert(table.distinct === table, "every SQL function is defined once")
    val injected = scala.collection.mutable.ArrayBuffer.empty[MaskUdfs.SqlFunction]
    sys.props("graft.allowTestProfile") = "true"
    try new graft.GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(fd: MaskUdfs.SqlFunction): Unit = injected += fd
    }) finally sys.props.remove("graft.allowTestProfile")
    assert(injected.map(_._1.funcName).toSet === table.toSet)
    // a fresh session starts from the built-ins only: what registerAll adds
    // is exactly what the extension injects
    val viaDefaults = spark.newSession()
    def names(): Set[String] = viaDefaults.catalog.listFunctions().collect().map(_.name).toSet
    val before = names()
    graft.Defaults.registerAll(viaDefaults)
    assert(names() -- before === table.toSet)
    // both resolve through SQL alike, default column names included
    val viaExtension = spark.newSession()
    injected.foreach(GraftBridge.registerFunction(viaExtension, _))
    val q = "SELECT mask_string(16, true, 'alice'), mask_date_det(14, DATE '2016-12-18'), " +
      "graft_normalize(' A  b '), graft_epoch_key(17L, 7), graft_zorder2(3L, 5L, 10)"
    val (d, e) = (viaDefaults.sql(q), viaExtension.sql(q))
    assert(d.columns.head === "mask_string(16, true, alice)")
    assert(e.columns.toSeq === d.columns.toSeq)
    assert(e.collect().toSeq === d.collect().toSeq)
  }
}
