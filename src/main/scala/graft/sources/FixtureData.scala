package graft.sources

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import graft.operators.MaskTransform

/** Deterministic synthetic fixture in the SHAPE of the reference's
  * end-to-end test data (userdata.csv + userdata.json,
  * /root/reference/src/test/resources, MaskDataTransformSuite.scala:59-114):
  * a messy delimited extract with headers that differ from the schema field
  * names, dd/MM/uuuu dates, verbose AEST/AEDT timestamps with the day-name
  * prefix, "null"/"" null markers, padded strings, and mask treatments on
  * username / birth_date / create_date (incl. the two-treatment composition
  * on create_date). The DATA is generated, not copied — every property the
  * suite and the fixture_e2e oracle assert is fixed by construction here.
  */
object FixtureData {

  val Header =
    "Username,City,Last Name,Date Of Birth,Zip Code,Created At,First Name,State,User Id,Country,Email,Street"

  private val aestFmt =
    DateTimeFormatter.ofPattern("EEE MMM dd uuuu HH:mm:ss", Locale.ENGLISH)

  private val lastNames = Vector("Hollow", "Bramble", "Thistle", "Quill", "Marsh", "Fender")
  private val states = Vector("Typeland", "Marshview", "Quillton", "Benchmark")

  /** Verbose reference-style timestamp: even rows AEST (+10:00), odd rows
    * AEDT (+11:00), suffix text matching the offset as the two formatter
    * variants in the schema expect. */
  private[sources] def verboseTimestamp(i: Int, local: LocalDateTime): String = {
    val suffix =
      if (i % 2 == 0) "GMT+1000 (Australian Eastern Standard Time)"
      else "GMT+1100 (Australian Eastern Daylight Time)"
    s"${aestFmt.format(local)} $suffix"
  }

  /** Local (Australia/Eastern) wall-clock for row i — minutes/seconds vary
    * so the hour-truncation treatment is observable. */
  private[sources] def localCreate(i: Int): LocalDateTime =
    LocalDateTime.of(1983, 1, 1, 0, 0, 0)
      .plusDays(i * 37 % 4000).plusHours(i % 24).plusMinutes(1 + i % 59).plusSeconds(i % 60)

  /** The UTC instant row i's create_date types to (for assertions). */
  def expectedCreateUtc(i: Int): java.time.Instant =
    localCreate(i).atOffset(if (i % 2 == 0) ZoneOffset.ofHours(10) else ZoneOffset.ofHours(11)).toInstant

  /** One CSV row. Null/mess properties by construction:
    *  - username: "null" marker when i%20==0 (5/100), padded when i%7==0
    *  - birth_date: unparseable "99/99/9999" when i%25==3 (4/100), else
    *    dd/MM/uuuu with day > 1 so MONTH-truncation is observable
    *  - zip: 9-digit form when i%10==0
    */
  private def row(i: Int): String = {
    val username = if (i % 20 == 0) "null" else if (i % 7 == 0) s"  user_$i " else s"user_$i"
    val city = s"Port ${lastNames(i % lastNames.size)}"
    val lastName = lastNames((i / 2) % lastNames.size)
    val birth =
      if (i % 25 == 3) "99/99/9999"
      else f"${2 + i % 27}%02d/${1 + i % 12}%02d/${1960 + i % 40}%04d"
    // leading zeros survive only because zip_code types as STRING
    val zip =
      if (i % 10 == 0) f"${10000 + i}%05d-${1000 + i}%04d"
      else if (i % 9 == 4) f"00${i % 900}%03d"
      else f"${10000 + i}%05d"
    val created = verboseTimestamp(i, localCreate(i))
    val firstName = s"Fn$i"
    val state = states(i % states.size)
    // unicode exercises the UTF-8 path end-to-end (CSV read -> typing)
    val country = if (i % 10 == 5) "S\u00e3o Fict\u00edcia" else "Fixtureland"
    val email = s"user_$i@example.test"
    val street = s"$i Fixture Way"
    s"$username,$city,$lastName,$birth,$zip,$created,$firstName,$state,$i,$country,$email,$street"
  }

  def userdataCsv(rows: Int = 100): String =
    (Header +: (0 until rows).map(row)).mkString("", "\n", "\n")

  /** Write the fixture to a deterministic temp path; returns the path. */
  def writeUserdataCsv(rows: Int = 100): String = {
    val path = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_userdata_$rows.csv")
    java.nio.file.Files.writeString(path, userdataCsv(rows))
    path.toString
  }

  /** Typing specs mirroring the reference schema's field list, types,
    * formatters, and mask treatments (userdata.json: username mask_string;
    * birth_date dd/MM/uuuu + MONTH truncation; create_date two verbose
    * formatter variants + date_trunc HOUR |> mask_timestamp composition). */
  def userdataSpecs: Seq[TypedSource.ColumnSpec] = {
    val nulls = Seq("", "null")
    Seq(
      TypedSource.ColumnSpec("username", "string", trim = true, nullableValues = nulls,
        metadata = MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")),
      TypedSource.ColumnSpec("city", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("last_name", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("birth_date", "date", trim = true, nullableValues = nulls,
        formatters = Seq("dd/MM/uuuu"),
        metadata = MaskTransform.treatmentsMetadata("date_trunc('MONTH', ${value})")),
      TypedSource.ColumnSpec("zip_code", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("create_date", "timestamp", trim = true, nullableValues = nulls,
        formatters = Seq(
          "EEE MMM dd uuuu HH:mm:ss 'GMT'ZZZ '(Australian Eastern Daylight Time)'",
          "EEE MMM dd uuuu HH:mm:ss 'GMT'ZZZ '(Australian Eastern Standard Time)'"),
        timezoneId = Some("UTC"),
        metadata = MaskTransform.treatmentsMetadata(
          "date_trunc('HOUR', ${value})", "mask_timestamp(14, true, ${value})")),
      TypedSource.ColumnSpec("first_name", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("state", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("user_id", "integer", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("country", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("email", "string", trim = true, nullableValues = nulls),
      TypedSource.ColumnSpec("street", "string", trim = true, nullableValues = nulls))
  }
}
