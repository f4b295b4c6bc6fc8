package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input tables. Every table is built on the driver from one
  * `SplittableRandom(seed)`, so the same seed gives the same rows, and is
  * written as parquet with a fixed file count. Only the written files reach
  * graft. */
object Inputs {

  /** A generated table: its rows (kept for output checks), schema and the
    * per-column properties the benchmark documents. */
  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row]) {
    def fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
      md.digest().map(b => f"$b%02x").mkString
    }

    /** Distinct non-null values per column. */
    def cardinalities: Map[String, Int] =
      schema.fieldNames.zipWithIndex.map { case (c, i) =>
        c -> rows.iterator.map(_.get(i)).filter(_ != null).toSet.size
      }.toMap

    def write(spark: SparkSession, dir: String, files: Int): String = {
      val path = s"$dir/$name.parquet"
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema).repartition(files)
        .write.mode("overwrite").parquet(path)
      path
    }
  }

  // ---- masking tables ----------------------------------------------------

  /** `mask_kdf`: every masked name is distinct, so each masked cell costs
    * one KDF call and the memo never hits. */
  final case class KdfSpec(rows: Int)

  def kdfTable(seed: Long, spec: KdfSpec): Table = {
    val rnd = new SplittableRandom(seed)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rows = (0 until spec.rows).map { i =>
      var name = randomName(rnd)
      while (!seen.add(name)) name = randomName(rnd)
      Row(i.toLong, name, segments(rnd.nextInt(segments.length)),
        new JBigDecimal(rnd.nextLong(-99999L, 999999L)).movePointLeft(2))
    }
    Table("customers", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("segment", StringType),
      StructField("balance", DecimalType(12, 2)))), rows)
  }

  /** `mask_etl`: five masked columns, one per reference UDF kind, each
    * drawing from a seeded dictionary of `distinct` values with Zipf(`zipf`)
    * frequencies and a `nullShare` of nulls. The first `distinct` rows take
    * every dictionary value once, so each column's cardinality is exactly
    * `distinct` for any seed. */
  final case class EtlSpec(rows: Int, distinct: Int, zipf: Double, nullShare: Double)

  def etlTable(seed: Long, spec: EtlSpec): Table = {
    val rnd = new SplittableRandom(seed)
    val d = spec.distinct
    val names = uniqueValues(rnd, d)(randomName)
    val cards = uniqueValues(rnd, d)(r => (1 to 16).map(_ => ('0' + r.nextInt(10)).toChar).mkString)
    val epochDay0 = java.time.LocalDate.of(1950, 1, 1).toEpochDay
    val births = uniqueValues(rnd, d)(r => Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay0 + r.nextInt(20000))))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
    val created = uniqueValues(rnd, d)(r => Timestamp.from(java.time.Instant.ofEpochSecond(t0 + r.nextLong(0L, 366L * 86400))))
    val balances = uniqueValues(rnd, d)(r => new JBigDecimal(r.nextLong(-1000000L, 10000000L)).movePointLeft(2))
    val cdf = zipfCdf(d, spec.zipf)
    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val orders = Array.fill(5)(shuffled(rnd, d))
    def pick[A](col: Int, i: Int, dict: IndexedSeq[A]): Any =
      if (i < d) dict(orders(col)(i))
      else if (rnd.nextDouble() < spec.nullShare) null
      else dict(sampleCdf(cdf, rnd.nextDouble()))
    val rows = (0 until spec.rows).map { i =>
      Row(i.toLong, pick(0, i, names), pick(1, i, cards), pick(2, i, births),
        pick(3, i, created), pick(4, i, balances),
        regions(rnd.nextInt(regions.length)), rnd.nextInt(1, 100))
    }
    Table("accounts", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("holder", StringType),
      StructField("card", StringType),
      StructField("birth_date", DateType),
      StructField("created_at", TimestampType),
      StructField("balance", DecimalType(12, 2)),
      StructField("region", StringType),
      StructField("qty", IntegerType))), rows)
  }

  // ---- analytics tables --------------------------------------------------

  /** `documents` and `events` with the column names and types of graft's
    * registry tables, sized by `docs` and `events`. Document lengths are the
    * same for every seed, so the seed changes words but not volume; every
    * tenth document copies the one ten before it with one word changed, so
    * the dedup queries have near-duplicates to find. */
  final case class AnalyticsSpec(docs: Int, events: Int, users: Int)

  private val vocab = ("a the row key agg scan slow fast table value part hash merge batch " +
    "window spark order data column join small big line customer query stream sort filter " +
    "group vector").split(" ")

  def documentsTable(seed: Long, spec: AnalyticsSpec): Table = {
    val rnd = new SplittableRandom(seed)
    val langs = Array("en", "en", "en", "es", "de", "fr", "zh")
    val texts = new Array[String](spec.docs)
    val rows = (0 until spec.docs).map { i =>
      val text =
        if (i >= 10 && i % 10 == 0) {
          val words = texts(i - 10).split(" ")
          words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.length))
          words.mkString(" ")
        } else Seq.fill(8 + i * 37 % 81)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    Table("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), rows)
  }

  def eventsTable(seed: Long, spec: AnalyticsSpec): Table = {
    val rnd = new SplittableRandom(seed)
    val types = Array("view", "click", "purchase", "signup", "error")
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    // mean gap spreads the events over 30 days
    val meanGapUs = 30L * 86400 * 1000000 / spec.events
    var tsUs = 0L
    val rows = (0 until spec.events).map { i =>
      tsUs += (-math.log(1.0 - rnd.nextDouble()) * meanGapUs).toLong
      val value = math.round(math.exp(rnd.nextDouble() * 6.2) * 100) / 100.0
      Row(i.toLong, start.plusNanos(tsUs * 1000), rnd.nextInt(spec.users).toLong,
        types(rnd.nextInt(types.length)), value, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    Table("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), rows)
  }

  // ---- helpers -------------------------------------------------------------

  private def randomName(rnd: SplittableRandom): String = {
    def word(n: Int) = {
      val first = ('A' + rnd.nextInt(26)).toChar
      first.toString + (1 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    word(3 + rnd.nextInt(6)) + " " + word(4 + rnd.nextInt(8))
  }

  private def uniqueValues[A](rnd: SplittableRandom, n: Int)(gen: SplittableRandom => A): IndexedSeq[A] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[A]
    while (out.size < n) out += gen(rnd)
    out.toIndexedSeq
  }

  private def shuffled(rnd: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def sampleCdf(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
