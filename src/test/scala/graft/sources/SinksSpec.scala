package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SinksSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("writePartitioned bounds files per partition value and round-trips rows") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_sink") { dir =>
      // skewed: lang 'en' has 10x the rows of the others
      val df = (0 until 1200).map { i =>
        val lang = if (i < 1000) "en" else if (i < 1100) "de" else "fr"
        (i.toLong, lang, s"text $i")
      }.toDF("doc_id", "lang", "text")
      Sinks.writePartitioned(df.repartition(8), dir, Seq("lang"), filesPerPartition = 2)

      // bounded fan-out: <= 2 data files per partition dir even for skewed 'en'
      for (lang <- Seq("en", "de", "fr")) {
        val files = new java.io.File(s"$dir/lang=$lang").listFiles()
          .filter(f => f.getName.endsWith(".parquet"))
        assert(files.length >= 1 && files.length <= 2, s"$lang: ${files.length} files")
      }
      // exact roundtrip
      val back = spark.read.parquet(dir)
      assert(back.count() === 1200)
      assert(back.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("en" -> 1000L, "de" -> 100L, "fr" -> 100L))
      // dynamic overwrite: rewriting only 'fr' leaves the other partitions
      Sinks.writePartitioned(
        Seq((9999L, "fr", "replacement")).toDF("doc_id", "lang", "text"),
        dir, Seq("lang"), filesPerPartition = 1)
      val after = spark.read.parquet(dir)
      assert(after.where($"lang" === "fr").count() === 1, "fr replaced")
      assert(after.where($"lang" === "en").count() === 1000, "en untouched by dynamic overwrite")
    }
  }

  test("writePartitioned format=orc round-trips and prunes partitions on read") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_sink_orc") { dir =>
      val df = (0 until 300).map { i =>
        (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr", i * 10)
      }.toDF("doc_id", "lang", "n_chars")
      Sinks.writePartitioned(df.repartition(4), dir, Seq("lang"), filesPerPartition = 2,
        format = "orc")
      for (lang <- Seq("en", "de", "fr")) {
        val files = new java.io.File(s"$dir/lang=$lang").listFiles()
          .filter(_.getName.endsWith(".orc"))
        assert(files.length >= 1 && files.length <= 2, s"$lang: ${files.length} orc files")
      }
      val back = spark.read.orc(dir).where($"lang" === "en")
      assert(back.count() === 100)
      assert(back.agg(org.apache.spark.sql.functions.sum($"doc_id")).head.getLong(0)
        === (0 until 300 by 3).map(_.toLong).sum)
      // the filter on the hive partition column must prune at scan time:
      // only the lang=en directory's files appear in the physical scan
      val scan = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
      assert(scan.contains("lang=en") || scan.toLowerCase.contains("partitionfilters"),
        s"expected partition-pruned ORC scan, got: ${scan.take(400)}")
    }
  }
}
