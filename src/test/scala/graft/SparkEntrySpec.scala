package graft

import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry() runs the flagship masking pipeline with rows > 0") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0)
    // masked name column: 16-char pseudonyms; passthrough columns intact
    assert(rows.forall(r => r.isNullAt(1) || r.getString(1).length == 16))
    assert(df.schema("c_name").metadata.contains("mask"))
  }

  test("registry names are unique and every record has an oracle") {
    // a Map literal keeps the last of two equal keys without a word, and a
    // query with no oracle would drop to a weak rows-only check
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"names declared more than once: ${dups.mkString(", ")}")
    val noOracle = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"records without oracle SQL: ${noOracle.mkString(", ")}")
  }

  test("named() keeps the order given and names every unknown name") {
    assert(SparkEntry.named("hll_distinct, dp_counts").map(_.name) === Seq("hll_distinct", "dp_counts"))
    val e = intercept[IllegalArgumentException](SparkEntry.named("dp_counts,hll_distnct,no_such_query"))
    assert(e.getMessage.contains("hll_distnct, no_such_query"))
  }

  // One build per query, shared by the two tests below: construction alone
  // runs jobs for some. collect, not count: count() lets Catalyst prune the
  // work of columns it does not need. Keeps each query's column names, or
  // the error it failed with.
  private lazy val built: Seq[(String, Either[Throwable, Seq[String]])] =
    SparkEntry.registry.map { q =>
      val r = try { val df = q.run(spark, sf); df.collect(); Right(df.schema.fieldNames.toSeq) }
      catch { case NonFatal(e) => Left(e) }
      q.name -> r
    }

  test("all queries run at sf0.001 and return rows") {
    // pair queries may legitimately return 0 rows at tiny sf, so a query
    // passes when it builds and collects without an error
    built.collectFirst { case (name, Left(e)) => fail(s"$name failed", e) }
  }

  test("no query emits unaliased aggregate column names") {
    // the driver's compare sorts columns BY NAME before hashing values, so
    // a Spark column named sum(l_quantity) against an oracle alias sum_qty
    // hash-mismatches even with identical values. Unaliased aggregates are
    // exactly the names containing parens/spaces — ban them structurally.
    val offenders = built.flatMap {
      case (name, Right(cols)) =>
        val badCols = cols.filter(c => c.contains("(") || c.contains(" "))
        if (badCols.isEmpty) Nil else Seq(s"$name: ${badCols.mkString(", ")}")
      case (name, Left(e)) => Seq(s"$name: failed to run ($e)")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
