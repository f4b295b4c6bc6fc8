package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class RedirectsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("resolveUrl: absolute, protocol-relative, root-relative, path-relative, dots") {
    val base = "https://a.example.com/dir/page?x=1"
    assert(Redirects.resolveUrl(base, "https://b.com/p") === "https://b.com/p")
    assert(Redirects.resolveUrl(base, "//b.com/p") === "https://b.com/p")
    assert(Redirects.resolveUrl(base, "/root") === "https://a.example.com/root")
    assert(Redirects.resolveUrl(base, "sibling") === "https://a.example.com/dir/sibling")
    assert(Redirects.resolveUrl(base, "../up") === "https://a.example.com/up")
    assert(Redirects.resolveUrl(base, "./here") === "https://a.example.com/dir/here")
    assert(Redirects.resolveUrl(base, "a/../../../x") === "https://a.example.com/x")
    assert(Redirects.resolveUrl(base, "?y=2") === "https://a.example.com/dir/page?y=2")
    // http base at domain root, no path
    assert(Redirects.resolveUrl("http://h.com", "x") === "http://h.com/x")
    // nulls / malformed
    assert(Redirects.resolveUrl(base, null) === null)
    assert(Redirects.resolveUrl(base, "  ") === null)
    assert(Redirects.resolveUrl(null, "/x") === null)
    assert(Redirects.resolveUrl("no-scheme", "/x") === null)
    // an absolute location needs a real scheme, not a path with a colon
    assert(Redirects.resolveUrl(base, "weird:thing") ===
      "https://a.example.com/dir/weird:thing")
  }

  private def records(rows: Seq[(String, Int, String)]) = {
    import spark.implicits._
    rows.toDF("target_uri", "http_status", "location")
  }

  test("resolveChains: 301->302->200 chain resolves both sources to the end") {
    val recs = records(Seq(
      ("https://c.com/a", 301, "/b"),
      ("https://c.com/b", 302, "https://final.com/p"),
      ("https://final.com/p", 200, null)))
    val got = Redirects.resolveChains(recs)(_.orderBy("url").collect())
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      ("https://c.com/a", "https://final.com/p", 2, true),
      ("https://c.com/b", "https://final.com/p", 1, true)))
  }

  test("resolveChains: loops and over-deep chains report unresolved at maxHops") {
    val recs = records(Seq(
      ("https://l.com/x", 301, "/y"),
      ("https://l.com/y", 301, "/x"),
      // a 5-deep chain under maxHops=4 is over-deep; under 8 it resolves
      ("https://d.com/1", 301, "/2"), ("https://d.com/2", 301, "/3"),
      ("https://d.com/3", 301, "/4"), ("https://d.com/4", 301, "/5"),
      ("https://d.com/5", 301, "/6")))
    val tight = Redirects.resolveChains(recs, maxHops = 4)(_.where(!col("resolved")).collect())
    // both loop urls + the deep chain's FIRST source exceed 4 hops
    // (/2 reaches /6 at exactly 4 hops and resolves)
    assert(tight.length === 3)
    assert(tight.forall(r => r.isNullAt(1) && r.getInt(2) === 4))
    Redirects.resolveChains(recs, maxHops = 8) { wide =>
      assert(wide.where(!col("resolved")).count() === 2) // only the loop
      val deep = wide.where(col("url") === "https://d.com/1").collect()(0)
      assert(deep.getString(1) === "https://d.com/6" && deep.getInt(2) === 5)
    }
  }

  test("resolveChains: canonicalization joins messy spellings; drift picks min dst") {
    val recs = records(Seq(
      // messy source spelling canonicalizes onto the next hop's clean one
      ("HTTPS://C.com:443/a?utm_source=x", 301, "/b"),
      ("https://c.com/b#frag", 302, "https://final.com/p"),
      // same src seen redirecting two ways -> deterministic min(dst)
      ("https://drift.com/s", 301, "https://t2.com/"),
      ("https://drift.com/s", 301, "https://t1.com/")))
    val got = Redirects.resolveChains(recs)(_.collect())
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("https://c.com/a") === "https://final.com/p")
    assert(got("https://drift.com/s") === "https://t1.com/")
  }

  test("resolveChains: empty edge set yields an empty frame, no job failure") {
    val recs = records(Seq(("https://c.com/a", 200, null)))
    assert(Redirects.resolveChains(recs)(_.count()) === 0)
  }
}
