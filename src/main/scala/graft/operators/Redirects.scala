package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTTP redirect-chain resolution over a crawl's record frame — the step
  * that decides the canonical URL a page ACTUALLY lives at: a crawler
  * that fetched `/a` and got `301 Location: /b` then `302 Location: /c`
  * has learned that `/a`'s content identity is `/c`, and url-level dedup
  * or frontier accounting keyed on `/a` double-counts the page. The
  * reference delegates HTTP mechanics to its runtime; this operator
  * re-derives the mapping from the record frame itself
  * ([[graft.sources.Warc.recordsDF]]'s `http_status` + `location`
  * columns).
  *
  * Semantics:
  *  - An EDGE is a 3xx response with a Location header: canonical source
  *    url -> canonical resolved target ([[resolveUrl]] handles absolute,
  *    protocol-relative, root-relative, and path-relative Locations with
  *    dot-segment normalization — RFC 3986 §5.2 merge semantics, the
  *    subset redirects use). A url observed redirecting to SEVERAL
  *    targets (recrawl drift inside one capture set) keeps the
  *    lexicographically smallest — deterministic, and chain resolution
  *    needs one out-edge per node. Self-loops drop.
  *  - Each source follows its chain up to `maxHops`. A chain ending at a
  *    non-redirect url is RESOLVED there; a chain still on a redirect
  *    after `maxHops` hops (loop, or depth past the cap every real
  *    crawler also enforces — curl's default is 50, browsers ~20) is
  *    UNRESOLVED: final_url null, resolved false, hops = maxHops.
  *
  * Scale shape: only 3xx records build edges — the edge frame is a few
  * percent of a real crawl (Common Crawl publishes ~15% 3xx responses,
  * and each carries ~100 bytes here, no body). Each hop is one equi-join
  * of the still-active chains against the edge frame, both sides hashed
  * on the url key; active strictly shrinks (resolved chains leave the
  * loop), real chains are 1–3 hops, and the loop exits early the first
  * hop nothing advances. The edge frame is built once by
  * [[Fixpoint.cached]] and reused `maxHops` times; each hop's join
  * is built the same way so per-hop lineage stays flat. The lazy
  * result reads those checkpoints, so [[resolveChains]] passes it to the
  * caller's `use` and releases them when that returns. No driver-side
  * iteration over rows, no collect. */
object Redirects {

  /** Resolve an HTTP Location header against the url it was served from.
    * Absolute (`scheme://...`) passes through; `//host/...` takes the
    * base scheme; `/path` takes the base origin; anything else resolves
    * against the base path's directory with `.`/`..` normalization.
    * Null/empty location or an unparseable base -> null (a redirect
    * whose target cannot be determined is no edge at all). */
  def resolveUrl(base: String, location: String): String = {
    if (location == null) return null
    val loc = location.trim
    if (loc.isEmpty) return null
    // absolute: has a scheme
    var i = 0
    var absolute = false
    if (i < loc.length && Character.isLetter(loc.charAt(i))) {
      i += 1
      while (i < loc.length && (Character.isLetterOrDigit(loc.charAt(i)) ||
        loc.charAt(i) == '+' || loc.charAt(i) == '-' || loc.charAt(i) == '.')) i += 1
      absolute = i + 2 < loc.length && loc.charAt(i) == ':' &&
        loc.charAt(i + 1) == '/' && loc.charAt(i + 2) == '/'
    }
    if (absolute) return loc
    if (base == null) return null
    val si = base.indexOf("://")
    if (si <= 0) return null
    val scheme = base.substring(0, si)
    val rest = base.substring(si + 3)
    if (rest.isEmpty) return null
    val slash = rest.indexOf('/')
    val authority = if (slash < 0) rest else rest.substring(0, slash)
    if (authority.isEmpty) return null
    val basePath = if (slash < 0) "/" else rest.substring(slash)
    if (loc.startsWith("//")) return scheme + ":" + loc
    val origin = scheme + "://" + authority
    if (loc.startsWith("/")) return origin + normalizeDots(loc)
    // strip base query/fragment, then drop the last path segment
    var cut = basePath.length
    val q = basePath.indexOf('?'); if (q >= 0 && q < cut) cut = q
    val f = basePath.indexOf('#'); if (f >= 0 && f < cut) cut = f
    val p = basePath.substring(0, cut)
    if (loc.startsWith("?") || loc.startsWith("#")) return origin + p + loc
    val dir = p.substring(0, p.lastIndexOf('/') + 1) // p always starts with '/'
    origin + normalizeDots(dir + loc)
  }

  /** RFC 3986 §5.2.4 remove-dot-segments over an absolute path. */
  private[operators] def normalizeDots(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    for (seg <- path.split("/", -1)) seg match {
      case "" | "." => // skip
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case s => out += s
    }
    "/" + out.mkString("/") + (if (trailingSlash && out.nonEmpty) "/" else "")
  }

  /** Canonical redirect mapping of a record frame: one row per redirect
    * SOURCE url — (url, final_url, hops, resolved). `records` needs a
    * url column, an int http-status column, and a Location column
    * (null for non-redirects), i.e. [[graft.sources.Warc.recordsDF]]
    * output. Urls canonicalize through [[UrlDomain.urlCanonical]] — the
    * same key every other url operator joins on. */
  def resolveChains[T](records: DataFrame, urlCol: String = "target_uri",
                       statusCol: String = "http_status",
                       locationCol: String = "location",
                       maxHops: Int = 8)(use: DataFrame => T): T = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops out of range: $maxHops")
    // the resolver is per-row bounded string work on the (small) 3xx
    // subset only — a UDF is fine off the hot path, and the edge build
    // runs once per call
    val resolveU = udf((b: String, l: String) => resolveUrl(b, l))
    // the edge frame and every hop's frame sit under the lazy result:
    // released when `use`, which runs every action over it, returns
    var built = List.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { built ::= Fixpoint.cached(df); built.head }
    try {
      val edges = cached(records
        .where(col(statusCol).between(300, 399) && col(locationCol).isNotNull)
        .select(UrlDomain.urlCanonical(col(s"`$urlCol`")).as("src"),
          UrlDomain.urlCanonical(
            resolveU(col(s"`$urlCol`"), col(s"`$locationCol`"))).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .groupBy(col("src")).agg(min(col("dst")).as("dst")))
      val hopEdges = edges.withColumnRenamed("src", "cur").withColumnRenamed("dst", "nxt")
      var active = edges.select(col("src").as("url"), col("dst").as("cur"),
        lit(1).as("hops"))
      var resolvedParts = List.empty[DataFrame]
      var hop = 1
      var exhausted = false
      while (hop < maxHops && !exhausted) {
        val step = cached(active.join(hopEdges, Seq("cur"), "left"))
        resolvedParts ::= step.where(col("nxt").isNull)
          .select(col("url"), col("cur").as("final_url"), col("hops"),
            lit(true).as("resolved"))
        active = step.where(col("nxt").isNotNull)
          .select(col("url"), col("nxt").as("cur"), (col("hops") + 1).as("hops"))
        exhausted = active.isEmpty // one cheap job per hop; real chains are 1-3
        hop += 1
      }
      // leftovers after maxHops-1 advances: one final terminal check — a cur
      // that is no redirect source resolved at exactly maxHops hops; the
      // rest are loops/over-deep chains, reported unresolved
      val last = active.join(hopEdges, Seq("cur"), "left")
      resolvedParts ::= last.where(col("nxt").isNull)
        .select(col("url"), col("cur").as("final_url"), col("hops"),
          lit(true).as("resolved"))
      resolvedParts ::= last.where(col("nxt").isNotNull)
        .select(col("url"), lit(null).cast("string").as("final_url"),
          col("hops"), lit(false).as("resolved"))
      use(resolvedParts.reduce(_ unionByName _))
    } finally built.foreach(Fixpoint.release)
  }
}
