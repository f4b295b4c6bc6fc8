package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property laws for the round-16 additions (FF1 FPE, registrable
  * domains, robots.txt, the signature store, WARC, the DP release).
  * Same conventions as the earlier round specs: raw ScalaCheck
  * generators with fixed seeds, laws checked over many drawn cases. */
class Round16PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 40): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0xC16L + i)))

  // ---- FF1 ----

  private val key = graft.functions.Fpe.deriveKey(graft.Defaults.testPassphrase)

  private val ff1Case: Gen[(Int, Array[Int], Array[Byte])] = for {
    radix <- Gen.oneOf(2, 7, 10, 16, 36, 62, 255, 4096)
    n <- Gen.choose(2, 24)
    if graft.codec.Ff1.domainOk(radix, n)
    digits <- Gen.listOfN(n, Gen.choose(0, radix - 1))
    tweak <- Gen.listOfN(Gen.choose(0, 12).sample.getOrElse(4), Gen.choose(-128, 127))
  } yield (radix, digits.toArray, tweak.map(_.toByte).toArray)

  test("FF1: decrypt ∘ encrypt == id; output in-domain; length preserved (any radix/length/tweak)") {
    val cases = samples(ff1Case, 60)
    assert(cases.size >= 40, s"generator drought: ${cases.size}")
    cases.foreach { case (radix, pt, tweak) =>
      val ct = graft.codec.Ff1.encrypt(key, tweak, radix, pt)
      assert(ct.length === pt.length)
      assert(ct.forall(d => d >= 0 && d < radix), s"radix=$radix out-of-domain")
      assert(graft.codec.Ff1.decrypt(key, tweak, radix, ct).toSeq === pt.toSeq,
        s"round-trip failed radix=$radix n=${pt.length} t=${tweak.length}")
    }
  }

  test("FF1: injective over a dense prefix of every domain (permutation evidence)") {
    for (radix <- Seq(10, 36); n <- Seq(2, 3)) {
      val total = math.pow(radix, n).toInt
      val probe = math.min(total, 600)
      val seen = (0 until probe).map { v =>
        val digits = new Array[Int](n)
        var x = v
        var i = n - 1
        while (i >= 0) { digits(i) = x % radix; x /= radix; i -= 1 }
        graft.codec.Ff1.encrypt(key, Array.emptyByteArray, radix, digits).toSeq
      }
      assert(seen.distinct.size === probe, s"collision at radix=$radix n=$n")
    }
  }

  test("Fpe.mask: non-alphabet characters are FIXED POINTS; alphabet chars never leak through") {
    val gen: Gen[String] = Gen.listOfN(24, Gen.frequency(
      5 -> Gen.numChar, 2 -> Gen.oneOf('-', ' ', '/', '.', 'X'))).map(_.mkString)
    samples(gen, 40).foreach { s =>
      val m = graft.functions.Fpe.mask(graft.Defaults.testPassphrase)("0123456789", "t", s)
      val nDigits = s.count(_.isDigit)
      if (nDigits >= 2) {
        assert(m != null && m.length === s.length)
        s.indices.foreach { i =>
          if (s(i).isDigit) assert(m(i).isDigit)
          else assert(m(i) === s(i), s"separator moved at $i in '$s'")
        }
      } else assert(m === null) // below FF1 domain: fail closed
    }
  }

  // ---- registrable domain ----

  private val hostGen: Gen[String] = for {
    nLabels <- Gen.choose(1, 5)
    labels <- Gen.listOfN(nLabels, Gen.choose(1, 8).flatMap(l =>
      Gen.listOfN(l, Gen.alphaLowerChar).map(_.mkString)))
    tld <- Gen.oneOf("com", "co.uk", "io", "example", "ck", "de")
  } yield (labels :+ tld).mkString(".")

  test("registrableDomain: result is a suffix of the host with at least 2 labels (or null)") {
    samples(hostGen, 60).foreach { host =>
      val d = UrlDomain.registrableDomain(host)
      if (d != null) {
        assert(host == d || host.endsWith("." + d), s"'$d' not a label suffix of '$host'")
        assert(d.split("\\.").length >= 2)
        // idempotence: the registrable domain of a registrable domain is itself
        assert(UrlDomain.registrableDomain(d) === d, s"not idempotent on '$d'")
      }
    }
  }

  test("hostOf ∘ url-assembly == host (parsing inverts construction)") {
    val urlGen: Gen[(String, String)] = for {
      host <- hostGen
      scheme <- Gen.oneOf("https://", "http://", "//", "")
      user <- Gen.oneOf("", "user@", "a:b@")
      port <- Gen.oneOf("", ":80", ":8443")
      path <- Gen.oneOf("", "/", "/a/b?q=1#f", "/x%20y")
    } yield (host, scheme + user + host + port + path)
    samples(urlGen, 60).foreach { case (host, url) =>
      // "" scheme + userinfo would be ambiguous (a:b@h parses h only with //)
      if (url.startsWith("http") || url.startsWith("//") || !url.contains("@")) {
        assert(UrlDomain.hostOf(url) === host, s"url '$url'")
      }
    }
  }

  // ---- robots ----

  test("robots: a disallow-everything group blocks every path; allow-everything inverts it") {
    val pathGen: Gen[String] = Gen.listOfN(6, Gen.oneOf("a", "b", "/", "x1")).map("/" + _.mkString)
    val blockAll = "User-agent: *\nDisallow: /\n"
    val allowAll = "User-agent: *\nAllow: /\nDisallow: /\n" // tie -> allow wins
    samples(pathGen, 30).foreach { p =>
      assert(!Robots.isAllowed(blockAll, "bot", p))
      assert(Robots.isAllowed(allowAll, "bot", p))
    }
  }

  test("robots: verdict is monotone in rule specificity (adding a longer opposite rule flips only its subtree)") {
    val base = "User-agent: *\nDisallow: /data\n"
    val refined = base + "Allow: /data/open\n"
    assert(!Robots.isAllowed(base, "bot", "/data/open/file"))
    assert(Robots.isAllowed(refined, "bot", "/data/open/file"))
    assert(!Robots.isAllowed(refined, "bot", "/data/closed")) // sibling unaffected
    assert(Robots.isAllowed(refined, "bot", "/other")) // outside unaffected
  }

  // ---- WARC ----

  test("WARC: parse ∘ write == id for arbitrary binary payloads, gz and plain") {
    val recGen: Gen[graft.sources.Warc.WarcRecord] = for {
      t <- Gen.oneOf("response", "request", "resource", "metadata")
      n <- Gen.choose(0, 400)
      payload <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
      id <- Gen.choose(0, 1 << 20)
    } yield graft.sources.Warc.WarcRecord(t, s"https://h/$id", s"<urn:uuid:$id>",
      "application/octet-stream", payload.toArray)
    val filesGen = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, recGen))
    samples(filesGen, 25).foreach { recs =>
      for (bytes <- Seq(graft.sources.Warc.writeWarcGz(recs), graft.sources.Warc.writeWarc(recs))) {
        val back = graft.sources.Warc.parse(bytes)
        assert(back.length === recs.length)
        back.zip(recs).foreach { case (g, e) =>
          assert(g.warcType === e.warcType && g.targetUri === e.targetUri)
          assert(g.payload.toSeq === e.payload.toSeq)
        }
      }
    }
  }

  // ---- signature store ----

  test("signature store: write+read is identity and probe(x, store) == pairs restricted to x (random signatures)") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sigGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(4, 24)
      base <- Gen.listOfN(3, Gen.long)
      sigs <- Gen.listOfN(n, Gen.frequency(
        3 -> Gen.oneOf(base), // planted near-dups
        2 -> Gen.oneOf(base).map(_ ^ 3L),
        2 -> Gen.long))
    } yield sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    samples(sigGen, 6).foreach { rows =>
      val df = rows.toDF("doc_id", "sig")
      graft.SparkTestBase.withTargetDir("graft_prop_sigstore") { dir =>
        val path = new java.io.File(dir, "store")
        Dedup.writeSignatureStore(df.where(col("doc_id") =!= 0L), path.getAbsolutePath)
        val probe = Dedup.probeSignatureStore(spark, path.getAbsolutePath,
            df.where(col("doc_id") === 0L))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val direct = Dedup.pairsFromSignatures64(df, maxBucket = Int.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .filter(p => p._1 == 0L || p._2 == 0L)
          .map(p => if (p._1 == 0L) (0L, p._2) else (0L, p._1)).toSet
        assert(probe.map(p => (p._1, p._2)).map { case (a, b) => (math.min(a, b), math.max(a, b)) } ===
          direct.map { case (a, b) => (math.min(a, b), math.max(a, b)) },
          s"probe != restricted pairs for ${rows.take(5)}…")
      }
    }
  }

  // ---- parser crash safety ----

  test("binary parsers never throw: random bytes and mutated valid files") {
    val rnd = new scala.util.Random(0xF02216L)
    val validJpeg = graft.operators.Jpeg.encodeGray(16, 16,
      Array.tabulate[Byte](256)(i => (i * 7).toByte))
    val validPng = Multimodal.pngEncode(8, 8, 0, Array.tabulate[Byte](64)(_.toByte))
    val validWarc = graft.sources.Warc.writeWarcGz(Seq(
      graft.sources.Warc.WarcRecord("response", "https://h/x", "<urn:uuid:1>",
        "application/http", "HTTP/1.1 200 OK\r\n\r\nbody".getBytes)))
    def mutate(b: Array[Byte]): Array[Byte] = {
      val m = b.clone()
      (1 to 1 + rnd.nextInt(4)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      if (rnd.nextBoolean()) m.take(1 + rnd.nextInt(m.length)) else m
    }
    val cases: Seq[Array[Byte]] =
      (1 to 60).map(_ => Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)) ++
        (1 to 40).map(_ => mutate(validJpeg)) ++
        (1 to 40).map(_ => mutate(validPng)) ++
        (1 to 40).map(_ => mutate(validWarc))
    cases.foreach { bytes =>
      graft.operators.Jpeg.decodeLuma(bytes) // Option or None, never throws
      Multimodal.imageDHash64(bytes)
      graft.sources.Warc.parse(bytes) // prefix or Nil, never throws
      graft.operators.Multimodal.parseDimensions(bytes)
      graft.sources.Sitemap.parse(bytes) // entries or Nil, never throws
      graft.operators.MimeSniff.sniff(bytes) // a type or null, never throws
      // charset ladder is total: any bytes under any declaration decode
      graft.sources.Warc.decodeBody(bytes, null)
      graft.sources.Warc.decodeBody(bytes, "text/html; charset=utf-8")
      graft.sources.Warc.decodeBody(bytes, "text/html; charset= junk�")
      graft.sources.Warc.httpHeaderValue(bytes, "content-type")
    }
  }

  test("text parsers never throw: robots and canonicalizer on garbage strings") {
    val rnd = new scala.util.Random(0xF02217L)
    def junk(): String = new String(Array.fill(rnd.nextInt(200))(
      (rnd.nextInt(0xD7FF) + 1).toChar))
    (1 to 80).foreach { _ =>
      val t = junk()
      Robots.isAllowed(t, "bot", junk())
      Robots.sitemaps(t)
      MainContent.extract(t)
      UrlDomain.hostOf(t)
      UrlDomain.registrableDomain(UrlDomain.hostOf(t))
      UrlDomain.canonicalizeUrl(t)
    }
  }

  // ---- DP release ----

  test("DP noise draw: shifting the hash by one grid step changes noise by at most the CDF step (monotone inverse CDF)") {
    // the CASE is an inverse CDF: noise must be NON-DECREASING in h
    val sql = graft.operators.Privacy.dpNoiseCaseSql("CAST(id AS BIGINT)", 40)
    val spark = graft.SparkTestBase.spark
    val n = 20000L
    val step = (java.math.BigInteger.ONE.shiftLeft(60)
      .divide(java.math.BigInteger.valueOf(n))).longValueExact()
    val xs = spark.range(n)
      .selectExpr(s"${graft.operators.Privacy.dpNoiseCaseSql(s"id * $step", 40)} AS x")
      .collect().map(_.getAs[Number](0).intValue)
    assert(xs.sliding(2).forall(p => p(0) <= p(1)), "inverse CDF must be monotone in h")
    // the extreme tails need h within 2^-40 of the grid ends — probe them directly
    val hiH = java.math.BigInteger.ONE.shiftLeft(60).subtract(java.math.BigInteger.ONE)
    val ends = spark.sql(
      s"SELECT ${graft.operators.Privacy.dpNoiseCaseSql("CAST(0 AS BIGINT)", 40)} AS lo, " +
        s"${graft.operators.Privacy.dpNoiseCaseSql(s"CAST($hiH AS BIGINT)", 40)} AS hi")
      .collect()(0)
    assert(xs.head === -40 && ends.getAs[Number](0).intValue === -40 &&
      ends.getAs[Number](1).intValue === 40)
  }
}
