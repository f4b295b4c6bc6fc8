package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class TextAnalysisSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def one(text: String) = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("qualityDecision: each rule fires independently and sets its bit") {
    import spark.implicits._
    val longGood = ("the quick brown fox jumps over the lazy dog " * 8).trim // 72 tokens, mean len 3.9, stopwords present
    val df = Seq(
      (1L, longGood),                                    // keep
      (2L, "the of to and in is a"),                     // too short: bit 0
      (3L, ("the " + "supercalifragilistic " * 40).trim), // mean word len > 10: bit 1
      (4L, ("alpha beta gamma delta epsilon " * 10).trim), // no stopwords: bit 2
      (5L, Seq.fill(10)("the same line of it").mkString("\n") + "\n" + (1 to 30).map(i => s"the l$i of").mkString(" ")) // dup lines: bit 3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityDecision(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("reasons") === 0L)
    assert(out(0).getAs[Long]("keep") === 1L)
    assert((out(1).getAs[Long]("reasons") & 1L) === 1L)
    assert((out(2).getAs[Long]("reasons") & 2L) === 2L)
    assert((out(3).getAs[Long]("reasons") & 4L) === 4L)
    assert((out(4).getAs[Long]("reasons") & 8L) === 8L)
    assert(out.drop(1).forall(_.getAs[Long]("keep") === 0L))
  }

  test("qualityDecision: NULL text is a defined decision (fails bit 0, keep=0)") {
    import spark.implicits._
    val longGood = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val out = TextAnalysis.qualityDecision(
      Seq((1L, longGood), (2L, null: String)).toDF("doc_id", "text"),
      "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("keep") === 1L)
    assert(out(1).getAs[Long]("n_tokens") === 0L)
    assert(out(1).getAs[Long]("reasons") === 1L)
    assert(out(1).getAs[Long]("keep") === 0L)
  }

  test("token and subword counts") {
    val r = TextAnalysis.profile(one("Hello world this is graft"), "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_tokens") === 5)
    // hello(2)+world(2)+this(1)+is(1)+graft(2) = ceil(len/4) sums
    assert(r.getAs[Long]("n_subwords") === 8L)
    assert(r.getAs[Int]("n_chars") === 25)
  }

  test("dropDuplicateLines keeps first occurrences in order") {
    import graft.SparkTestBase.spark.implicits._
    val df = Seq(
      "a\nb\na\nc\nb",
      "solo",
      "x\nx\nx").toDF("text")
    val out = df.select(TextAnalysis.dropDuplicateLines(col("text")))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("a\nb\nc", "solo", "x"))
  }

  test("bpe-ish pre-tokenizer counts contractions, word/number/punct runs") {
    import org.apache.spark.sql.functions.col
    import graft.SparkTestBase.spark.implicits._
    val df = Seq((1L, "I'll pay 42 dollars, ok?")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"))).collect()(0).getLong(0)
    // I | 'll | pay | 42 | dollars | , | ok | ?
    assert(n === 8L)
  }

  test("ratios are stable integers x1e4") {
    val r = TextAnalysis.profile(one("AB, cd! 12"), "doc_id", "text").collect()(0)
    // 10 chars: 2 punct, 2 digits, 2 upper
    assert(r.getAs[Long]("punct_ratio_x1e4") === 2000L)
    assert(r.getAs[Long]("digit_ratio_x1e4") === 2000L)
    assert(r.getAs[Long]("upper_ratio_x1e4") === 2000L)
  }

  test("language id picks the language with most marker hits") {
    val en = "the cat and the dog ran to the house of cards with joy"
    val de = "der hund und die katze sind nicht in der stadt mit ein auto"
    val fr = "le chat et la maison dans les champs pour une vie"
    val es = "el perro y los gatos en una casa por la noche para siempre"
    val zh = "你好世界这是一个测试"
    import spark.implicits._
    val df = Seq((1L, en), (2L, de), (3L, fr), (4L, es), (5L, zh)).toDF("doc_id", "text")
    val got = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "lang_pred").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("normalize: case, control chars, whitespace runs, optional punctuation") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Hello\tWORLD\u0007!!  mixed,  Case. "),
      (2L, "already clean"),
      (3L, "tabs\t\tand\nnewlines\r\nhere")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.normalize(col("text")).as("n"),
      TextAnalysis.normalize(col("text"), stripPunct = true).as("np"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // the input embeds a literal BEL (\x07) between WORLD and !! - the
    // control char becomes a space in the whitespace-normalized form
    assert(got(1L) === ("hello world !! mixed, case.", "hello world mixed case"))
    assert(got(2L) === ("already clean", "already clean"))
    assert(got(3L) === ("tabs and newlines here", "tabs and newlines here"))
    // idempotent
    val twice = df.select(TextAnalysis.normalize(TextAnalysis.normalize(col("text")))
      .as("t"), TextAnalysis.normalize(col("text")).as("o")).collect()
    twice.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("fingerprint: canonicalization collapses case and whitespace") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "  HELLO\tWORLD "), (4L, "different"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "fingerprint").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(2L) === fps(3L))
    assert(fps(4L) !== fps(1L))
  }

  test("quality score orders clean prose above garbage") {
    import spark.implicits._
    val clean = "A well formed paragraph of reasonable length that contains normal words and structure " * 3
    val garbage = "@@@@ #### !!!! 1234 %%%% ^^^^ &&&& **** (((( )))) @@@@ ####"
    val df = Seq((1L, clean), (2L, garbage)).toDF("doc_id", "text")
    val q = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "quality").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q(1L) > q(2L))
  }

  test("repetitionProfile: duplicate lines and dominant bigrams (Gopher-style)") {
    import spark.implicits._
    val df = Seq(
      // 4 lines, 2 distinct -> dup frac 0.5; "buy now" bigram dominates
      (1L, "buy now\nbuy now\nbuy now today\nbuy now today"),
      // clean prose: no repeated lines, all bigrams unique
      (2L, "the quick brown fox jumps over the lazy dog"),
      // single token: no bigrams at all
      (3L, "word"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val spam = out(1L)
    assert(spam.getAs[Long]("n_lines") === 4L)
    assert(spam.getAs[Long]("dup_line_frac_x1e4") === 5000L)
    // tokens: buy now buy now buy now today buy now today -> 9 bigrams,
    // "buy now" x4, "now buy" x2, "now today" x2, "today buy" x1
    assert(spam.getAs[Long]("n_bigrams") === 9L)
    assert(spam.getAs[Long]("top_bigram_n") === 4L)
    assert(spam.getAs[Long]("top_bigram_frac_x1e4") === 4444L)

    val prose = out(2L)
    assert(prose.getAs[Long]("dup_line_frac_x1e4") === 0L)
    assert(prose.getAs[Long]("n_bigrams") === 8L)
    assert(prose.getAs[Long]("top_bigram_n") === 1L)

    val single = out(3L)
    assert(single.getAs[Long]("n_bigrams") === 0L && single.getAs[Long]("top_bigram_n") === 0L)
    assert(single.getAs[Long]("top_bigram_frac_x1e4") === 0L)
    assert(out(4L).getAs[Long]("n_lines") === 1L)
  }

  test("profile stays in whole-stage codegen (no UDFs, narrow plan)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.profile(df, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // '*(n)' prefixes mark whole-stage-codegen stages in executedPlan.toString
    assert(plan.contains("*("), "profile must run inside whole-stage codegen")
    assert(!plan.contains("Exchange"), "profile must be a narrow projection")
    // column pruning must reach the scan: only the two referenced columns read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("vocabCoverage: counts, OOV, integer rate; token-free docs report zeros") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa cc"), (2L, "aa aa"), (3L, "zz yy"), (4L, ""))
      .toDF("doc_id", "text")
    val vocab = Seq("aa", "bb").toDF("tok")
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((4L, 1L, 2500L)),
      2L -> ((2L, 0L, 0L)),
      3L -> ((2L, 2L, 10000L)),
      4L -> ((0L, 0L, 0L))))
  }

  test("tfidfKeywords: rare terms outrank common ones; ties break by token; nulls dropped") {
    import spark.implicits._
    // 'the' appears in all 3 live docs (idf=1000); 'rare' only in doc 1
    // (idf=3000) — one occurrence of 'rare' (3000) must outrank two of
    // 'the' (2000)
    val docs = Seq(
      (1L, "the the rare"),
      (2L, "the bb aa"),     // aa/bb: same score — 'aa' must rank first
      (3L, "the zz"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(5))))
      .toMap
    assert(out === Map(
      (1L, 1L) -> (("rare", 3000L)),   // 1 * (1000*3 div 1)... df('rare')=1 -> 1*3000
      (1L, 2L) -> (("the", 2000L)),    // 2 * (3000 div 3) = 2000
      (2L, 1L) -> (("aa", 3000L)),
      (2L, 2L) -> (("bb", 3000L)),
      (3L, 1L) -> (("zz", 3000L)),
      (3L, 2L) -> (("the", 1000L))))
    assert(!out.keys.exists(_._1 == 4L), "null text must contribute no keywords")
  }

  test("stripMarkup: scripts/styles/comments dropped, tags stripped, entities decoded") {
    import spark.implicits._
    val html =
      "<html><head><style>p{x:1}</style><script>if (1 < 2) alert('&amp;')</script></head>" +
        "<body><!-- secret > comment --><h1>A &amp; B</h1>\n<p>x &lt;tag&gt;" +
        " &quot;q&quot; &#39;s&#39; a&nbsp;b</p><p>c &amp;lt; d</p></body></html>"
    val out = Seq(html).toDF("t")
      .select(TextAnalysis.stripMarkup(org.apache.spark.sql.functions.col("t")))
      .head().getString(0)
    // script payload (with its '<' and entity) gone, comment (with its '>')
    // gone, entities decoded once: '&amp;lt;' -> '&lt;' literal, not '<'
    assert(out === "A & B x <tag> \"q\" 's' a b c &lt; d")
  }

  test("extractLinks: quoting/case variants, fragments cut, non-href anchors skipped") {
    import spark.implicits._
    val html = """<a href="https://a.io/x">1</a> <A HREF='https://b.io/y#frag'>2</A>""" +
      """ <a class="z" href="/rel/path">3</a> <a name="no">4</a>""" +
      """ <a data-x="1" href = "https://c.io/q?k=v">5</a> plain text"""
    val out = Seq(html).toDF("t")
      .select(TextAnalysis.extractLinks(org.apache.spark.sql.functions.col("t")))
      .head().getSeq[String](0)
    assert(out === Seq("https://a.io/x", "https://b.io/y", "/rel/path", "https://c.io/q?k=v"))
  }

  test("extractAnchorPairs: hrefs and texts align positionally across quoting/case variants") {
    import spark.implicits._
    val html = """<a href="https://a.io/x">first text</a> junk""" +
      """ <A class="k" HREF='https://b.io/y'>second</A>""" +
      """ <a name="no-href">skipped</a> <a href="/rel">rel text</a>"""
    import org.apache.spark.sql.functions.{col, explode, size}
    val out = Seq(html).toDF("t")
      .select(explode(TextAnalysis.extractAnchorPairs(col("t"))).as("p"))
      .select(col("p.href"), col("p.anchor"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq === Seq(
      ("https://a.io/x", "first text"),
      ("https://b.io/y", "second"),
      ("/rel", "rel text")))
    // anchors with nested tags in the body don't match the [^<]* body —
    // the documented tag-level honesty contract (aggregates, not per-row)
    val nested = Seq("""<a href="https://c.io/z"><b>bold</b></a>""").toDF("t")
      .select(size(TextAnalysis.extractAnchorPairs(col("t")))).head().getInt(0)
    assert(nested === 0)
  }

  test("qualityDecision: NULL guard stays arithmetic (no conditional wrapper)") {
    // r9 regression pin: wrapping the outputs in when(text.isNull, ...)
    // made the shared tokenize subtree a CaseWhen BRANCH — conditionally
    // evaluated expressions are excluded from whole-stage-codegen
    // subexpression elimination, so every document was re-tokenized once
    // per output column (~3x the operator's cost at sf0.1). The NULL
    // decision must stay encoded via coalesce-to-zero on the base counts
    // (Coalesce's FIRST child is unconditionally evaluated, so CSE holds).
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qe = TextAnalysis.qualityDecision(df, "doc_id", "text").queryExecution
    val conditionals = qe.optimizedPlan.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c
      case i: org.apache.spark.sql.catalyst.expressions.If => i
    })
    assert(conditionals.isEmpty,
      s"qualityDecision must not wrap outputs in conditionals: $conditionals")
    val plan = qe.executedPlan.toString
    assert(plan.contains("*(") && !plan.contains("Exchange"))
  }

  test("qualityDecision: null text gets the defined decision (0, 1, 0)") {
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityDecision(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((0L, 1L, 0L)), "null text: n_tokens=0, reasons=bit0, keep=0")
    // empty text keeps whatever the rules say, but must not be NULL-garbage
    assert(out(2L)._2 >= 1L && out(2L)._3 === 0L)
  }

  test("removeBoilerplateLines drops cross-doc hot lines, keeps order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\nSubscribe Now\nbody a"),
      (2L, "body b\nsubscribe now"),
      (3L, "subscribe  now trailing\n subscribe now \nbody c"),
      (4L, "SUBSCRIBE NOW")).toDF("doc_id", "text")
    // normalized "subscribe now" appears in docs 1,2,3,4 (doc 3 matches via
    // trim+lower; its "subscribe  now trailing" line does NOT) -> hot at 3
    val out = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 2L, "unique one\nbody a")))
    assert(out(2L) === ((2L, 1L, "body b")))
    assert(out(3L) === ((3L, 2L, "subscribe  now trailing\nbody c")))
    // a doc that was ALL boilerplate survives with empty text
    assert(out(4L) === ((1L, 0L, "")))
  }

  test("removeBoilerplateLines: below-threshold duplicates are kept") {
    import spark.implicits._
    val docs = Seq((1L, "shared\na"), (2L, "shared\nb")).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === "shared\na" && out(2L) === "shared\nb")
    intercept[IllegalArgumentException] {
      TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocFreq = 1)
    }
  }

  test("stripMarkup stays in whole-stage codegen (no UDFs, narrow plan)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = df.select(TextAnalysis.stripMarkup(
        org.apache.spark.sql.functions.col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    assert(plan.contains("*("), "stripMarkup must run inside whole-stage codegen")
    assert(!plan.contains("Exchange"), "stripMarkup must be a narrow projection")
  }

  test("removeBoilerplateLines never strips blank lines (paragraph structure survives)") {
    import spark.implicits._
    // every doc has a blank line; only the real footer recurs
    val docs = (1L to 10L).map(i => (i, s"body $i\n\nfooter line")).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocFreq = 5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === "body 1\n", "blank line was stripped or footer kept")
  }

  test("languageId is null for null text, not 'zh'") {
    import spark.implicits._
    val df = Seq((1L, Option("the and is of to a")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("en"))
    assert(out(2L) === None, "null document must not be labeled a language")
  }

  test("vocabCoverage is immune to duplicate vocab rows") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val cleanVocab = Seq("alpha", "beta").toDF("tok")
    val dupVocab = Seq("alpha", "alpha", "alpha", "beta").toDF("tok")
    def run(v: org.apache.spark.sql.DataFrame) =
      TextAnalysis.vocabCoverage(docs, "doc_id", "text", v)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(run(cleanVocab) === run(dupVocab))
    assert(run(dupVocab) === ((3L, 1L, 3333L))) // 3 tokens, 1 oov, no fanout
  }

  test("tokenEntropy: hand-computed values, uniform > repetitive, empty doc zero") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a b c d")),      // uniform: H = ln(4)
      (2L, Some("a a a a")),      // degenerate: H = 0
      (3L, Some("a a b b")),      // H = ln(2)
      (4L, Some("")), (5L, None)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def grid(h: Double) = math.floor(h * 10000 + 1e-6).toLong
    assert(out(1L) === ((4L, grid(math.log(4)))))
    assert(out(2L) === ((4L, 0L)))
    assert(out(3L) === ((4L, grid(math.log(2)))))
    assert(out(4L) === ((0L, 0L)))
    assert(out(5L) === ((0L, 0L)))
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("blocklistHits: whole words after punctuation strip, never substrings") {
    import spark.implicits._
    val df = Seq(
      (1L, "a Bad, day"),        // case + trailing punct still matches
      (2L, "the badge parade"),  // substring must NOT match
      (3L, "bad bad (bad)"),     // every occurrence counts
      (4L, ""),                  // empty text
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.blocklistHits(col("text"), Seq("bad", "worse")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 0L, 3L -> 3L, 4L -> 0L, 5L -> 0L))
  }

  test("blocklistHits rejects an empty list") {
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistHits(col("text"), Seq.empty)
    }
  }

  test("ngramNovelty: shared grams lower novelty, fully-unique docs score 10000") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),  // grams {a b c, b c d}; "a b c" shared with doc 2
      (2L, "a b c x"),  // grams {a b c, b c x}
      (3L, "p q r s"),  // both grams unique corpus-wide
      (4L, "x y")       // too short: no grams, absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 3)(_.collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 1L, 5000L)))
    assert(out(2L) === ((2L, 1L, 5000L)))
    assert(out(3L) === ((2L, 2L, 10000L)))
    assert(!out.contains(4L))
  }

  test("ngramNovelty: duplicate doc_id rows do not inflate df (df counts DOCUMENTS)") {
    import spark.implicits._
    // the same doc id twice with the same text: df of its gram must stay
    // 1 (a self-duplicate is not "another document"), novelty 10000
    val docs = Seq((1L, "a b c"), (1L, "a b c"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 3)(_.collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((1L, 1L, 10000L)))
    assert(out(2L) === ((2L, 2L, 10000L)))
  }

  test("ngramNovelty: in-doc repetition does not inflate df (a self-repeat stays novel)") {
    import spark.implicits._
    // "m n o" occurs twice in doc 1 and nowhere else: df must be 1
    val docs = Seq((1L, "m n o z m n o"), (2L, "j k l w")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 3)(_.collect())
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) === 10000L)
    assert(out(2L) === 10000L)
  }

  test("blocklistHits normalizes the LIST like the tokens (mixed case, stray punct)") {
    import spark.implicits._
    val df = Seq((1L, "nsfw content here"), (2L, "clean text")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      // raw curated-list entries: uppercase + trailing punctuation
      TextAnalysis.blocklistHits(col("text"), Seq("NSFW", "Worse!")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 0L))
    // a list that normalizes to nothing must fail loudly, not match nothing
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistHits(col("text"), Seq("!!!", "  "))
    }
  }

  test("Gopher char fractions: top-n mass and overlap-once dup coverage, by hand") {
    import spark.implicits._
    // doc 1: "x y x y x y" — 6 tokens, 6 chars total.
    //   top-2: "x y"×3, 2 chars each → 6/6 = 10000
    //   top-3: "x y x"×2 (ties "y x y"×2, same mass) → 3·2/6 = 10000
    //   top-4: "x y x y"×2 → 4·2/6 = 13333 (overlapping occurrences CAN
    //   push the published top-n metric past 1 — documented semantics)
    //   dup-5: both 5-gram windows unique → 0
    // doc 3: "p q r s t u v w p q r s t z z" — 15 tokens.
    //   "p q r s t" repeats at positions 1 and 9 → covered {1..5, 9..13},
    //   10 of 15 chars → dup5 = 6666; no 6-gram repeats → dup6..10 = 0
    //   top-2 = 2·2/15 = 2666, top-3 = 3·2/15 = 4000, top-4 = 4·2/15 = 5333
    val docs = Seq(
      (1L, "x y x y x y"),
      (2L, "solo"),
      (3L, "p q r s t u v w p q r s t z z")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String): Long =
      out(id).getLong(out(id).fieldIndex(c))
    assert(f(1L, "top2_char_frac_x1e4") === 10000L)
    assert(f(1L, "top3_char_frac_x1e4") === 10000L)
    assert(f(1L, "top4_char_frac_x1e4") === 13333L)
    (5 to 10).foreach(n => assert(f(1L, s"dup${n}_char_frac_x1e4") === 0L))
    (2 to 4).foreach(n => assert(f(2L, s"top${n}_char_frac_x1e4") === 0L))
    assert(f(3L, "top2_char_frac_x1e4") === 2666L)
    assert(f(3L, "top3_char_frac_x1e4") === 4000L)
    assert(f(3L, "top4_char_frac_x1e4") === 5333L)
    assert(f(3L, "dup5_char_frac_x1e4") === 6666L)
    (6 to 10).foreach(n => assert(f(3L, s"dup${n}_char_frac_x1e4") === 0L))
  }

  test("vocabDrift: ppm rates, L1, appeared/vanished, deterministic argmax — by hand") {
    import spark.implicits._
    // A: aa×2 bb cc (tot 4) → ppm aa 500000, bb 250000, cc 250000
    // B: aa bb dd×2 (tot 4) → ppm aa 250000, bb 250000, dd 500000
    // deltas: aa 250000, bb 0, cc 250000, dd 500000 → L1 = 1_000_000;
    // dd appeared, cc vanished; top mover dd (500000)
    val a = Seq((1L, "aa bb aa"), (2L, "cc")).toDF("doc_id", "text")
    val b = Seq((1L, "aa bb"), (3L, "dd dd")).toDF("doc_id", "text")
    val r = TextAnalysis.vocabDrift(a, b, "text").collect()(0)
    assert(r.getLong(r.fieldIndex("n_tok_a")) === 4L)
    assert(r.getLong(r.fieldIndex("n_tok_b")) === 4L)
    assert(r.getLong(r.fieldIndex("n_vocab_a")) === 3L)
    assert(r.getLong(r.fieldIndex("n_vocab_b")) === 3L)
    assert(r.getLong(r.fieldIndex("n_new")) === 1L)
    assert(r.getLong(r.fieldIndex("n_gone")) === 1L)
    assert(r.getLong(r.fieldIndex("l1_ppm")) === 1000000L)
    assert(r.getString(r.fieldIndex("top_mover")) === "dd")
    assert(r.getLong(r.fieldIndex("top_mover_delta_ppm")) === 500000L)
    // identical snapshots: zero drift everywhere, argmax tie breaks to
    // the first token
    val same = TextAnalysis.vocabDrift(a, a, "text").collect()(0)
    assert(same.getLong(same.fieldIndex("l1_ppm")) === 0L)
    assert(same.getLong(same.fieldIndex("n_new")) === 0L)
    assert(same.getLong(same.fieldIndex("n_gone")) === 0L)
    assert(same.getString(same.fieldIndex("top_mover")) === "aa")
    // token-free snapshots still report ONE summary row of zeros (a
    // crossJoined argmax frame would multiply the summary by an empty
    // frame and emit nothing — reviewer r15)
    val empty = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val z = TextAnalysis.vocabDrift(empty, empty, "text").collect()
    assert(z.length === 1)
    assert(z(0).getLong(z(0).fieldIndex("n_tok_a")) === 0L)
    assert(z(0).getLong(z(0).fieldIndex("l1_ppm")) === 0L)
    assert(z(0).isNullAt(z(0).fieldIndex("top_mover")))
  }

  test("deflateRatio separates the entropy regimes and matches the driver twin") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    var seed = "spec-seed"
    val rand = (1 to 128).map { _ =>
      seed = md.digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString; seed
    }.mkString
    val docs = Seq(
      (1L, "a" * 4096),                                      // constant: collapses
      (2L, "the cat sat on the mat and purred loudly. " * 100), // prose: compresses
      (3L, rand),                                            // md5-hex chain: high entropy
      (4L, ""),                                              // empty: (0, 0, 0)
      (5L, null.asInstanceOf[String])                        // null: (0, 0, 0)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.deflateRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (constR, proseR, randR) = (out(1L)._3, out(2L)._3, out(3L)._3)
    assert(constR < 100, s"constant run should collapse, got ratio $constR")
    assert(proseR > constR && proseR < 2000, s"prose ratio $proseR")
    // hex text carries 4 bits/char, so deflate approaches ratio ~0.55 — the
    // floor for this alphabet, still far above any natural-text ratio
    assert(randR > 4000 && randR > 3 * proseR,
      s"hex chain should resist compression far beyond prose, got $randR vs prose $proseR")
    assert(out(4L) === ((0L, 0L, 0L)) && out(5L) === ((0L, 0L, 0L)))
    // per-partition Deflater reuse must not leak state doc-to-doc: the
    // single-value driver twin (fresh Deflater each call) pins every size
    Seq(1L, 2L, 3L).foreach { id =>
      val text = id match {
        case 1L => "a" * 4096
        case 2L => "the cat sat on the mat and purred loudly. " * 100
        case _ => rand
      }
      assert(out(id)._2 === TextAnalysis.deflatedBytes(text),
        s"doc $id deflate size differs from the fresh-Deflater twin")
    }
  }
}
