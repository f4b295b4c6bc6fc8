package graft.functions

import graft.codec.Codec

/** Hash-indexed realistic pseudonymization over localized vocabularies —
  * the operator the reference scaffolds but never wires up
  * (/root/reference/src/main/scala/ai/tripl/arc/util/MaskUtils.scala:3-14,
  * SURVEY.md §2.5): a value is deterministically replaced by
  * `vocab[pmod(hashLong(value), vocab.size)]`.
  *
  * The vocabulary CONTENT here is synthetic (generated from syllable
  * products, stable across JVMs) — the reference's word lists are data, not
  * behavior; any list with the same lookup semantics is equivalent. Lists
  * are materialized lazily inside each executor's JVM from the generator
  * (nothing is shipped with task closures).
  */
object Vocab {

  private def product(parts: Seq[String]*): Vector[String] =
    parts.foldLeft(Vector("")) { (acc, next) => acc.flatMap(a => next.map(a + _)) }

  private val onset = Seq("B", "Br", "C", "Ch", "D", "Dr", "F", "G", "Gr", "H", "J", "K", "L", "M", "N", "P", "R", "S", "St", "T", "Tr", "V", "W")
  private val nucleus = Seq("a", "e", "i", "o", "u", "ai", "ay", "ea", "ee", "ia", "io", "ou")
  private val maleCoda = Seq("n", "s", "d", "rk", "ll", "m", "x", "th", "ver", "ton")
  private val femaleCoda = Seq("la", "ra", "na", "sa", "lle", "tte", "lyn", "bel", "ce", "ve")
  private val surnameSuffix = Seq("son", "well", "ford", "worth", "field", "wood", "stone", "brook", "land", "more")
  // a second locale with distinct syllable inventories and domain list:
  // proves the locale dimension routes (same sizes, different content, so a
  // value picks the same INDEX but a different word per locale)
  private val usCoda = Seq("ley", "den", "ler", "ter", "man", "sen", "cott", "gan", "roy", "vis")
  private val usFemaleCoda = Seq("leigh", "lynn", "row", "dy", "sie", "tta", "nne", "belle", "cy", "vey")
  private val usSurnameSuffix = Seq("berg", "dale", "gate", "haven", "hurst", "mont", "port", "ridge", "vale", "view")

  /** locale -> category -> list. Two locales: `en-AU` mirrors the
    * reference's sole locale; `en-US` exercises the routing dimension
    * (same category shapes and list sizes, disjoint content). */
  lazy val localizedLists: Map[String, Map[String, Vector[String]]] = Map(
    "en-AU" -> Map(
      "first_name_male" -> product(onset, nucleus, maleCoda),
      "first_name_female" -> product(onset, nucleus, femaleCoda),
      "last_name" -> product(onset, nucleus, surnameSuffix),
      "free_email" -> Vector("gmail.com", "yahoo.com", "hotmail.com")),
    "en-US" -> Map(
      "first_name_male" -> product(onset, nucleus, usCoda),
      "first_name_female" -> product(onset, nucleus, usFemaleCoda),
      "last_name" -> product(onset, nucleus, usSurnameSuffix),
      "free_email" -> Vector("aol.com", "outlook.com", "icloud.com")))

  /** Deployment override: a classpath resource
    * `graft/vocab/<locale>/<category>.txt` (one entry per line, blank lines
    * and `#` comments ignored) REPLACES the synthetic list — this is the
    * documented "drop in the reference's real name lists without code
    * changes" path (README). Loaded once per JVM per (locale, category).
    *
    * OUTPUT-STABILITY CAVEAT: the picked word is `list[pmod(hash, size)]`,
    * so the list's SIZE (and entry order) is part of the function's
    * observable behavior — swapping in an override whose length differs
    * from the synthetic list (the reference's real en-AU lists are
    * 3271/3932/473 entries vs the synthetic 2760 per name list) REINDEXES every
    * masked value. That is expected for a one-time deployment switch, but
    * a mixed fleet (some executors with the override on the classpath,
    * some without) would produce inconsistent pseudonyms for the same
    * input — ship the override in the application jar, never per-node. */
  private val resourceLists =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[Vector[String]]]()

  private def fromResource(locale: String, category: String): Option[Vector[String]] =
    resourceLists.computeIfAbsent((locale, category), { case (l, c) =>
      val in = Thread.currentThread().getContextClassLoader.getResourceAsStream(s"graft/vocab/$l/$c.txt")
      Option(in).map { s =>
        val vs =
          try scala.io.Source.fromInputStream(s, "UTF-8").getLines()
            .map(_.trim).filter(v => v.nonEmpty && !v.startsWith("#")).toVector
          finally s.close()
        // a present-but-empty override is a broken deployment (a real-name
        // list that shipped wrong), not a request for the synthetic list —
        // silently falling back would mask it with plausible-looking output
        if (vs.isEmpty) throw new IllegalStateException(
          s"vocabulary override resource graft/vocab/$l/$c.txt exists but has zero entries " +
            "(blank/comment-only file) - fix or remove the override")
        vs
      }
    })

  def list(locale: String, category: String): Vector[String] =
    fromResource(locale, category).getOrElse(
      localizedLists.getOrElse(locale, throw new Exception(s"unknown vocabulary locale '$locale'"))
        .getOrElse(category, throw new Exception(s"unknown vocabulary category '$category' for locale '$locale'")))

  /** Deterministic vocab pick: pmod of the signed KDF hashLong. */
  def pick(codec: Codec, passphrase: Array[Byte])(
      locale: String, category: String, deterministic: Boolean, value: String): String = {
    if (value == null) return null
    val vocab = list(locale, category)
    val h =
      if (deterministic) java.nio.ByteBuffer.wrap(
        MaskFunctions.cachedHash(codec, passphrase, deterministic = true, value)).getLong
      else codec.hashLong(value, deterministic = false, passphrase)
    val idx = java.lang.Math.floorMod(h, vocab.size.toLong).toInt
    vocab(idx)
  }

  /** Pseudonymous email: masked local part + hash-picked free-email domain
    * from the session locale's list. */
  def maskEmail(codec: Codec, passphrase: Array[Byte])(
      deterministic: Boolean, value: String, locale: String = "en-AU"): String = {
    if (value == null) return null
    val local = MaskFunctions.maskString(codec, passphrase)(
      12, "abcdefghijklmnopqrstuvwxyz", None, deterministic, value)
    val domain = pick(codec, passphrase)(locale, "free_email", deterministic, value)
    s"$local@$domain"
  }
}
