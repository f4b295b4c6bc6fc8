package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property fuzz for [[Hocon]], graft's adapter over Typesafe Config:
  * beyond HoconSpec's example-based cases these generate STRUCTURED random
  * documents — nested objects, substitutions, concatenations, includes —
  * and assert parse∘render fixpoints plus the error-accumulation contract
  * (invalid input is ALWAYS `Left(errors)`, never an exception, and every
  * unresolved substitution is reported).
  *
  * Raw ScalaCheck generators with fixed seeds (scalatestplus is not on the
  * classpath), mirroring the Round*PropertySpec house pattern. */
class HoconPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], seedBase: Long, n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seedBase + i)))

  private val scalarGen: Gen[Any] = Gen.oneOf(
    Gen.choose(-9999L, 9999L),
    Gen.oneOf(true, false),
    Gen.oneOf("alpha", "beta x", "under_score", "v42", ""))

  private def render(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .map { case (k, x) => s"$k = ${render(x)}" }.mkString("{ ", "\n", " }")
    case l: List[_] => l.map(render).mkString("[", ", ", "]")
    case other => String.valueOf(other)
  }

  private def stringify(v: Any): String = v match {
    case s: String => s
    case other => other.toString
  }

  test("substitutions and concatenations resolve to the computed fixpoint") {
    val baseKeys = Vector("b0", "b1", "b2", "b3")
    val docGen: Gen[(Map[String, Any], Seq[(String, String, Any)])] = for {
      baseVals <- Gen.listOfN(baseKeys.size, scalarGen)
      base = baseKeys.zip(baseVals).toMap
      nDerived <- Gen.choose(1, 6)
      derived <- Gen.listOfN(nDerived, for {
        ref <- Gen.oneOf(baseKeys)
        pre <- Gen.oneOf("pre", "xy") // non-empty: an empty concat frame is
        suf <- Gen.oneOf("suf", "z9") // a plain sub, which keeps raw types
        form <- Gen.choose(0, 3)
      } yield form match {
        // plain required sub: the referenced RAW value (type preserved)
        case 0 => (s"$${$ref}", base(ref))
        // optional sub to a present key: same
        case 1 => (s"$${?$ref}", base(ref))
        // concat: text parts force stringification
        case 2 => (s"$pre$${$ref}$suf", s"$pre${stringify(base(ref))}$suf")
        // optional sub to a key no environment plausibly defines: dropped
        case 3 => (s"$${?graft_fuzz_missing_zz}", null)
      })
    } yield (base, derived.zipWithIndex.map { case ((expr, exp), i) => (s"d$i", expr, exp) })
    samples(docGen, 0xCAFE01L, 120).foreach { case (base, derived) =>
      val text = base.map { case (k, v) => s"$k = ${render(v)}" }.mkString("\n") + "\n" +
        derived.map { case (k, expr, _) => s"$k = $expr" }.mkString("\n")
      val expected = base ++ derived.collect { case (k, _, exp) if exp != null => k -> exp }
      Hocon.parse(text) match {
        case Right(m) => assert(m === expected, s"for document:\n$text")
        case Left(errs) => fail(s"valid substitution doc rejected ($errs):\n$text")
      }
    }
  }

  test("duplicate keys: objects deep-merge recursively, scalars last-win") {
    def deepMerge(a: Any, b: Any): Any = (a, b) match {
      case (m1: Map[_, _], m2: Map[_, _]) =>
        val x = m1.asInstanceOf[Map[String, Any]]
        val y = m2.asInstanceOf[Map[String, Any]]
        (x.keySet ++ y.keySet).map { k =>
          k -> ((x.get(k), y.get(k)) match {
            case (Some(v1), Some(v2)) => deepMerge(v1, v2)
            case (Some(v1), None) => v1
            case (_, Some(v2)) => v2
            case _ => throw new IllegalStateException
          })
        }.toMap
      case (_, last) => last
    }
    val keys = Gen.oneOf("p", "q", "r")
    def mapGen(depth: Int): Gen[Map[String, Any]] = for {
      n <- Gen.choose(1, 3)
      entries <- Gen.listOfN(n, for {
        k <- keys
        v <- if (depth <= 0) scalarGen else Gen.frequency(2 -> scalarGen, 1 -> mapGen(depth - 1))
      } yield k -> v)
    } yield entries.toMap
    val docGen = for { m1 <- mapGen(2); m2 <- mapGen(2) } yield (m1, m2)
    samples(docGen, 0xCAFE02L, 120).foreach { case (m1, m2) =>
      val text = s"k = ${render(m1)}\nk = ${render(m2)}"
      val expected = Map("k" -> deepMerge(m1, m2))
      Hocon.parse(text) match {
        case Right(m) => assert(m === expected, s"for document:\n$text")
        case Left(errs) => fail(s"valid duplicate-key doc rejected ($errs):\n$text")
      }
    }
  }

  test("includes: included entries merge first, includer entries win after") {
    val keys = Vector("a", "b", "c", "nest")
    val docGen = for {
      incVals <- Gen.listOfN(3, scalarGen)
      ownN <- Gen.choose(1, 4)
      own <- Gen.listOfN(ownN, for { k <- Gen.oneOf(keys); v <- scalarGen } yield k -> v)
      nested1 <- scalarGen
      nested2 <- scalarGen
    } yield {
      val inc = Map("a" -> incVals(0), "b" -> incVals(1), "c" -> incVals(2),
        "nest" -> Map("x" -> nested1))
      val ownMap = own.toMap ++ Map("nest" -> Map("y" -> nested2))
      (inc, ownMap)
    }
    graft.SparkTestBase.withTargetDir("hocon-prop-inc") { d =>
      val dir = java.nio.file.Paths.get(d)
      def write(name: String, text: String): java.nio.file.Path =
        java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
      samples(docGen, 0xCAFE03L, 80).foreach { case (inc, own) =>
        val incText = inc.map { case (k, v) => s"$k = ${render(v)}" }.mkString("\n")
        write("inc.conf", incText)
        val ownText = own.map { case (k, v) => s"$k = ${render(v)}" }.mkString("\n")
        val text = "include \"inc.conf\"\n" + ownText
        // expected: include merges into an empty doc, then the includer's own
        // entries merge on top — objects deep-merge, scalars last-win
        val expected = (inc.keySet ++ own.keySet).map { k =>
          k -> ((inc.get(k), own.get(k)) match {
            case (Some(m1: Map[_, _]), Some(m2: Map[_, _])) =>
              m1.asInstanceOf[Map[String, Any]] ++ m2.asInstanceOf[Map[String, Any]]
            case (_, Some(v2)) => v2
            case (Some(v1), _) => v1
            case _ => throw new IllegalStateException
          })
        }.toMap
        Hocon.parseFile(write("main.conf", text).toString) match {
          case Right(m) => assert(m === expected, s"for document:\n$text\n--- include:\n$incText")
          case Left(errs) => fail(s"valid include doc rejected ($errs):\n$text")
        }
      }
    }
  }

  test("error accumulation: every missing required substitution is reported, none throws") {
    val docGen = for {
      nBad <- Gen.choose(1, 5)
      nGood <- Gen.choose(0, 3)
      goodVals <- Gen.listOfN(nGood, scalarGen)
    } yield (nBad, goodVals)
    samples(docGen, 0xCAFE04L, 80).foreach { case (nBad, goodVals) =>
      val bad = (0 until nBad).map(i => s"bad$i = $${graft_fuzz_no_such_$i}")
      val good = goodVals.zipWithIndex.map { case (v, i) => s"good$i = ${render(v)}" }
      val text = (bad ++ good).mkString("\n")
      Hocon.parse(text) match {
        case Left(errs) =>
          (0 until nBad).foreach { i =>
            assert(errs.exists(_.contains(s"graft_fuzz_no_such_$i")),
              s"missing error for bad$i in $errs")
          }
        case Right(m) => fail(s"doc with $nBad unresolvable substitutions parsed to $m")
      }
    }
  }
}
