package graft.operators

import java.io.File
import java.net.URL

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.typesafe.config._

/** Stage documents are HOCON, parsed by Typesafe Config — the library the
  * reference's host framework hands each stage its `Config` from (reference
  * `MaskDataTransform.scala:52-59`), so graft accepts exactly the
  * documents the reference accepts. This object only adapts the result to
  * the plain tree [[StageConfig]] validates: objects become `Map`, lists
  * `List`, whole numbers `Long`.
  *
  * Three policies sit on top of Typesafe's defaults:
  *  - [[parse]] has no file to resolve against, so any `include` there is
  *    an error naming [[parseFile]] (Typesafe would skip it silently);
  *  - `include url(...)`, or a bare include naming a URL, is an error: the
  *    config parser does no network I/O;
  *  - every unresolved `${...}` is reported, not only the first one.
  *
  * `file("x")` includes resolve against the including file's directory
  * (Typesafe's default resolves them against the working directory).
  * Errors carry the line they come from.
  */
object Hocon {

  def parse(text: String): Either[List[String], Map[String, Any]] =
    load(ConfigFactory.parseString(text, options(includes = false)))

  /** Parse a `.conf` file; includes resolve relative to the including file,
    * then against the classpath, as Typesafe Config resolves them. */
  def parseFile(path: String): Either[List[String], Map[String, Any]] =
    load(ConfigFactory.parseFile(new File(path),
      options(includes = true).setAllowMissing(false).setSyntax(ConfigSyntax.CONF)))

  private def options(includes: Boolean): ConfigParseOptions =
    ConfigParseOptions.defaults.setIncluder(new Includer(includes, fallback = null))

  private def load(parsed: => Config): Either[List[String], Map[String, Any]] =
    try {
      // a cycle throws even here, with Typesafe's own text naming it
      val root = parsed.resolve(ConfigResolveOptions.defaults.setAllowUnresolved(true)).root
      unresolved(root).sorted.map(_._2).distinct match {
        case Nil => Right(toScala(root).asInstanceOf[Map[String, Any]])
        case errors => Left(errors)
      }
    } catch { case e: ConfigException => Left(List(describe(e))) }

  /** (line, error) for every value still unresolved: resolving the value on
    * its own yields Typesafe's strict message for the substitution in it. */
  private def unresolved(v: ConfigValue): List[(Int, String)] = v match {
    case o: ConfigObject => o.values.asScala.toList.flatMap(unresolved)
    case l: ConfigList => l.asScala.toList.flatMap(unresolved)
    case _ =>
      try { v.valueType; Nil }
      catch { case _: ConfigException.NotResolved =>
        try { v.atKey("value").resolve(); Nil }
        catch { case e: ConfigException => List((Option(e.origin).fold(-1)(_.lineNumber), describe(e))) }
      }
  }

  private def toScala(v: ConfigValue): Any = v match {
    case o: ConfigObject => o.asScala.map { case (k, x) => k -> toScala(x) }.toMap
    case l: ConfigList => l.asScala.map(toScala).toList
    case _ => v.unwrapped match {
      case i: java.lang.Integer => i.toLong
      case other => other
    }
  }

  /** `[<file> ]line N: <message>`, the origin's description swapped for its line. */
  private def describe(e: ConfigException): String = Option(e.origin) match {
    case Some(o) if o.lineNumber > 0 =>
      val file = Option(o.filename).fold("")(f => s"${new File(f).getName} ")
      s"${file}line ${o.lineNumber}: ${e.getMessage.stripPrefix(o.description + ": ")}"
    case _ => e.getMessage
  }

  /** graft's include policy. `fallback` is Typesafe's default includer,
    * which Typesafe hands over through [[withFallback]]; bare `include "x"`
    * goes to it (file-relative, `.conf`/`.json`/`.properties` basename, then
    * classpath). */
  private final class Includer(includes: Boolean, fallback: ConfigIncluder)
      extends ConfigIncluder with ConfigIncluderFile with ConfigIncluderURL with ConfigIncluderClasspath {
    def withFallback(f: ConfigIncluder): ConfigIncluder = new Includer(includes, f)

    private def allowed(): Unit = if (!includes) throw new ConfigException.Generic(
      "'include' directives need a resolution context: use Hocon.parseFile " +
        "(plain Hocon.parse cannot locate included files)")

    def include(context: ConfigIncludeContext, what: String): ConfigObject =
      Try(new URL(what)).toOption match {
        case Some(url) => includeURL(context, url) // Typesafe would fetch a bare URL
        case None => allowed(); fallback.include(context, what)
      }

    def includeURL(context: ConfigIncludeContext, what: URL): ConfigObject = {
      allowed()
      throw new ConfigException.Generic(
        s"include url(...) is not supported: the config parser does no network I/O ($what)")
    }

    def includeResources(context: ConfigIncludeContext, what: String): ConfigObject = {
      allowed()
      ConfigFactory.parseResourcesAnySyntax(what, context.parseOptions).root
    }

    /** `relativeTo` yields a file only when the sibling exists; otherwise
      * it falls back to the classpath, which `file(...)` must not do. */
    def includeFile(context: ConfigIncludeContext, what: File): ConfigObject = {
      allowed()
      Option(context.relativeTo(what.getPath)).flatMap(p => Option(p.origin.filename)) match {
        case Some(f) => ConfigFactory.parseFile(new File(f), context.parseOptions).root
        case None if context.parseOptions.getAllowMissing => ConfigFactory.empty.root
        case None => throw new ConfigException.IO(ConfigOriginFactory.newFile(what.getPath),
          "required include file not found")
      }
    }
  }
}
