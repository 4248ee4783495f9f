package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * URL parse/normalize and RFC 3986 §5 reference resolution as plain JVM
 * code behind two Catalyst expressions ([[NormalizeUrl]], [[ResolveUrl]]).
 * Each step is the regex step of the column chain these replaced, in the
 * same order, with the same `java.util.regex` patterns and Spark's string
 * semantics: `regexp_extract` without a match (or with a non-participating
 * group) is `""`, `regexp_replace` is `replaceAll`, `rlike` is `find`,
 * `split` keeps trailing empty parts, `trim` strips only U+0020 and host
 * case-folding is Spark's own `lower`. The dot-segment removal keeps the
 * chain's BOUNDED unroll rather than the RFC's loop: the two differ on
 * empty segments and on nesting deeper than 8 `../` hops, and the oracle
 * digests pin the unroll.
 */
object Urls {

  private def p(re: String): Pattern = Pattern.compile(re)

  // parse
  private val Scheme = p("^([A-Za-z][A-Za-z0-9+.-]*)://")
  private val HostPort = p("^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)")
  private val Path = p("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)")
  private val QueryOf = p("\\?([^#]*)")
  private val UserInfo = p("^[^/@]*@")
  private val V6Host = p("^\\[([^\\]]*)\\]")
  private val V6Port = p("^\\[[^\\]]*\\]:([0-9]+)$")
  private val Host = p("^([^:]*)")
  private val Port = p(":([0-9]+)$")
  private val Www = p("^www\\.")
  private val Tracking = p("^(utm_[^=]*|fbclid|gclid)(=.*)?$")
  // resolve
  private val Fragment = p("#[\\s\\S]*")
  private val LinkScheme = p("^([A-Za-z][A-Za-z0-9+.\\-]*):")
  private val Origin = p("^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+)")
  private val OriginPath = p("^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+([^?#]*)")
  private val TargetPath = p("^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+([^?]*)")
  private val Query = p("(\\?[\\s\\S]*)$")
  private val LastSegment = p("/[^/]*$")
  private val RelPath = p("^([^?]*)")
  private val Dot = p("/\\./")
  private val DotEnd = p("/\\.$")
  private val DotDot = p("/(?!\\.\\./)[^/]+/\\.\\./")
  private val DotDotEnd = p("/(?!\\.\\./)[^/]+/\\.\\.$")
  private val AboveRoot = p("^(/\\.\\.)+(/|$)")

  /** `(scheme, host, port, path, registered_domain, url_norm)`. */
  val NormalizedType: StructType = StructType(Seq(
    StructField("scheme", StringType), StructField("host", StringType),
    StructField("port", IntegerType), StructField("path", StringType),
    StructField("registered_domain", StringType),
    StructField("url_norm", StringType)))

  private def extract(re: Pattern, s: String): String = {
    val m = re.matcher(s)
    if (m.find()) { val g = m.group(1); if (g == null) "" else g } else ""
  }

  private def replace(re: Pattern, s: String, by: String): String =
    re.matcher(s).replaceAll(by)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Spark's `lower` on a UTF8_BINARY string; `icu` is the SQL conf
    * `spark.sql.icu.caseMappings.enabled`, read as `Lower` reads it. */
  private def lower(s: String, icu: Boolean): String =
    CollationSupport.Lower.exec(utf8(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icu).toString

  /** [[NormalizeUrl]]'s row: a null `url` gives all-null fields. A port
    * that does not fit an `Int` is null (`try_cast`), so it drops out of
    * `url_norm` instead of failing the query. */
  def normalize(url: UTF8String, icu: Boolean): InternalRow = {
    if (url == null) return new GenericInternalRow(6)
    val s = url.toString
    // schemes are ASCII by the pattern, so any lowercasing agrees
    val scheme = extract(Scheme, s).toLowerCase(java.util.Locale.ROOT)
    // userinfo goes before the host/port split, else "u@spam.net" keys
    // "u"; url_norm drops it (one resource under two credentials is one page)
    val hostPort = replace(UserInfo, extract(HostPort, s), "")
    // IPv6 literals keep their brackets; the port follows "]:"
    val isV6 = hostPort.startsWith("[")
    val rawHost =
      if (isV6) "[" + lower(extract(V6Host, hostPort), icu) + "]"
      else lower(extract(Host, hostPort), icu)
    val portStr = extract(if (isV6) V6Port else Port, hostPort)
    val port: Integer =
      if (portStr.isEmpty) null
      else {
        val w = new UTF8String.IntWrapper
        if (utf8(portStr).toInt(w)) Integer.valueOf(w.value) else null
      }
    val host = Idn.toAscii(replace(Www, rawHost, ""))
    val path = extract(Path, s)
    val normPath = if (path.isEmpty) "/" else path
    val kept = extract(QueryOf, s).split("&", -1)
      .filter(q => !Tracking.matcher(q).find() && q.nonEmpty)
    val normQuery = if (kept.isEmpty) "" else kept.mkString("?", "&", "")
    val portPart =
      if (port == null || (scheme == "http" && port.intValue == 80) ||
        (scheme == "https" && port.intValue == 443)) ""
      else ":" + port
    // an IP literal is its own "site": no public-suffix rule applies
    val domain =
      if (isV6) host else PublicSuffix.registrable(host, PublicSuffix.bundled)
    new GenericInternalRow(Array[Any](utf8(scheme), utf8(host), port,
      utf8(normPath), utf8(domain),
      utf8(scheme + "://" + host + portPart + normPath + normQuery)))
  }

  /** [[ResolveUrl]]'s value; null for a null or non-fetchable `link`. */
  def resolve(base: UTF8String, link: UTF8String): UTF8String = {
    if (link == null) return null
    // [\s\S], not `.`: a multi-line href must not keep its fragment
    val ref = replace(Fragment, link.trim().toString, "")
    if (ref.isEmpty) return null
    val scheme = extract(LinkScheme, ref).toLowerCase(java.util.Locale.ROOT)
    // an absolute http(s) reference needs no base (§5.2.2)
    if (scheme == "http" || scheme == "https") return absolute(ref)
    if (scheme.nonEmpty || base == null) return null
    val b = base.toString
    val origin = extract(Origin, b)
    if (origin.isEmpty) return null
    if (ref.startsWith("//")) return absolute(extract(Scheme, b) + ":" + ref)
    val basePath = extract(OriginPath, b)
    if (ref.startsWith("?"))
      return utf8(origin + (if (basePath.isEmpty) "/" else basePath) + ref)
    val relPath = extract(RelPath, ref)
    val merged =
      if (relPath.startsWith("/")) relPath
      else if (basePath.isEmpty) "/" + relPath
      else replace(LastSegment, basePath, "/") + relPath
    utf8(origin + removeDots(merged) + extract(Query, ref))
  }

  /** An absolute target: the path is cleaned, origin and query pass
    * through. No `scheme://authority` (`http:g`, `https:/p`, `///p`) is not
    * a fetchable URL, so it resolves to null. */
  private def absolute(target: String): UTF8String = {
    val origin = extract(Origin, target)
    if (origin.isEmpty) null
    else utf8(origin + removeDots(extract(TargetPath, target)) +
      extract(Query, target))
  }

  /** §5.2.4 by a bounded unroll; every branch's path goes through it, so a
    * dotted absolute spelling cannot evade a robots prefix rule. `(?!../)`
    * keeps ".." itself from being the consumed segment. */
  private def removeDots(path: String): String = {
    var s = path
    var i = 0
    while (i < 4) { s = replace(Dot, s, "/"); i += 1 }
    s = replace(DotEnd, s, "/")
    i = 0
    while (i < 8) { s = replace(DotDot, s, "/"); i += 1 }
    s = replace(DotDotEnd, s, "/")
    replace(AboveRoot, s, "/")
  }
}

/** Parse + normalize of a URL string into [[Urls.NormalizedType]]; never
  * null itself. Codegen is one call into [[Urls.normalize]]. */
case class NormalizeUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Urls.NormalizedType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_normalize_url"

  private lazy val icu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): Any =
    Urls.normalize(child.eval(input).asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.Urls.normalize(
        ${c.isNull} ? null : ${c.value}, $icu);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** RFC 3986 §5 resolution of `link` against the absolute URL `base`. A null
  * `base` still resolves an absolute http(s) link; a null `link` is null.
  * Codegen is one call into [[Urls.resolve]]. */
case class ResolveUrl(base: Expression, link: Expression) extends BinaryExpression {

  override def left: Expression = base
  override def right: Expression = link
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_resolve_url"

  override def checkInputDataTypes(): TypeCheckResult =
    if (base.dataType == StringType && link.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING " +
      s"children, got ${base.dataType.simpleString}, ${link.dataType.simpleString}")

  override def eval(input: InternalRow): Any =
    Urls.resolve(base.eval(input).asInstanceOf[UTF8String],
      link.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = base.genCode(ctx)
    val l = link.genCode(ctx)
    ev.copy(code = code"""
      ${b.code}
      ${l.code}
      UTF8String ${ev.value} = graft.functions.Urls.resolve(
        ${b.isNull} ? null : ${b.value}, ${l.isNull} ? null : ${l.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(base = newLeft, link = newRight)
}
