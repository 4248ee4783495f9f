package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Idn, PublicSuffix}

/** The URL parse/normalize and RFC 3986 resolution as the Column chains of
  * regex expressions they were before [[graft.functions.NormalizeUrl]] and
  * [[graft.functions.ResolveUrl]] replaced them: the reference
  * implementation the differential spec compares the compiled expressions
  * against. Kept as written, including the two behaviours the expressions
  * fix (authority-less http(s) links resolve to leftovers; an oversize port
  * fails the cast under ANSI mode). */
object UrlChainOracle {

  val TrackingParamPattern = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"

  private def schemeOf(url: Column): Column =
    regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)

  private def hostPortOf(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)

  private def pathOf(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  private def queryOf(url: Column): Column =
    regexp_extract(url, "\\?([^#]*)", 1)

  def registeredDomain(host: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      RegisteredDomain(org.apache.spark.sql.graftbridge.expression(host)))

  def idnAscii(host: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      IdnAscii(org.apache.spark.sql.graftbridge.expression(host)))

  def parseNormalize(url: Column): Column = {
    val scheme = lower(schemeOf(url))
    // userinfo ("user:pass@") is stripped BEFORE the host/port split —
    // otherwise the first-colon split reads "user" as the host, so the
    // blocklist gate is bypassable via "http://u@spam-mirror.net/" and
    // dedup/domains key on garbage (advisor r8, medium). Normalization
    // drops userinfo from url_norm: two fetches of the same resource under
    // different credentials ARE the same page for dedup purposes.
    val hostPort = regexp_replace(hostPortOf(url), "^[^/@]*@", "")
    // IPv6 bracket literals ("[2001:db8::1]:8080"): the address lives in
    // brackets and the port comes after "]:" — the first-colon split would
    // otherwise read "[2001" as the host. The host keeps its brackets (the
    // URI authority form, so url_norm reconstructs verbatim); hex compares
    // byte-wise after lowercasing — no RFC 5952 canonicalization (the
    // exact-tier convention; "::1" vs "0:0:0:0:0:0:0:1" stay distinct).
    val isV6 = substring(hostPort, 1, 1) === "["
    val rawHost = when(isV6,
        concat(lit("["),
          lower(regexp_extract(hostPort, "^\\[([^\\]]*)\\]", 1)), lit("]")))
      .otherwise(lower(regexp_extract(hostPort, "^([^:]*)", 1)))
    val portStr = when(isV6,
        regexp_extract(hostPort, "^\\[[^\\]]*\\]:([0-9]+)$", 1))
      .otherwise(regexp_extract(hostPort, ":([0-9]+)$", 1))
    val port = when(portStr === "", lit(null).cast("int"))
      .otherwise(portStr.cast("int"))
    // IDN: unicode labels collapse to their xn-- wire form so both
    // spellings of a host key the same page (ASCII hosts — including the
    // bracket-literal form — pass through on a one-char-scan fast path)
    val host = idnAscii(regexp_replace(rawHost, "^www\\.", ""))
    val path = pathOf(url)
    val normPath = when(path === "", "/").otherwise(path)
    val keptParams = filter(split(queryOf(url), "&"),
      p => !(p.rlike(TrackingParamPattern)) && p =!= "")
    val normQuery = when(size(keptParams) > 0,
      concat(lit("?"), array_join(keptParams, "&"))).otherwise("")
    val defaultPort = (scheme === "http" && port === 80) ||
      (scheme === "https" && port === 443)
    val portPart = when(port.isNull || defaultPort, "")
      .otherwise(concat(lit(":"), port.cast("string")))
    struct(
      scheme.as("scheme"), host.as("host"), port.as("port"),
      normPath.as("path"),
      // an IP literal is its own "site" — no public-suffix rule applies,
      // so domain-keyed caps/blocklists treat the address as the domain
      when(isV6, host).otherwise(registeredDomain(host))
        .as("registered_domain"),
      concat(scheme, lit("://"), host, portPart, normPath, normQuery)
        .as("url_norm"))
  }

  def resolveUrl(base: Column, link: Column): Column = {
    // newline-tolerant strips throughout ([\s\S], not .): a multi-line
    // href attribute value must not smuggle its fragment past the strip
    val noFrag = regexp_replace(trim(link), "#[\\s\\S]*", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.\\-]*):", 1))
    val origin = regexp_extract(base,
      "^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+)", 1)
    val baseScheme = regexp_extract(base,
      "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1)
    val basePath = regexp_extract(base,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+([^?#]*)", 1)
    // §5.2.4 dot-segment removal, bounded unroll, applied to EVERY
    // branch's path — absolute links included: a dotted spelling
    // (https://x.com/a/../secret/) must not evade a robots prefix rule or
    // duplicate a frontier row the clean spelling already owns. The
    // /seg/../ collapse must not treat ".." itself as the consumed
    // segment — hence the Java lookahead (RE2-less DuckDB never evaluates
    // this: the fixture's links are dotless, so removal is identity there
    // and the oracle states the origin+path concatenation directly — the
    // engine still earns it through this general path).
    def removeDots(p: Column): Column = {
      val dots1 = (1 to 4).foldLeft(p)((c, _) =>
        regexp_replace(c, "/\\./", "/"))
      val dots2 = regexp_replace(dots1, "/\\.$", "/")
      val dots3 = (1 to 8).foldLeft(dots2)((c, _) =>
        regexp_replace(c, "/(?!\\.\\./)[^/]+/\\.\\./", "/"))
      val dots4 = regexp_replace(dots3, "/(?!\\.\\./)[^/]+/\\.\\.$", "/")
      regexp_replace(dots4, "^(/\\.\\.)+(/|$)", "/")
    }
    // absolute target (an absolute http(s) link, or a protocol-relative
    // one re-anchored on the base scheme): decompose, clean the path,
    // reassemble — origin and query pass through untouched
    def absClean(target: Column): Column = {
      val o = regexp_extract(target,
        "^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+)", 1)
      val p = regexp_extract(target,
        "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+([^?]*)", 1)
      val q = regexp_extract(target, "(\\?[\\s\\S]*)$", 1)
      concat(o, removeDots(p), q)
    }
    // the base's directory: path up to and including the last slash; an
    // origin-only base resolves relatives against "/"
    val baseDir = when(basePath === "", lit("/"))
      .otherwise(regexp_replace(basePath, "/[^/]*$", "/"))
    val relPath = regexp_extract(noFrag, "^([^?]*)", 1)
    val relQuery = regexp_extract(noFrag, "(\\?[\\s\\S]*)$", 1)
    val mergedPath = when(relPath.startsWith("/"), relPath)
      .otherwise(concat(baseDir, relPath))
    when(noFrag === "", lit(null).cast("string"))
      // an absolute http(s) reference needs no base at all (§5.2.2) — it
      // resolves even when the recorded fetch URL is malformed
      .when(scheme === "http" || scheme === "https", absClean(noFrag))
      .when(scheme =!= "", lit(null).cast("string"))
      // every relative form below needs an absolute base to anchor on
      .when(origin === "", lit(null).cast("string"))
      .when(noFrag.startsWith("//"),
        absClean(concat(baseScheme, lit(":"), noFrag)))
      .when(noFrag.startsWith("?"),
        concat(origin, when(basePath === "", "/").otherwise(basePath), noFrag))
      .otherwise(concat(origin, removeDots(mergedPath), relQuery))
  }
}

/** Codegen'd IDN-to-ASCII column over a lowercased host string — the
  * per-row work is one ASCII scan unless the host actually carries unicode
  * ([[Idn.toAscii]]). */
case class IdnAscii(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_idn_ascii"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.simpleString}")

  def convert(s: UTF8String): UTF8String = {
    val raw = s.toString
    val out = Idn.toAscii(raw)
    if (out eq raw) s else UTF8String.fromString(out)
  }

  override def nullSafeEval(s: Any): Any = convert(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idn", this, classOf[IdnAscii].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.convert($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd registrable-domain column over a lowercased host string —
  * probes the JVM-singleton [[PublicSuffix.bundled]] table (see the object
  * doc for why that is the right broadcast shape for a with-the-jar
  * artifact). */
case class RegisteredDomain(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_registered_domain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.simpleString}")

  def lookup(s: UTF8String): UTF8String =
    UTF8String.fromString(
      PublicSuffix.registrable(s.toString, PublicSuffix.bundled))

  override def nullSafeEval(s: Any): Any = lookup(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("psl", this, classOf[RegisteredDomain].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.lookup($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
