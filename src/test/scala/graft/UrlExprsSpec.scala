package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.UrlOps

/** The compiled URL expressions ([[graft.functions.NormalizeUrl]],
  * [[graft.functions.ResolveUrl]]) against the regex Column chains they
  * replaced ([[UrlChainOracle]]) on generated URLs, plus the RFC 3986 §5.4
  * examples and a whole-stage codegen regression. */
class UrlExprsSpec extends SparkSpec {

  private val Samples = 12000

  private val ws = Gen.frequency(8 -> "", 1 -> " ", 1 -> "  ", 1 -> "\t",
    1 -> "\n")
  private val scheme = Gen.oneOf("http", "https", "HTTP", "HtTpS", "ftp",
    "h2+x.y-z", "mailto", "1http")
  private val userinfo = Gen.frequency(6 -> "", 1 -> "user@", 1 -> "u:p@",
    1 -> "a@b@", 1 -> "@")
  private val label = Gen.oneOf("example", "Foo", "a-b", "bücher", "пример",
    "例", "xn--e1afmkfd", "spam-mirror", "ÇA", "x")
  private val tld = Gen.oneOf(".com", ".co.uk", ".ck", ".jp", ".net",
    ".kawasaki.jp", "", ".")
  private val host = Gen.frequency(
    8 -> (for {
      www <- Gen.oneOf("", "", "www.", "WWW.", "blog.")
      n <- Gen.choose(1, 3)
      ls <- Gen.listOfN(n, label)
      t <- tld
    } yield www + ls.mkString(".") + t),
    2 -> Gen.oneOf("[2001:DB8::1]", "[::1]", "[fe80::1%25eth0]", "[2001:db8",
      "[]", "127.0.0.1"),
    1 -> Gen.const(""))
  // every port fits an Int: an oversize one fails the chain's cast under
  // ANSI mode (OpsSpec "oversize port" covers that class)
  private val port = Gen.frequency(6 -> "", 1 -> ":80", 1 -> ":443",
    1 -> ":8080", 1 -> ":0", 1 -> ":00080", 1 -> ":2147483647", 1 -> ":",
    1 -> ":abc", 1 -> ":65535")
  private val segment = Gen.frequency(4 -> "a", 2 -> "b", 3 -> "..", 2 -> ".",
    1 -> "", 1 -> "c.d", 1 -> "...", 1 -> "casino", 1 -> "%7Eu", 1 -> "a b",
    1 -> "g;x=1")
  private val relPath = for {
    n <- Gen.choose(0, 12)
    segs <- Gen.listOfN(n, segment)
  } yield segs.mkString("/")
  private val path = Gen.frequency(2 -> Gen.const(""), 1 -> Gen.const("/"),
    6 -> relPath.map("/" + _))
  private val param = Gen.oneOf("a=1", "utm_source=x", "utm_=", "fbclid=1",
    "gclid", "", "id=7", "x=\n", "b=?", "FBCLID=2")
  private val query = Gen.frequency(3 -> Gen.const(""), 1 -> Gen.const("?"),
    5 -> (for {
      n <- Gen.choose(1, 4)
      ps <- Gen.listOfN(n, param)
    } yield ps.mkString("?", "&", "")))
  private val fragment = Gen.frequency(5 -> "", 1 -> "#f", 1 -> "#a?b=1",
    1 -> "#", 1 -> "#s/../x")

  private val url: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.oneOf("not-a-url", "", "http://", "https:///p", "//h/p",
      "?q=1", "#frag"),
    18 -> (for {
      w1 <- ws; s <- scheme; sep <- Gen.frequency(8 -> "://", 1 -> ":", 1 -> "")
      u <- userinfo; h <- host; p <- port; pa <- path; q <- query
      f <- fragment; w2 <- ws
    } yield w1 + s + sep + u + h + p + pa + q + f + w2))

  private val link: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    2 -> Gen.oneOf("", "#x", "mailto:x@y.example", "javascript:void(0)",
      "data:,", "tel:1", "c:\\x", "//", "///p", "//?q", "?", "?q=1#f",
      "http:g", "https:/p", "HTTP:x?q=1", "http://", "http:///p"),
    6 -> url,
    3 -> (for { h <- host; p <- port; pa <- path; q <- query; f <- fragment }
      yield "//" + h + p + pa + q + f),
    8 -> (for {
      w1 <- ws; lead <- Gen.oneOf("", "", "/", "./", "../", "../../")
      r <- relPath; q <- query; f <- fragment; w2 <- ws
    } yield w1 + lead + r + q + f + w2),
    // nesting around the 8-hop bound of the dot-segment unroll
    2 -> (for {
      lead <- Gen.oneOf("", "/"); n <- Gen.choose(0, 12); m <- Gen.choose(0, 12)
      tail <- Gen.oneOf("g", "", "..", ".")
    } yield lead + "a/" * n + "../" * m + tail))

  private val base: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf(null: String, "not-a-url", "http://",
      "https://h.example:8080/a/b/c?x=1#frag", "http://a/b/c/d;p?q",
      "ftp://files.example/pub/"),
    6 -> url)

  private def draw[T](g: Gen[T], seed: Long): Seq[T] =
    Gen.listOfN(Samples, g).pureApply(Gen.Parameters.default, Seed(seed))

  private val Authority = "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+".r

  /** The resolver fix class: an http(s) link (or a protocol-relative one)
    * with no `scheme://authority`, which the chain resolved to leftovers. */
  private def authorityLess(link: String): Boolean = {
    val ref = link.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .replaceAll("#[\\s\\S]*", "")
    val lower = ref.toLowerCase(java.util.Locale.ROOT)
    if (lower.startsWith("http:") || lower.startsWith("https:"))
      Authority.findPrefixOf(ref).isEmpty
    else ref.startsWith("//") && Authority.findPrefixOf("x:" + ref).isEmpty
  }

  test("NormalizeUrl equals the regex chain on generated URLs") {
    val spark2 = spark; import spark2.implicits._
    val urls = draw(url, 20261017L)
    // an RDD, not a LocalRelation: the optimizer would fold a local relation
    // through the interpreted eval; this way both sides run generated code
    val got = spark.sparkContext.parallelize(urls, 4).toDF("url")
      .select(col("url"), UrlOps.parseNormalize(col("url")).as("e"),
        UrlChainOracle.parseNormalize(col("url")).as("c"))
      .collect()
    assert(got.length == Samples)
    val diffs = got.filter(r => r.get(1) != r.get(2))
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
    // the grammar reaches every branch: nulls, IPv6, IDN, tracking strips
    assert(urls.count(_ == null) > 100)
    assert(got.count(r => Option(r.getStruct(1).getString(1))
      .exists(_.startsWith("["))) > 100)
    assert(got.count(r => Option(r.getStruct(1).getString(1))
      .exists(_.contains("xn--"))) > 100)
    assert(urls.count(u => u != null && u.contains("utm_")) > 100)
  }

  test("ResolveUrl equals the regex chain except on authority-less links") {
    val spark2 = spark; import spark2.implicits._
    val pairs = draw(base, 7L).zip(draw(link, 11L))
    val got = spark.sparkContext.parallelize(pairs, 4).toDF("base", "link")
      .select(col("base"), col("link"),
        UrlOps.resolveUrl(col("base"), col("link")).as("e"),
        UrlChainOracle.resolveUrl(col("base"), col("link")).as("c"))
      .collect()
    assert(got.length == Samples)
    val (fixed, same) = got.partition(r => r.get(2) != r.get(3))
    // the one allowed difference: the chain's leftover (no authority) is
    // null now, and only for authority-less http(s) links
    fixed.foreach { r =>
      assert(r.isNullAt(2) && Authority.findPrefixOf(r.getString(3)).isEmpty &&
        authorityLess(r.getString(1)), r.toString)
    }
    assert(fixed.length > 50, s"${fixed.length} authority-less samples")
    assert(same.count(!_.isNullAt(2)) > Samples / 4)
    assert(pairs.count(_._1 == null) > 100 && pairs.count(_._2 == null) > 100)
  }

  test("ResolveUrl follows the RFC 3986 §5.4 examples") {
    val spark2 = spark; import spark2.implicits._
    // §5.4.1 normal and §5.4.2 abnormal examples, base http://a/b/c/d;p?q,
    // fragments stripped. Differences from the RFC text, all by design: "g:h"
    // and "http:g" are not fetchable http(s) URLs (null), and "" and "#s"
    // are same-document references, which are not frontier candidates.
    val cases = Seq(
      "g:h" -> null, "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g", "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y", "g?y" -> "http://a/b/c/g?y",
      "#s" -> null, "g#s" -> "http://a/b/c/g", "g?y#s" -> "http://a/b/c/g?y",
      ";x" -> "http://a/b/c/;x", "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y", "" -> null,
      "." -> "http://a/b/c/", "./" -> "http://a/b/c/", ".." -> "http://a/b/",
      "../" -> "http://a/b/", "../g" -> "http://a/b/g", "../.." -> "http://a/",
      "../../" -> "http://a/", "../../g" -> "http://a/g",
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y", "g;x=1/../y" -> "http://a/b/c/y",
      "g?y/./x" -> "http://a/b/c/g?y/./x", "g?y/../x" -> "http://a/b/c/g?y/../x",
      "g#s/./x" -> "http://a/b/c/g", "g#s/../x" -> "http://a/b/c/g",
      "http:g" -> null)
    // a local relation, so this runs the expression's interpreted eval
    val got = cases.map(_._1).toDF("link")
      .select(col("link"),
        UrlOps.resolveUrl(lit("http://a/b/c/d;p?q"), col("link")).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (l, want) =>
      assert(got(l) == want, s"link '$l': got ${got(l)}, want $want")
    }
  }

  test("URL-heavy fixture queries compile whole-stage without a fallback") {
    // range, not a LocalRelation: local relations are folded by the
    // optimizer and never reach whole-stage codegen
    val docs = spark.range(0, 60, 1, 2).select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha beta gamma delta"), col("id").cast("string"))
        .as("text"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"),
      when(col("id") % 3 === 0, "news").otherwise("blog").as("source"))
    // a failed compile now throws instead of running the span interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      assert(UrlOps.webUrlCanonical(docs).collect().nonEmpty)
      assert(UrlOps.webUrlCanonicalChain(docs).collect().nonEmpty)
      assert(graft.ops.TextExtract.webOutlinks(docs).collect().length == 60 * 7)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
      graft.ops.CacheScope.releaseAll(spark)
    }
  }
}
