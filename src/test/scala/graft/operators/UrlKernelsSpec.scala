package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential test: the byte-scan URL kernels
  * ([[graft.functions.UrlCanonUtil]]) must match the regex Column
  * programs they replaced ([[UrlOps.canonicalizeUrlSpec]] et al. — the
  * formulation the DuckDB oracle replays) byte-for-byte, on adversarial
  * construction and on deterministic fuzz. Both sides run THROUGH Spark
  * (same cast/null/codegen paths the queries use).
  */
class UrlKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val adversarial: Seq[String] = Seq(
    null, "", " ", "http://", "https://", "http://x", "HTTP://EX.COM:80/a/./b/../c?id=1&utm_x=2#f",
    "https://Ex.Com:443/", "https://ex.com:0443/", "http://ex.com:0080/x", "http://ex.com:000/",
    "http://ex.com:0/", "http://ex.com:/x", "http://ex.com:80x/", "http://a:1:2/p",
    "http://[::1]:443/x", "https://[::1]:443/x", "http://[::1]:/", "http://ex.com:8080",
    // path shapes, including ones past the fixed pass bounds
    "http://e/", "http://e", "http://e//", "http://e///a//b//", "http://e/.", "http://e/..",
    "http://e/./", "http://e/../", "http://e/a/./b", "http://e/a/../b", "http://e/a/b/../../c",
    "http://e/../../../..", "http://e/a/../../../b", "http://e/...", "http://e/..a/../b",
    "http://e/.a/./", "http://e/a/.", "http://e/a/..", "http://e/a/b/..",
    "http://e/" + ("./" * 9) + "x", "http://e" + "/x/.." * 10 + "/y",
    "http://e" + "/.." * 10, "http://e/" + ".." * 5, "http://e/a" + "/.." * 9,
    "http://e/.../../x", "http://e/..../x", "http://e/a/..../../b", "http://e/%2e%2e/x",
    "http://e/a/./../b", "http://e/a/.././b", "http://e/./../x", "http://e/a//../b",
    "http://e//../a", "http://e/a/b/c/../../../../d", "http://e/a b/c", "http://e/a/../",
    // query shapes
    "http://e/p?", "http://e/p?#", "http://e/p?a=1&utm_source=x&b=2", "http://e/p?utm_",
    "http://e/p?utm_=", "http://e/p?ref", "http://e/p?ref=", "http://e/p?refs=1",
    "http://e/p?gclid", "http://e/p?gclid=x&fbclid", "http://e/p?&&", "http://e/p?a&&b",
    "http://e/p?a=1&", "http://e/p?&a=1", "http://e/p?utm_a=1&utm_b=2&utm_c=3",
    "http://e/p?UTM_X=1", "http://e/p?Ref=1", "http://e?q=1", "http://e#f", "http://e/#f",
    "http://e/p#f?notquery", "http://e/p?q#f?g", "http://e/p??a", "http://e/p?a==b&=c",
    // scheme / structure
    "ftp://x/", "a+b-c.1://host/x", "Http://H/P", "x://", "http:/x", "http:x", "//x", "?x",
    "#x", "some/relative/path", "http://#", "http://?q", "http://:80/", "http://:0/",
    "HTTPS://A.B.C.", "https://a.b.c./x", "mailto:a@b", "javascript:void(0)", "data:text/plain,x",
    "1http://e/", "+http://e/", "ht~tp://e/", "http//e", "http:e", ":", "://", "a://b:c@d/e",
    // unicode hosts / paths (Lower's non-ASCII fallback)
    "http://ÉXÅMPLE.com/π?utm_x=1", "HTTP://STRASSE-ẞ.de/", "http://İstanbul.example/yol",
    "http://пример.рф:80/путь/./x", "https://例え.テスト/パス?ref=1", "http://e/emoji/🦀/../x",
    // registered-domain shapes ride through urlHost fuzz below too
    "http://a.b.c.d/", "http://singlelabel/", "http://.hidden/", "http://trailing./",
    "http://a..b/", "http://..x/", "http://x../")

  private def structuredFuzz(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(421302L)
    val schemes = Seq("http", "https", "HTTP", "Https", "ftp", "a+b", "h1-x.", "")
    val seps = Seq("://", ":", "", "//")
    val hosts = Seq("ex.com", "EX.com:8080", "a..b", "", ":80", "A.B.C", "a.b.c.", "h:0080",
      "h:", "h:x9", "[::1]:443", "ПрИмер.рф", "e")
    val segs = Seq("a", "..", ".", "...", "..x", ".y", "", "a b", "B", "%2e", "..a..")
    val toks = Seq("utm_a", "utm_", "ref", "ref=1", "refs=1", "gclid", "fbclid=2", "a=1", "",
      "b", "UTM_x", "gclid=", "x&y")
    (0 until n).map { _ =>
      val b = new StringBuilder
      b ++= schemes(rnd.nextInt(schemes.size))
      b ++= seps(rnd.nextInt(seps.size))
      b ++= hosts(rnd.nextInt(hosts.size))
      val nSeg = rnd.nextInt(7)
      (0 until nSeg).foreach { _ =>
        b += '/'
        if (rnd.nextInt(5) == 0) b += '/'
        b ++= segs(rnd.nextInt(segs.size))
      }
      if (rnd.nextInt(3) == 0) {
        b += '?'
        val nTok = rnd.nextInt(4)
        b ++= (0 until nTok).map(_ => toks(rnd.nextInt(toks.size))).mkString("&")
        if (rnd.nextInt(4) == 0) b += '&'
      }
      if (rnd.nextInt(4) == 0) { b += '#'; b ++= "frag?x/./y" }
      b.toString
    }
  }

  private def charFuzz(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(911302L)
    val alpha = "abAB:/?#.&=%_-0189é° \u0130\ufffd🦀"
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      val b = new StringBuilder
      (0 until len).foreach(_ => b += alpha.charAt(rnd.nextInt(alpha.length)))
      b.toString
    }
  }

  private lazy val inputs =
    (adversarial ++ structuredFuzz(2500) ++ charFuzz(1500)).distinct

  private def mismatches(kernel: org.apache.spark.sql.Column,
      spec: org.apache.spark.sql.Column): Seq[(String, String, String)] =
    inputs.toDF("u")
      .select(col("u"), kernel.as("k"), spec.as("s"))
      .filter(!(col("k") <=> col("s")))
      .collect()
      .toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))

  test("canonicalizeUrl kernel == regex spec on adversarial + fuzz") {
    val bad = mismatches(UrlOps.canonicalizeUrl(col("u")), UrlOps.canonicalizeUrlSpec(col("u")))
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5)}")
  }

  test("urlHost kernel == regex spec") {
    val bad = mismatches(UrlOps.urlHost(col("u")), UrlOps.urlHostSpec(col("u")))
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5)}")
  }

  test("urlScheme kernel == regex spec") {
    val bad = mismatches(UrlOps.urlScheme(col("u")), UrlOps.urlSchemeSpec(col("u")))
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5)}")
  }

  test("registeredDomain kernel == regex spec (over fuzz and extracted hosts)") {
    // feed both raw fuzz strings AND realistic hosts (what hostRollup feeds it)
    val hosts = inputs.filter(_ != null).map(u =>
      u.replaceAll("^[A-Za-z][A-Za-z0-9+.-]*://", "").takeWhile(c => c != '/' && c != '?' && c != '#'))
    val all = (inputs ++ hosts).distinct
    val bad = all.toDF("u")
      .select(col("u"), UrlOps.registeredDomain(col("u")).as("k"),
        UrlOps.registeredDomainSpec(col("u")).as("s"))
      .filter(!(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5).toSeq}")
  }

  test("schemeKind kernel == the two rlike prefix tests") {
    val kind = UrlOps.urlSchemeKind(col("u"))
    // null-preserving like the kernel: in resolvedHref's when-chain a
    // null href falls through both rlike branches either way (null
    // condition == not taken), so the chain is equivalent; the bare
    // kind value only differs AT null, which the chain never observes
    val specKind = when(col("u").isNull, lit(null))
      .when(col("u").rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), 2)
      .when(col("u").rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), 1)
      .otherwise(0)
    val bad = inputs.toDF("u")
      .select(col("u"), kind.as("k"), specKind.as("s"))
      .filter(!(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5).toSeq}")
  }

  test("normalizePath util == regex normalizePath Column on raw paths") {
    // normalizePath is only reachable through canonicalizeUrl (path
    // always "" or '/'-initial there) but the util is exercised on
    // arbitrary strings here to pin the pass-for-pass simulation
    val paths = inputs.filter(_ != null).map { u =>
      val i = u.indexOf("://")
      if (i >= 0) u.substring(i + 3).dropWhile(c => c != '/' && c != '?' && c != '#')
        .takeWhile(c => c != '?' && c != '#')
      else u.takeWhile(c => c != '?' && c != '#')
    } ++ Seq("", "/", "a/../b", "./x", "../x", "x/..", ".", "..", "a//b/./../c")
    val all = paths.distinct
    val kernel = udf((p: String) => graft.functions.UrlCanonUtil.normalizePath(p))
    val bad = all.toDF("p")
      .select(col("p"), kernel(col("p")).as("k"), UrlOps.normalizePath(col("p")).as("s"))
      .filter(!(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"first mismatches: ${bad.take(5).toSeq}")
  }
}
