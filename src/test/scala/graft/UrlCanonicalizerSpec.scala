package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.UrlCanonicalizer._

class UrlCanonicalizerSpec extends AnyFunSuite {

  /** scalatestplus isn't in the offline cache — drive ScalaCheck Gens
    * directly with fixed seeds (deterministic, no wall clock).
    */
  private def forAll[A](gen: Gen[A], n: Int = 300)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  test("north-rule semantics: lowercase host, strip fragment/utm, sort query") {
    assert(canonicalize("HTTPS://WWW.Example.COM/a/b?z=1&a=2#frag") ===
      "https://www.example.com/a/b?a=2&z=1")
    assert(canonicalize("http://Host.com/p?utm_source=x&utm_medium=y&id=3") ===
      "http://host.com/p?id=3")
    assert(canonicalize("https://h.com/p?fbclid=abc&gclid=q&b=1") ===
      "https://h.com/p?b=1")
    assert(canonicalize("https://h.com#only-frag") === "https://h.com/")
    assert(canonicalize("https://h.com:443/x") === "https://h.com/x")
    assert(canonicalize("http://h.com:80/x") === "http://h.com/x")
    assert(canonicalize("https://h.com:8443/x") === "https://h.com:8443/x")
    // path case is preserved; only scheme+host fold
    assert(canonicalize("https://H.com/CaseSensitive/Path") ===
      "https://h.com/CaseSensitive/Path")
    // non-absolute inputs pass through trimmed (total function, never throws)
    assert(canonicalize("  not a url  ") === "not a url")
    assert(canonicalize("") === "")
    assert(canonicalize(null) === null)
    // query with only tracking params drops the '?' entirely
    assert(canonicalize("https://h.com/p?utm_source=x") === "https://h.com/p")
  }

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "HtTpS")
    host <- Gen.oneOf("Example.com", "WWW.NEWS.example.ORG", "a.b.c.example")
    path <- Gen.listOfN(2, Gen.alphaNumStr.map(_.take(6))).map(_.mkString("/", "/", ""))
    params <- Gen.listOf(Gen.zip(
      Gen.oneOf("id", "lang", "q", "utm_source", "utm_campaign", "page"),
      Gen.alphaNumStr.map(_.take(4))))
    frag <- Gen.oneOf("", "#x", "#frag-2")
  } yield {
    val q = if (params.isEmpty) "" else
      "?" + params.map { case (k, v) => s"$k=$v" }.mkString("&")
    s"$scheme://$host$path$q$frag"
  }

  test("idempotence: canonicalize(canonicalize(u)) == canonicalize(u)") {
    forAll(urlGen) { u =>
      val once = canonicalize(u)
      assert(canonicalize(once) === once)
    }
  }

  test("canonical form never contains fragments, utm params, or upper-case host") {
    forAll(urlGen) { u =>
      val c = canonicalize(u)
      assert(!c.contains("#"))
      assert(!c.toLowerCase.contains("utm_"))
      assert(hostOf(c) === hostOf(c).toLowerCase)
    }
  }

  test("query-order invariance: permuted params canonicalize identically") {
    val a = canonicalize("https://h.com/p?b=2&a=1&c=3")
    val b = canonicalize("https://h.com/p?c=3&b=2&a=1")
    val c = canonicalize("https://h.com/p?a=1&c=3&b=2")
    assert(a === b)
    assert(b === c)
  }

  test("fixture occurrence-invariance: same article, any dirtiness, one canonical") {
    // FIXTURES.md §2: dirtyUrl varies case/param-order/tracking per
    // OCCURRENCE but canonical identity is ARTICLE-keyed
    for (src <- 0 until 5; g <- 0L until 20L) {
      val canon = (0L until 6L)
        .map(k => canonicalize(graft.model.Fixtures.dirtyUrl(src, g, k)))
        .distinct
      assert(canon.size === 1, s"src=$src g=$g: $canon")
    }
  }

  test("percent-encoding case normalization (RFC 3986 §6.2.2.1): escapes " +
      "uppercase in path and query; malformed escapes pass through") {
    assert(canonicalize("https://h.com/a%2fb%3A?x=%e4%Bd%a0") ===
      "https://h.com/a%2Fb%3A?x=%E4%BD%A0")
    // spelling equivalence: %2f and %2F dedup to one canonical
    assert(canonicalize("https://h.com/a%2fb") ===
      canonicalize("https://h.com/a%2Fb"))
    // normalized spelling drives the SORT: '%3A' < '%3a' would reorder
    assert(canonicalize("https://h.com/p?b=%3a&a=1") ===
      "https://h.com/p?a=1&b=%3A")
    // stray '%' (no two hex digits) is untouched — total, never throws
    assert(canonicalize("https://h.com/100%?x=5%") ===
      "https://h.com/100%?x=5%")
    assert(canonicalize("https://h.com/a%zz") === "https://h.com/a%zz")
    // non-escape text is untouched (letters that happen to be hex)
    assert(canonicalize("https://h.com/cafe2f") === "https://h.com/cafe2f")
  }

  test("IDN hosts map to punycode ACE (RFC 3490); ASCII and punycode " +
      "inputs are fixed points") {
    assert(canonicalize("https://BÜCHER.example.com/x") ===
      "https://xn--bcher-kva.example.com/x")
    assert(canonicalize("https://münchen.de/straße") ===
      "https://xn--mnchen-3ya.de/straße") // path is NOT host-mapped
    // unicode and its ACE spelling dedup to the same canonical
    assert(canonicalize("https://bücher.example.com/x") ===
      canonicalize("https://xn--bcher-kva.example.com/x"))
    // port survives the mapping, default port still strips after it
    assert(canonicalize("https://bücher.example.com:8443/x") ===
      "https://xn--bcher-kva.example.com:8443/x")
    assert(canonicalize("https://bücher.example.com:443/x") ===
      "https://xn--bcher-kva.example.com/x")
    // mixed-script label that IDN cannot map keeps its lowercased form
    // (totality: the frontier keeps the row, fetch surfaces the error)
    val hostile = "https://a‍b.example.com/x" // zero-width joiner
    assert(canonicalize(hostile) != null)
    assert(canonicalize(canonicalize(hostile)) === canonicalize(hostile))
  }

  test("idempotence holds across the adversarial classes (ports, " +
      "escapes, IDN)") {
    val cases = Seq(
      "HTTPS://BÜCHER.Example.COM:443/a%2fb?t=%3adoc&utm_source=x#f",
      "http://MÜNCHEN.DE:80/p?z=%2F&a=%2f",
      "https://h.com:443/%e4%bd%a0?id=1",
      "https://xn--bcher-kva.com/a%2Fb?x=%3A")
    cases.foreach { u =>
      val once = canonicalize(u)
      assert(canonicalize(once) === once, s"not idempotent for $u → $once")
    }
  }

  test("hostOf / pathOf decompose canonical urls") {
    assert(hostOf("https://news.example.com/a/b?x=1") === "news.example.com")
    assert(pathOf("https://news.example.com/a/b?x=1") === "/a/b")
    assert(pathOf("https://news.example.com") === "/")
    assert(hostOf("https://h.com:8443/x") === "h.com")
  }

  test("scheme-relative //host/path: no scheme to anchor on, so only the " +
      "fragment strips — host case and query order stay as given") {
    // link extraction resolves a scheme-relative href against its page's
    // scheme; the canonicalizer alone cannot pick one
    val u = "//News.Example.COM/a/b?z=1&utm_source=x#frag"
    val once = canonicalize(u)
    assert(once === "//News.Example.COM/a/b?z=1&utm_source=x")
    assert(canonicalize(once) === once)
  }

  test("query value mixing escape case and plus-as-space: hex digits " +
      "upper-case, '+' and an escaped '%2B' stay distinct, keys sort") {
    val u = "https://h.com/s?q=Caf%c3%a9+au+lait%2b1&lang=fr&utm_medium=x"
    val once = canonicalize(u)
    assert(once === "https://h.com/s?lang=fr&q=Caf%C3%A9+au+lait%2B1")
    assert(canonicalize(once) === once)
    // the same value spelled with upper-case escapes is the same URL
    assert(canonicalize(
      "https://h.com/s?lang=fr&q=Caf%C3%A9+au+lait%2B1") === once)
  }
}
