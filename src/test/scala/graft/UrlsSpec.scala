package graft

import graft.url.Urls
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class UrlsSpec extends AnyFunSuite {

  /** deterministic property loop (scalatestplus bridge isn't cached offline) */
  private def forAll[A](gen: Gen[A], n: Int = 300)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val base = "http://h0.test/p/5"

  test("absolute http kept, normalized") {
    assert(Urls.canonicalize(base, "HTTP://H1.Test:80/a/b") === Some("http://h1.test/a/b"))
    assert(Urls.canonicalize(base, "https://x.test:443/") === Some("https://x.test/"))
    assert(Urls.canonicalize(base, "https://x.test:8443/") === Some("https://x.test:8443/"))
  }

  test("relative forms resolve against base dir") {
    assert(Urls.canonicalize(base, "7") === Some("http://h0.test/p/7"))
    assert(Urls.canonicalize(base, "/p/9") === Some("http://h0.test/p/9"))
    assert(Urls.canonicalize(base, "../p/./3") === Some("http://h0.test/p/3"))
    assert(Urls.canonicalize(base, "../../../up") === Some("http://h0.test/up"))
  }

  test("protocol-relative takes base scheme") {
    assert(Urls.canonicalize(base, "//h2.test/p/1") === Some("http://h2.test/p/1"))
    assert(Urls.canonicalize("https://s.test/", "//h2.test/x") === Some("https://h2.test/x"))
  }

  test("fragment dropped; fragment-only resolves to the page itself") {
    assert(Urls.canonicalize(base, "#frag") === Some(base))
    assert(Urls.canonicalize(base, "7#frag") === Some("http://h0.test/p/7"))
    assert(Urls.canonicalize(base, "") === Some(base))
  }

  test("non-http schemes dropped") {
    assert(Urls.canonicalize(base, "mailto:a@b.test").isEmpty)
    assert(Urls.canonicalize(base, "javascript:void(0)").isEmpty)
    assert(Urls.canonicalize(base, "ftp://x.test/f").isEmpty)
  }

  test("empty path becomes /; query preserved; empty query dropped") {
    assert(Urls.canonicalize(base, "http://x.test") === Some("http://x.test/"))
    assert(Urls.canonicalize(base, "http://x.test?a=1") === Some("http://x.test/?a=1"))
    assert(Urls.canonicalize(base, "http://x.test/p?") === Some("http://x.test/p"))
  }

  test("host/path accessors") {
    assert(Urls.hostOf("http://h0.test:8080/p/1?q=2") === "h0.test")
    assert(Urls.pathOf("http://h0.test/p/1?q=2") === "/p/1")
    assert(Urls.pathOf("http://h0.test?q=2") === "/")
    assert(Urls.pathOf("http://h0.test") === "/")
  }

  private val genUrl: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https")
    host <- Gen.oneOf("a.test", "B.Test", "h0.example.org")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    segs <- Gen.listOfN(3, Gen.oneOf("p", "x1", "..", ".", "q-r"))
    query <- Gen.oneOf("", "?a=1&b=2")
    frag <- Gen.oneOf("", "#z")
  } yield s"$scheme://$host$port/${segs.mkString("/")}$query$frag"

  test("canonicalizeAbsolute is idempotent (property)") {
    forAll(genUrl) { u =>
      val c1 = Urls.canonicalizeAbsolute(u)
      c1.foreach { c =>
        assert(Urls.canonicalizeAbsolute(c) === Some(c))
        assert(Urls.hostOf(c).nonEmpty)
      }
    }
  }

  test("canonicalize(base, href) output is a fixed point (property)") {
    val genHref = Gen.oneOf(genUrl, Gen.oneOf("7", "/p/9", "../x", "#f", "", "//b.test/p"))
    forAll(genHref) { href =>
      Urls.canonicalize(base, href).foreach { c =>
        assert(Urls.canonicalize(c, "") === Some(c))
        assert(Urls.canonicalizeAbsolute(c) === Some(c))
      }
    }
  }

  test("stripTrackingParams: planted cases, then pure ≡ Column over a randomized sweep") {
    val planted = Seq(
      "http://h.test/p" -> "http://h.test/p", // no query untouched
      "http://h.test/p?utm_source=x" -> "http://h.test/p", // all-tracking -> ? dropped
      "http://h.test/p?b=2&a=1" -> "http://h.test/p?a=1&b=2", // sorted
      "http://h.test/p?a=1&utm_campaign=z&b=2" -> "http://h.test/p?a=1&b=2",
      "http://h.test/p?gclid=g&fbclid=f&msclkid=m&ref=r" -> "http://h.test/p",
      "http://h.test/p?ref" -> "http://h.test/p", // bare tracking name
      "http://h.test/p?refx=1" -> "http://h.test/p?refx=1", // prefix does NOT match
      "http://h.test/p?utm_=1&x=2" -> "http://h.test/p?x=2", // bare utm_ prefix
      "http://h.test/p?a=1&&b=2&" -> "http://h.test/p?a=1&b=2", // empty params drop
      "http://h.test/p?" -> "http://h.test/p",
      // code-point order: U+FF01 sorts below U+1F600 (UTF-16 units disagree)
      "http://h.test/p?a=\uFF01&a=\uD83D\uDE00" -> "http://h.test/p?a=\uFF01&a=\uD83D\uDE00")
    planted.foreach { case (in, want) =>
      assert(Urls.stripTrackingParams(in) === want, s"pure diverged on $in")
    }

    val names = Array("a", "b", "zz", "utm_source", "utm_x", "gclid", "fbclid",
      "msclkid", "ref", "refx", "utm_", "page", "id")
    val rnd = new scala.util.Random(77L)
    val urls = (0 until 300).map { _ =>
      val n = rnd.nextInt(6)
      val q =
        if (n == 0 && rnd.nextBoolean()) ""
        else (0 until n).map { _ =>
          val nm = names(rnd.nextInt(names.length))
          if (rnd.nextInt(5) == 0) nm else s"$nm=${rnd.nextInt(9)}"
        }.mkString("&")
      s"http://h${rnd.nextInt(3)}.test/p/${rnd.nextInt(9)}" +
        (if (q.isEmpty && rnd.nextBoolean()) "" else s"?$q")
    } ++ planted.map(_._1)
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = urls.toDF("url")
      .select(graft.url.UrlFunctions.stripTrackingCol(col("url"))).as[String].collect()
    urls.zip(got).foreach { case (in, out) =>
      assert(out === Urls.stripTrackingParams(in), s"Column diverged on $in")
    }
  }
}
