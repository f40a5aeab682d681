package graft

import graft.extract.Extract
import graft.sources.Warc
import org.scalatest.funsuite.AnyFunSuite

/** WARC ingestion golden tests: hand-built WARC files (plain and
  * Common-Crawl-style concatenated per-record gzip members) parsed back to
  * records, and response records mapped to the Page table shape with the
  * engine's own extraction spec.
  */
class WarcSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}

  private def http(html: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html).getBytes("UTF-8")

  private def record(typ: String, uri: Option[String], date: String,
                     payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $typ\r\n"
    uri.foreach(u => h ++= s"WARC-Target-URI: $u\r\n")
    h ++= s"WARC-Date: $date\r\n"
    h ++= s"Content-Length: ${payload.length}\r\n"
    h ++= "Content-Type: application/http; msgtype=response\r\n"
    h ++= "\r\n"
    h.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private val htmlA = """<html><body>the quick fox <a href="/b">b</a></body></html>"""
  private val htmlB = """<html><body>und der baum ist <a href="http://h1.test/c">c</a></body></html>"""

  private def warcBytes: Seq[Array[Byte]] = Seq(
    record("warcinfo", None, "2026-01-01T00:00:00Z", "software: graft-test\r\n".getBytes("UTF-8")),
    record("response", Some("http://h0.test/a"), "2026-01-02T03:04:05Z", http(htmlA)),
    // angle-bracket URI form (WARC 1.0 §5.2) must be unwrapped
    record("response", Some("<http://h1.test/b>"), "2026-01-02T03:04:06Z", http(htmlB)))

  test("plain WARC file parses to records with urls, timestamps, payloads") {
    val dir = tmpDir("warc-plain")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/test.warc"),
      warcBytes.reduce(_ ++ _))
    val recs = Warc.readRecords(spark, dir).collect().sortBy(_.url)
    assert(recs.length === 3)
    assert(recs.map(_.warc_type).sorted.toSeq === Seq("response", "response", "warcinfo"))
    val a = recs.find(_.url == "http://h0.test/a").get
    assert(a.warc_ts === java.sql.Timestamp.from(java.time.Instant.parse("2026-01-02T03:04:05Z")))
    assert(new String(a.payload, "UTF-8").endsWith(htmlA))
    assert(recs.exists(_.url == "http://h1.test/b"), "angle-bracket URI must be unwrapped")
  }

  test("concatenated per-record gzip members (the Common-Crawl layout) stream transparently") {
    val dir = tmpDir("warc-gz")
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    // each record gzipped SEPARATELY, members concatenated into one file
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/test.warc.gz"),
      warcBytes.map(gz).reduce(_ ++ _))
    val recs = Warc.readRecords(spark, dir).collect()
    assert(recs.length === 3)
    assert(recs.count(_.warc_type == "response") === 2)
  }

  test("truncated archive: loud by default, lenient keeps complete records") {
    val dir = tmpDir("warc-trunc")
    val full = warcBytes.reduce(_ ++ _)
    // cut the file mid-way through the LAST record's payload
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/trunc.warc"),
      full.take(full.length - 40))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir).collect()
    }
    val recs = Warc.readRecords(spark, dir, lenient = true).collect()
    assert(recs.length === 2, "lenient mode keeps every record before the corruption")
    assert(recs.exists(_.url == "http://h0.test/a"))
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("strict mode raises on a corrupted gzip member trailer (ISIZE mismatch)") {
    val members = warcBytes.map(gz)
    // flip a byte in the SECOND member's ISIZE trailer: the member's payload
    // inflates, but the member-boundary verification must fail LOUDLY
    val corrupt = members(1).clone()
    corrupt(corrupt.length - 2) = (corrupt(corrupt.length - 2) ^ 0x55).toByte
    val dir = tmpDir("warc-gz-corrupt")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.warc.gz"),
      members(0) ++ corrupt ++ members(2))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir).collect()
    }
    // lenient: both records BEFORE the bad boundary survive (the corrupt
    // trailer is hit when the parser crosses into record 3)
    val recs = Warc.readRecords(spark, dir, lenient = true).collect()
    assert(recs.length === 2)
    assert(recs.map(_.warc_type).sorted.toSeq === Seq("response", "warcinfo"))
  }

  test("strict mode raises on garbage after the last gzip member") {
    val dir = tmpDir("warc-gz-garbage")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/g.warc.gz"),
      warcBytes.map(gz).reduce(_ ++ _) ++ "NOT A GZIP MEMBER".getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir).collect()
    }
    assert(Warc.readRecords(spark, dir, lenient = true).collect().length === 3,
      "lenient mode keeps every record before the trailing garbage")
  }

  test("a concatenated-member archive spanning many decoder buffer refills reads whole, in order") {
    // one gzip member per record (WarcFixture's serializer), ~150 KB of
    // compressed bytes: member boundaries fall at many alignments against
    // the decoder's 32 KB refills, and the strict reader must verify every
    // member and return every record in file order, payload byte-exact
    val rnd = new scala.util.Random(7)
    val ts = java.time.Instant.parse("2026-01-02T03:04:05Z")
    val payloads = (0 until 120).map(i =>
      http(s"<html><body>page $i ${rnd.alphanumeric.take(1500 + 7 * i).mkString}</body></html>"))
    val members = payloads.zipWithIndex.map { case (p, i) =>
      Warc.gzipMember(graft.fixtures.WarcFixture.record("response", Some(s"http://h0.test/p/$i"), ts, p))
    }
    assert(members.map(_.length).sum > 4 * (1 << 15))
    val dir = tmpDir("warc-gz-many")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/many.warc.gz"), members.reduce(_ ++ _))
    val recs = Warc.readRecords(spark, dir).collect()
    assert(recs.map(_.url).toSeq === payloads.indices.map(i => s"http://h0.test/p/$i"))
    recs.zip(payloads).foreach { case (r, p) =>
      assert(java.util.Arrays.equals(r.payload, p), s"payload diverged for ${r.url}")
    }
  }

  test("truncated gzip member: loud by default, lenient keeps prior records") {
    val dir = tmpDir("warc-gz-trunc")
    val full = warcBytes.map(gz)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.warc.gz"),
      full(0) ++ full(1).take(full(1).length - 12))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir).collect()
    }
    assert(Warc.readRecords(spark, dir, lenient = true).collect().length === 1)
  }

  test("oversized record: strict raises, lenient skips it and KEEPS later records") {
    val dir = tmpDir("warc-oversize")
    val big = record("response", Some("http://h9.test/huge"), "2026-01-02T00:00:00Z",
      http("<html>" + "x" * 4096 + "</html>"))
    // small, BIG, small: a skipped record must leave the stream positioned
    // exactly at the next record
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/o.warc"),
      record("response", Some("http://h0.test/a"), "2026-01-02T03:04:05Z", http(htmlA)) ++
        big ++
        record("response", Some("http://h1.test/b"), "2026-01-02T03:04:06Z", http(htmlB)))
    val cap = 1024L
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir, maxRecordBytes = cap).collect()
    }
    val recs = Warc.readRecords(spark, dir, lenient = true, maxRecordBytes = cap).collect()
    assert(recs.map(_.url).sorted.toSeq === Seq("http://h0.test/a", "http://h1.test/b"),
      "records on both sides of the skipped one survive")
  }

  test("malformed WARC-Date: loud in strict mode, survivable in lenient mode") {
    val dir = tmpDir("warc-baddate")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.warc"),
      record("response", Some("http://h0.test/ok"), "2026-01-02T03:04:05Z", http(htmlA)) ++
        record("response", Some("http://h0.test/bad"), "NOT-A-DATE", http(htmlB)))
    intercept[org.apache.spark.SparkException] {
      Warc.readRecords(spark, dir).collect()
    }
    val recs = Warc.readRecords(spark, dir, lenient = true).collect()
    assert(recs.map(_.url).toSeq === Seq("http://h0.test/ok"))
  }

  // ---- HTTP layer (chunked / content-encoding / charset) ----

  private def chunked(body: Array[Byte], chunkSize: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    body.grouped(chunkSize).foreach { c =>
      out.write(s"${c.length.toHexString}\r\n".getBytes("US-ASCII"))
      out.write(c)
      out.write("\r\n".getBytes("US-ASCII"))
    }
    out.write("0\r\n\r\n".getBytes("US-ASCII"))
    out.toByteArray
  }

  private def httpWith(headers: Seq[String], body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\n${headers.mkString("\r\n")}\r\n\r\n").getBytes("US-ASCII") ++ body

  private def pageRows(dir: String) =
    Warc.toPages(Warc.readRecords(spark, dir)).collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("html"), "UTF-8"), r.getString(3)))
      .sortBy(_._1)

  test("chunked transfer-encoding is decoded in toPages") {
    val dir = tmpDir("warc-chunked")
    val payload = httpWith(
      Seq("Content-Type: text/html", "Transfer-Encoding: chunked"),
      chunked(htmlA.getBytes("UTF-8"), 7))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.warc"),
      record("response", Some("http://h0.test/a"), "2026-01-02T03:04:05Z", payload))
    val Array((url, body, text)) = pageRows(dir)
    assert(url === "http://h0.test/a")
    assert(body === htmlA, "chunk framing must be stripped from html")
    assert(text === Extract.extractText(htmlA))
  }

  test("Content-Encoding gzip and deflate bodies are decompressed in toPages") {
    val dir = tmpDir("warc-ce")
    def deflate(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.util.zip.DeflaterOutputStream(bos) // zlib-wrapped
      d.write(b); d.close()
      bos.toByteArray
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ce.warc"),
      record("response", Some("http://h0.test/gz"), "2026-01-02T03:04:05Z",
        httpWith(Seq("Content-Type: text/html", "Content-Encoding: gzip"),
          gz(htmlA.getBytes("UTF-8")))) ++
        record("response", Some("http://h1.test/df"), "2026-01-02T03:04:06Z",
          httpWith(Seq("Content-Type: text/html", "Content-Encoding: deflate"),
            deflate(htmlB.getBytes("UTF-8")))))
    val rows = pageRows(dir)
    assert(rows(0) === (("http://h0.test/gz", htmlA, Extract.extractText(htmlA))))
    assert(rows(1) === (("http://h1.test/df", htmlB, Extract.extractText(htmlB))))
  }

  test("chunked + gzip combine (TE inside CE), per real Common-Crawl records") {
    val dir = tmpDir("warc-te-ce")
    val payload = httpWith(
      Seq("Content-Type: text/html", "Transfer-Encoding: chunked", "Content-Encoding: gzip"),
      chunked(gz(htmlA.getBytes("UTF-8")), 11))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/tc.warc"),
      record("response", Some("http://h0.test/a"), "2026-01-02T03:04:05Z", payload))
    assert(pageRows(dir).head._2 === htmlA)
  }

  test("only2xx filter drops error captures, keeps 2xx and bare-body payloads") {
    val dir = tmpDir("warc-status")
    val notFound = ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n" +
      "<html><body>not here</body></html>").getBytes("UTF-8")
    val bare = htmlA.getBytes("UTF-8") // no HTTP framing at all -> status 0
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/s.warc"),
      record("response", Some("http://h0.test/ok"), "2026-01-02T03:04:05Z", http(htmlA)) ++
        record("response", Some("http://h0.test/missing"), "2026-01-02T03:04:06Z", notFound) ++
        record("response", Some("http://h0.test/bare"), "2026-01-02T03:04:07Z", bare))
    val all = Warc.toPages(Warc.readRecords(spark, dir))
    assert(all.count() === 3L, "default keeps every response capture")
    val ok = Warc.toPages(Warc.readRecords(spark, dir), only2xx = true)
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(ok === Seq("http://h0.test/bare", "http://h0.test/ok"),
      "404 dropped; 200 and unframed payloads kept")
  }

  test("Content-Type charset governs text extraction (latin-1 page)") {
    val dir = tmpDir("warc-charset")
    val htmlL1 = """<html><body>der käseladen ist schön <a href="/x">x</a></body></html>"""
    val payload = httpWith(
      Seq("""Content-Type: text/html; charset=ISO-8859-1"""),
      htmlL1.getBytes("ISO-8859-1")) // ä/ö are NOT valid UTF-8 here
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/l1.warc"),
      record("response", Some("http://h0.test/l1"), "2026-01-02T03:04:05Z", payload))
    val pages = Warc.toPages(Warc.readRecords(spark, dir)).collect()
    assert(pages.head.getString(3) === Extract.extractText(htmlL1),
      "text must decode under the declared charset, not hard-coded UTF-8")
    assert(pages.head.getString(3).contains("käseladen ist schön"))
  }

  test("syntactically illegal charset names fall back to UTF-8 — never a throw in the decode UDF") {
    // Charset.isSupported THROWS IllegalCharsetNameException on names like
    // 'utf 8' or 'iso-8859-1,iso-8859-1' (both seen in real crawl headers);
    // the best-effort contract demands a UTF-8 fallback instead (ADVICE r4)
    for (bad <- Seq("utf 8", "iso-8859-1,iso-8859-1", "\"\"", "not-a-charset")) {
      val payload = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$bad\r\n\r\nhello")
        .getBytes("ISO-8859-1")
      val r = graft.sources.Http.parse(payload)
      assert(r.charset === java.nio.charset.StandardCharsets.UTF_8, s"charset=$bad must fall back")
      assert(new String(r.body, r.charset) === "hello")
    }
  }

  test("toPages: response records -> Page shape with the engine's extraction spec") {
    val dir = tmpDir("warc-pages")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/test.warc"),
      warcBytes.reduce(_ ++ _))
    val pages = Warc.toPages(Warc.readRecords(spark, dir))
    assert(pages.columns.toSeq === Seq("url", "warc_ts", "html", "text", "lang"))
    val rows = pages.collect().map(r => (r.getString(0),
      new String(r.getAs[Array[Byte]]("html"), "UTF-8"), r.getString(3), r.getString(4)))
      .sortBy(_._1)
    assert(rows.length === 2, "warcinfo must be filtered out")
    val (urlA, bodyA, textA, langA) = rows(0)
    assert(urlA === "http://h0.test/a")
    assert(bodyA === htmlA, "html must be the HTTP body, headers stripped")
    assert(textA === Extract.extractText(htmlA), "text must match the crawl's extraction spec")
    assert(langA === "en")
    assert(rows(1)._4 === "de", "langid flows through toPages")

    // and the result feeds the bucketed page store directly
    val store = graft.crawl.PageStore.prepareBucketed(
      spark, pages, "t_warc_pages_spec", 2, tmpDir("warc-store"))
    assert(store.count() === 2)
  }
}
