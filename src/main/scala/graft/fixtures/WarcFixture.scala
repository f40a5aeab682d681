package graft.fixtures

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import graft.model.Page

/** Deterministic WARC fixture writer: the fixture web serialized as real
  * multi-file `.warc.gz` archives (Common Crawl's layout — one gzip member
  * per record, members concatenated), for the WARC→store→crawl end-to-end
  * path. Each response's HTTP payload VARIANT is keyed off the url hash so
  * a single archive exercises plain, chunked transfer-encoding, and
  * gzip content-encoding bodies — the [[graft.sources.Http]] decode layer
  * runs for real inside the pipeline, and the decoded page bytes must come
  * back byte-identical to the fixture's html.
  */
object WarcFixture {

  private def gzBytes(b: Array[Byte]): Array[Byte] = graft.sources.Warc.gzipMember(b)

  private def chunk(body: Array[Byte], size: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    body.grouped(size).foreach { c =>
      out.write(s"${c.length.toHexString}\r\n".getBytes(US_ASCII))
      out.write(c)
      out.write("\r\n".getBytes(US_ASCII))
    }
    out.write("0\r\n\r\n".getBytes(US_ASCII))
    out.toByteArray
  }

  /** HTTP response payload for a page; variant 0 = identity, 1 = chunked,
    * 2 = Content-Encoding gzip, 3 = chunked over gzip
    */
  def httpPayload(html: Array[Byte], variant: Int): Array[Byte] = {
    val (headers, body) = (variant % 4) match {
      case 0 => (Seq("Content-Type: text/html"), html)
      case 1 => (Seq("Content-Type: text/html", "Transfer-Encoding: chunked"),
        chunk(html, 48))
      case 2 => (Seq("Content-Type: text/html", "Content-Encoding: gzip"),
        gzBytes(html))
      case _ => (Seq("Content-Type: text/html", "Transfer-Encoding: chunked",
        "Content-Encoding: gzip"), chunk(gzBytes(html), 32))
    }
    (s"HTTP/1.1 200 OK\r\n${headers.mkString("\r\n")}\r\n\r\n").getBytes(US_ASCII) ++ body
  }

  /** one WARC record (delegates to [[graft.sources.Warc.recordBytes]]) */
  def record(warcType: String, uri: Option[String], instant: java.time.Instant,
             payload: Array[Byte]): Array[Byte] =
    graft.sources.Warc.recordBytes(warcType, uri, instant,
      "application/http; msgtype=response", payload)

  /** Write `pages` round-robin across `files` `.warc.gz` archives under
    * `dir` (each record its own gzip member; each file led by a warcinfo
    * record, like real crawl output). Returns the file paths.
    */
  def writeWarcGz(pages: Seq[Page], dir: String, files: Int): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    (0 until files).map { f =>
      val path = s"$dir/crawl-$f.warc.gz"
      val out = new java.io.FileOutputStream(path)
      try {
        out.write(gzBytes(record("warcinfo", None, java.time.Instant.EPOCH,
          s"software: graft-fixture file=$f\r\n".getBytes(UTF_8))))
        pages.zipWithIndex.filter(_._2 % files == f).foreach { case (p, i) =>
          val payload = httpPayload(p.html, variant = (Fixtures.mix(i.toLong, 77L) & 0x3L).toInt)
          out.write(gzBytes(record("response", Some(p.url), p.warc_ts.toInstant, payload)))
        }
      } finally out.close()
      path
    }
  }
}
