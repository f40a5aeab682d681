package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.sql.Timestamp

import graft.extract.Extract
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) ingestion — the on-disk format of
  * Common-Crawl crawls, i.e. the real-world source of the engine's
  * "Common-Crawl-style pages" input table (BASELINE.json:15). Pure-JVM
  * stream parser; no external library.
  *
  * Scale shape: WARC files are read ONE TASK PER FILE — gzip members are
  * not splittable, and Common Crawl ships each crawl as tens of thousands
  * of ~1 GB `.warc.gz` files, so file-level parallelism is the intended
  * (and the industry-standard) distribution axis. Records stream through
  * the parser; a file is never materialized whole. Per-record gzip
  * members concatenated into one file (exactly Common Crawl's layout) are
  * decoded by [[MultiGzipInputStream]], which — unlike
  * `java.util.zip.GZIPInputStream` — verifies every member's CRC/ISIZE
  * trailer and raises on garbage between members, so strict mode's
  * loud-failure promise holds for corrupted archives too.
  *
  * Pipeline: `readRecords` → [[toPages]] (response records → the Page
  * table shape: HTTP chunked framing and content-encoding undone by
  * [[Http]], text extracted under the declared charset by the same
  * [[Extract]] spec the crawl uses) →
  * [[graft.crawl.PageStore.prepareBucketed]] (collapse multiple captures
  * per URL, bucket by urlHash) → the fetch join.
  */
object Warc {

  final case class WarcRecord(
      source_file: String,
      warc_type: String,
      /** WARC-Target-URI ("" for records without one, e.g. warcinfo) */
      url: String,
      /** WARC-Date */
      warc_ts: Timestamp,
      content_type: String,
      /** raw record block — for response records: HTTP headers + body */
      payload: Array[Byte])

  /** Read every WARC record under `path` (plain or gzip, including
    * concatenated per-record gzip members). Parallelism = one task per
    * file; pass a glob over many files for distribution.
    *
    * `lenient = false` (default) fails the task loudly on a malformed or
    * truncated record — including a cut or corrupted gzip member, which
    * `GZIPInputStream` would silently treat as clean EOF. `lenient = true`
    * keeps every complete record and stops at the first corruption in a
    * file with a stderr warning — the warcio-style posture for real crawl
    * archives, whose tails are sometimes cut by the archiving process
    * itself. Choose per pipeline: loud for curated inputs, lenient for raw
    * crawl drops.
    *
    * `maxRecordBytes` bounds the one on-heap allocation per record (WARC
    * permits multi-GB records; a single Array[Byte] caps at 2 GB and
    * multi-hundred-MB records risk executor OOM). Oversized records fail
    * loudly in strict mode and are SKIPPED (with a warning) in lenient
    * mode — the stream stays positioned, subsequent records still parse.
    */
  def readRecords(spark: SparkSession, path: String, minPartitions: Int = 0,
                  lenient: Boolean = false,
                  maxRecordBytes: Long = 1L << 30): Dataset[WarcRecord] = {
    import spark.implicits._
    val mp = if (minPartitions > 0) minPartitions else spark.sparkContext.defaultParallelism
    spark.sparkContext.binaryFiles(path, mp)
      .flatMap { case (file, pds) =>
        val raw = pds.open()
        val is: InputStream =
          if (file.endsWith(".gz")) new MultiGzipInputStream(file, raw)
          else new BufferedInputStream(raw, 1 << 16)
        new WarcIterator(file, is, lenient, maxRecordBytes)
      }
      .toDS()
  }

  private val httpDecodeUdf = udf { (payload: Array[Byte]) =>
    Http.decodedBodyAndText(payload)
  }

  /** WARC response records → the engine's Page table shape
    * (url, warc_ts, html, text, lang). The HTTP layer decodes first
    * ([[Http]]): chunked framing removed, Content-Encoding gzip/deflate
    * decompressed, and text derived under the Content-Type charset
    * (fallback UTF-8) — so `html` is the actual page bytes, not the wire
    * framing. Text then derives via the SAME [[Extract]] spec the crawl's
    * invariant tests pin; lang via the n-gram heuristic. Multiple captures
    * per URL survive here by design — collapse with
    * [[graft.crawl.PageStore.prepareBucketed]] (or latestCapture) before
    * joining, as the CrawlLoop precondition requires.
    *
    * `only2xx = true` keeps only 2xx-status captures — the usual training-
    * data posture (error pages are boilerplate). Records with no parseable
    * status line (status 0, e.g. a bare-body payload) are kept either way:
    * absence of wire framing is not evidence of an error page.
    */
  def toPages(records: Dataset[WarcRecord], only2xx: Boolean = false): DataFrame = {
    val decoded = records.toDF()
      .filter(col("warc_type") === "response" && col("url") =!= "")
      .select(col("url"), col("warc_ts"), httpDecodeUdf(col("payload")).as("__bh"))
    val kept =
      if (only2xx)
        decoded.filter(col("__bh._1") === 0 ||
          (col("__bh._1") >= 200 && col("__bh._1") < 300))
      else decoded
    kept
      .select(col("url"), col("warc_ts"),
        col("__bh._2").as("html"), col("__bh._3").as("htmlStr"))
      .withColumn("text", Extract.textCol(col("htmlStr")))
      .drop("htmlStr")
      .withColumn("lang", graft.ops.TextAnalysis.langId(col("text")))
  }

  // ---- record serialization (WarcFixture's archives) ----

  /** serialize one WARC record: version line + headers + sized payload +
    * the two-CRLF record separator (ISO 28500 §4)
    */
  def recordBytes(warcType: String, uri: Option[String], ts: java.time.Instant,
                  contentType: String, payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $warcType\r\n"
    uri.foreach(u => h ++= s"WARC-Target-URI: $u\r\n")
    h ++= s"WARC-Date: $ts\r\n"
    h ++= s"Content-Length: ${payload.length}\r\n"
    h ++= s"Content-Type: $contentType\r\n"
    h ++= "\r\n"
    h.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ payload ++
      "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private[graft] def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** Streaming one-pass WARC record parser over one (possibly multi-member
    * gzip) stream. Header lines are ASCII per spec; the payload block is
    * sized by Content-Length, never scanned for delimiters.
    */
  private final class WarcIterator(file: String, is: InputStream, lenient: Boolean,
                                   maxRecordBytes: Long)
      extends Iterator[WarcRecord] {

    private var nextRec: WarcRecord = _
    private var done = false

    private def readLine(): String = {
      var c = is.read()
      if (c < 0) return null
      val sb = new java.lang.StringBuilder(64)
      while (c >= 0 && c != '\n') {
        if (c != '\r') sb.append(c.toChar)
        c = is.read()
      }
      sb.toString
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = is.read(buf, off, n - off)
        if (r < 0) throw new EOFException(s"$file: truncated WARC payload ($off/$n bytes)")
        off += r
      }
      buf
    }

    private def skipFully(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = is.skip(left)
        if (s > 0) left -= s
        else if (is.read() >= 0) left -= 1 // skip() may return 0 mid-stream
        else throw new EOFException(s"$file: truncated WARC payload while skipping ($left bytes left)")
      }
    }

    @scala.annotation.tailrec
    private def advance(): Unit = {
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) { done = true; is.close(); return }
      require(line.startsWith("WARC/"),
        s"$file: expected a WARC version line, got '${line.take(40)}'")
      val headers = scala.collection.mutable.HashMap[String, String]()
      var h = readLine()
      while (h != null && h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) headers(h.substring(0, i).trim.toLowerCase) = h.substring(i + 1).trim
        h = readLine()
      }
      // Content-Length is a Long per spec (records >2 GB are legal); the
      // record block is one on-heap array, so oversized records are a
      // policy decision (maxRecordBytes), not an opaque
      // NegativeArraySizeException / OOM
      val len = headers.get("content-length") match {
        case Some(l) =>
          val v = try l.trim.toLong catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"$file: unparseable Content-Length '$l'")
          }
          if (v < 0) throw new IllegalArgumentException(s"$file: negative Content-Length $v")
          v
        case None => throw new IllegalArgumentException(s"$file: WARC record without Content-Length")
      }
      if (len > maxRecordBytes) {
        val msg = s"$file: WARC record of $len bytes exceeds maxRecordBytes=$maxRecordBytes"
        if (!lenient) throw new IllegalArgumentException(msg)
        System.err.println(s"WARN Warc: skipping oversized record ($msg)")
        skipFully(len)
        advance() // tail-recurse to the next record
      } else {
        val payload = readFully(len.toInt)
        // WARC-Date parse failures surface as IllegalArgumentException so
        // strict mode's error names the file and lenient mode's catch
        // (below) treats them as the data corruption they are
        val ts = headers.get("warc-date")
          .map { d =>
            try Timestamp.from(java.time.Instant.parse(d))
            catch {
              case e: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(s"$file: unparseable WARC-Date '$d'", e)
            }
          }
          .getOrElse(new Timestamp(0L))
        // some writers wrap the URI in angle brackets (WARC 1.0 §5.2)
        val uri = headers.getOrElse("warc-target-uri", "") match {
          case u if u.length >= 2 && u.head == '<' && u.last == '>' => u.substring(1, u.length - 1)
          case u => u
        }
        nextRec = WarcRecord(file, headers.getOrElse("warc-type", ""), uri, ts,
          headers.getOrElse("content-type", ""), payload)
      }
    }

    override def hasNext: Boolean = {
      if (!done && nextRec == null) {
        if (lenient) {
          try advance()
          catch {
            // ANY record-level failure — EOFException (truncated payload),
            // ZipException (cut/garbage gzip member), require() failures on
            // garbage headers, date/length parse errors — ends the file at
            // the last complete record, as documented. NonFatal, not an
            // enumerated list: a posture of "keeps every complete record"
            // must not depend on which exception a malformed byte happens
            // to throw.
            case e if scala.util.control.NonFatal(e) =>
              System.err.println(s"WARN Warc: stopping at corrupt record in $file " +
                s"(lenient mode; remaining bytes skipped): ${e.getMessage}")
              done = true
              nextRec = null
              try is.close() catch { case _: java.io.IOException => () }
          }
        } else advance()
      }
      !done
    }

    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException(file)
      val r = nextRec
      nextRec = null
      r
    }
  }

  /** Multi-member gzip decoder with per-member trailer verification.
    *
    * `java.util.zip.GZIPInputStream` silently treats ANY unparseable bytes
    * at a member boundary as clean EOF — a mid-file corrupted member (or
    * appended garbage) silently drops the file's tail records, defeating
    * strict mode's loud-failure contract. This decoder drives the Inflater
    * directly, so it can (a) verify each member's CRC32 + ISIZE trailer,
    * (b) throw `ZipException` on garbage where the next member's magic
    * should be, and (c) throw `EOFException` on a member cut mid-stream.
    * Gzip header flags (FEXTRA/FNAME/FCOMMENT/FHCRC) are consumed per
    * RFC 1952.
    */
  private[sources] final class MultiGzipInputStream(file: String, raw: InputStream)
      extends InputStream {

    private val in = new BufferedInputStream(raw, 1 << 16)
    private val inf = new java.util.zip.Inflater(true)
    private val crc = new java.util.zip.CRC32
    private val cbuf = new Array[Byte](1 << 15)
    private var cLen = 0 // staged compressed bytes: cbuf[cPos, cLen)
    private var cPos = 0
    private var inMember = false
    private var eof = false
    private val one = new Array[Byte](1)

    private def fill(): Int = {
      if (cPos < cLen) return cLen - cPos
      val n = in.read(cbuf)
      if (n < 0) -1 else { cPos = 0; cLen = n; n }
    }
    private def readByte(): Int =
      if (fill() < 0) -1 else { val b = cbuf(cPos) & 0xFF; cPos += 1; b }
    private def need(what: String): Int = {
      val b = readByte()
      if (b < 0) throw new EOFException(s"$file: truncated gzip $what")
      b
    }

    /** false = clean EOF exactly at a member boundary */
    private def readHeader(): Boolean = {
      val m1 = readByte()
      if (m1 < 0) return false
      val m2 = readByte()
      if (m1 != 0x1F || m2 != 0x8B)
        throw new java.util.zip.ZipException(
          f"$file: garbage at gzip member boundary (0x$m1%02x${if (m2 < 0) "" else f" 0x$m2%02x"})")
      val cm = need("header")
      if (cm != 8)
        throw new java.util.zip.ZipException(s"$file: unsupported gzip compression method $cm")
      val flg = need("header")
      var i = 0
      while (i < 6) { need("header"); i += 1 } // MTIME(4) XFL OS
      if ((flg & 0x04) != 0) { // FEXTRA
        val xlen = need("extra") | (need("extra") << 8)
        var j = 0
        while (j < xlen) { need("extra"); j += 1 }
      }
      if ((flg & 0x08) != 0) while (need("name") != 0) () // FNAME
      if ((flg & 0x10) != 0) while (need("comment") != 0) () // FCOMMENT
      if ((flg & 0x02) != 0) { need("hcrc"); need("hcrc") } // FHCRC
      inf.reset(); crc.reset()
      inMember = true
      true
    }

    private def readTrailer(): Unit = {
      // reclaim the bytes the inflater was handed but did not consume —
      // they are the trailer (and possibly the next member), still in cbuf
      cPos -= inf.getRemaining
      var v = 0L
      var i = 0
      while (i < 4) { v |= need("trailer").toLong << (8 * i); i += 1 }
      if (v != crc.getValue)
        throw new java.util.zip.ZipException(
          s"$file: gzip member CRC mismatch (corrupt member)")
      var isize = 0L
      i = 0
      while (i < 4) { isize |= need("trailer").toLong << (8 * i); i += 1 }
      if (isize != (inf.getBytesWritten & 0xFFFFFFFFL))
        throw new java.util.zip.ZipException(s"$file: gzip member ISIZE mismatch")
      inMember = false
    }

    override def read(): Int = {
      val n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xFF
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (eof) return -1
      if (len == 0) return 0
      if (!inMember && !readHeader()) { eof = true; return -1 }
      var n = 0
      while (n == 0) {
        if (inf.finished()) {
          readTrailer()
          if (!readHeader()) { eof = true; return -1 }
        }
        if (inf.needsInput()) {
          if (fill() < 0) throw new EOFException(s"$file: gzip member cut mid-stream")
          inf.setInput(cbuf, cPos, cLen - cPos)
          cPos = cLen // handed to the inflater; readTrailer reclaims leftovers
        }
        n = try inf.inflate(b, off, len)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new java.util.zip.ZipException(s"$file: corrupt deflate stream: ${e.getMessage}")
        }
      }
      crc.update(b, off, n)
      n
    }

    override def close(): Unit = { inf.end(); in.close() }
  }
}
