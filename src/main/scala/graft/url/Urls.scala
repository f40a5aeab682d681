package graft.url

/** Pure URL canonicalization/resolution — the single source of truth used by
  * BOTH the distributed Spark plan (via UDF, see [[UrlFunctions]]) and the
  * sequential reference oracle (`graft.ref.ReferenceCrawl`), so the two can
  * only agree or fail together, never drift.
  *
  * Semantics transcribe crawlkit's urijs-based normalization (SURVEY.md §2
  * #5, [UNVERIFIED upstream — /root/reference is empty]; behavior fixed by
  * this spec):
  *   - href resolved against the page URL (RFC 3986 merge + dot-segments)
  *   - fragment dropped (fragment-only href resolves to the page itself)
  *   - protocol-relative `//host/p` takes the base's scheme
  *   - non-http(s) schemes (mailto:, javascript:, ...) are dropped
  *   - scheme + host lowercased, default port stripped, empty path -> "/"
  */
object Urls extends Serializable {

  /** length of a leading RFC-3986 scheme incl ':' or -1 — manual scan, the
    * regex equivalent allocates a Matcher per href on the 10^x-links hot path
    */
  private def schemeLen(s: String): Int = {
    if (s.isEmpty) return -1
    val c0 = s.charAt(0)
    if (!((c0 >= 'a' && c0 <= 'z') || (c0 >= 'A' && c0 <= 'Z'))) return -1
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') return i + 1
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
      if (!ok) return -1
      i += 1
    }
    -1
  }

  /** scheme of a canonical absolute url, lowercase, or "" */
  def schemeOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) "" else url.substring(0, i).toLowerCase
  }

  /** host (no port) of an absolute url, lowercase, or "" */
  def hostOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return ""
    val rest = url.substring(i + 3)
    var end = rest.length
    var j = 0
    var done = false
    while (j < rest.length && !done) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') { end = j; done = true }
      j += 1
    }
    val auth = rest.substring(0, end)
    val colon = auth.lastIndexOf(':')
    (if (colon >= 0) auth.substring(0, colon) else auth).toLowerCase
  }

  /** path of an absolute url ("" query excluded); "/" when absent */
  def pathOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return "/"
    val rest = url.substring(i + 3)
    val slash = rest.indexOf('/')
    val q = rest.indexOf('?')
    if (slash < 0 || (q >= 0 && q < slash)) "/"
    else if (q >= 0) rest.substring(slash, q)
    else rest.substring(slash)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments */
  def removeDotSegments(path: String): String = {
    var in = path
    val out = new StringBuilder
    def popSegment(): Unit = {
      val idx = out.lastIndexOf("/")
      out.setLength(if (idx < 0) 0 else idx)
    }
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { popSegment(); in = "/" + in.substring(4) }
      else if (in == "/..") { popSegment(); in = "/" }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val seg = if (next < 0) in else in.substring(0, next)
        out.append(seg)
        in = if (next < 0) "" else in.substring(next)
      }
    }
    out.toString
  }

  /** scheme://host[:port] of an absolute url (authority as written) */
  private def origin(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return url
    val rest = url.substring(i + 3)
    var end = rest.length
    var j = 0
    var done = false
    while (j < rest.length && !done) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') { end = j; done = true }
      j += 1
    }
    url.substring(0, i + 3) + rest.substring(0, end)
  }

  /** directory part of the base's path (through the last '/') */
  private def baseDir(url: String): String = {
    val p = pathOf(url)
    val idx = p.lastIndexOf('/')
    if (idx < 0) "/" else p.substring(0, idx + 1)
  }

  /** Normalize an absolute http(s) URL. Input must contain "://". */
  def normalize(abs: String): Option[String] = {
    val i = abs.indexOf("://")
    if (i < 0) return None
    val scheme = abs.substring(0, i).toLowerCase
    if (scheme != "http" && scheme != "https") return None
    val rest = abs.substring(i + 3)
    var end = rest.length
    var j = 0
    var done = false
    while (j < rest.length && !done) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?') { end = j; done = true }
      j += 1
    }
    var auth = rest.substring(0, end).toLowerCase
    if (auth.isEmpty) return None
    val defPort = if (scheme == "http") ":80" else ":443"
    if (auth.endsWith(defPort)) auth = auth.substring(0, auth.length - defPort.length)
    val tail = rest.substring(end) // starts with '/' or '?' or empty
    val qIdx = tail.indexOf('?')
    val rawPath = if (qIdx >= 0) tail.substring(0, qIdx) else tail
    val query = if (qIdx >= 0) tail.substring(qIdx + 1) else ""
    var path = removeDotSegments(rawPath)
    if (path.isEmpty) path = "/"
    val qPart = if (qIdx >= 0 && query.nonEmpty) "?" + query else ""
    Some(scheme + "://" + auth + path + qPart)
  }

  /** Canonicalize a seed / already-absolute URL. */
  def canonicalizeAbsolute(url: String): Option[String] = {
    val t = url.trim
    val noFrag = { val h = t.indexOf('#'); if (h >= 0) t.substring(0, h) else t }
    if (noFrag.isEmpty) None else normalize(noFrag)
  }

  /** Query params dropped by [[stripTrackingParams]]: the click/campaign
    * identifiers ad and analytics stacks append (any `utm_*`, Google
    * gclid, Facebook fbclid, Microsoft msclkid, bare `ref`) — they never
    * change the served content, and left in place they explode the
    * URL-seen set (every inbound campaign mints a "new" URL for the same
    * page) and defeat URL-level dedup. Full-param match, with or without
    * a value.
    */
  val TrackingParamPattern = "^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)(=.*)?$"

  /** Canonical-for-dedup query normalization: drop tracking params, sort
    * the survivors by code point, drop a now-empty `?`. Path/host/fragment
    * untouched (run AFTER [[canonicalize]], which strips fragments).
    * Param sort makes `?a=1&b=2` and `?b=2&a=1` one seen-set entry — the
    * SURT-style canonical ordering. Code-point order is UTF-8 byte order,
    * which the Column mirror's `array_sort` uses, so both agree on any
    * Unicode query; String's own UTF-16-unit order would not (a
    * supplementary character sorts below U+E000..U+FFFF in UTF-16).
    * Opt-in in the crawl (`CrawlConfig.stripTracking`): the reference
    * semantics don't strip, so the flag defaults off.
    */
  def stripTrackingParams(url: String): String = {
    val q = url.indexOf('?')
    if (q < 0) url
    else {
      val kept = url.substring(q + 1).split("&", -1).toSeq
        .filter(p => p.nonEmpty && !p.matches(TrackingParamPattern))
        .sortWith((x, y) => java.util.Arrays.compare(x.codePoints.toArray, y.codePoints.toArray) < 0)
      if (kept.isEmpty) url.substring(0, q)
      else url.substring(0, q) + "?" + kept.mkString("&")
    }
  }

  /** Resolve `rawHref` against canonical `base` and normalize; None for
    * non-http(s) schemes or unresolvable refs.
    */
  def canonicalize(base: String, rawHref: String): Option[String] = {
    val href = rawHref.trim
    val noFrag = { val h = href.indexOf('#'); if (h >= 0) href.substring(0, h) else href }
    val abs: Option[String] =
      if (noFrag.isEmpty) Some(base) // fragment-only or empty -> the page itself
      else if (noFrag.startsWith("//")) {
        val s = schemeOf(base)
        if (s.isEmpty) None else Some(s + ":" + noFrag)
      } else {
        val sl = schemeLen(noFrag)
        if (sl > 0) {
          val sch = noFrag.substring(0, sl - 1).toLowerCase
          if (sch == "http" || sch == "https") Some(noFrag) else None
        } else if (base.indexOf("://") < 0) None
        else if (noFrag.startsWith("/")) Some(origin(base) + noFrag)
        else Some(origin(base) + baseDir(base) + noFrag)
      }
    abs.flatMap(normalize).filter(u => hostOf(u).nonEmpty)
  }
}
