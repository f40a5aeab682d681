package graft.robots

import graft.model.RobotsRule
import graft.url.UrlFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** robots.txt rules materialized as a broadcast table (BASELINE.json:6,
  * SURVEY.md §2 #16). The rules table is tiny relative to the frontier
  * (one row per host with rules) — always the broadcast side, so the filter
  * costs no shuffle.
  *
  * Matching is the RFC 9309 pattern language: rules match as PATH PREFIXES,
  * `*` matches any byte sequence, and a TRAILING `$` anchors the pattern to
  * the end of the path (e.g. a Disallow of `/&#42;.php$`); `$` elsewhere is a
  * literal, per the reference implementations. Longest-match semantics:
  * a URL is allowed unless some disallow pattern matches its path and no
  * allow pattern of >= specificity (raw pattern length, the RFC's octet
  * count) also matches. Three matchers share these semantics bit-for-bit:
  * the Column-side [[allowedCol]] (codegen'd LIKE over converted patterns),
  * the pure-Scala [[matchLen]] (the sequential oracle's matcher), and the
  * parity suite pins them against each other.
  */
object Robots {

  // ---- pattern matching (RFC 9309 `*` / trailing-`$`) ----

  /** Pure-Scala matcher — the single source of truth the sequential oracle
    * uses ([[graft.ref.ReferenceCrawl.robotsAllows]]). Leftmost placement
    * of the `*`-separated segments is complete: placing a middle segment as
    * early as possible only ever leaves more path for later segments.
    */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = pat.split("\\*", -1)
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    if (segs.length == 1) return !anchored || pos == path.length
    var i = 1
    while (i < segs.length - 1) {
      val idx = path.indexOf(segs(i), pos)
      if (idx < 0) return false
      pos = idx + segs(i).length
      i += 1
    }
    val last = segs(segs.length - 1)
    if (anchored)
      if (last.isEmpty) pos <= path.length
      else path.length - last.length >= pos && path.endsWith(last)
    else last.isEmpty || path.indexOf(last, pos) >= 0
  }

  /** specificity of `pattern` against `path`: raw pattern length on match
    * (the RFC's longest-match measure, counting `*`/`$` octets), else -1
    */
  def matchLen(pattern: String, path: String): Int =
    if (patternMatches(pattern, path)) pattern.length else -1

  /** Column-side mirror of [[patternMatches]] as a SQL LIKE pattern: strip a
    * trailing `$`, escape LIKE metacharacters (`\` `%` `_`), turn `*` into
    * `%`, and append `%` unless anchored (LIKE is full-string, so the
    * trailing `%` IS the prefix semantics). All codegen'd string builtins.
    */
  private def toLikePattern(p: Column): Column = {
    val anchored = p.endsWith("$")
    val body = regexp_replace(p, "\\$$", "")
    val esc = replace(replace(replace(body,
      lit("\\"), lit("\\\\")), lit("%"), lit("\\%")), lit("_"), lit("\\_"))
    val starred = replace(esc, lit("*"), lit("%"))
    when(anchored, starred).otherwise(concat(starred, lit("%")))
  }

  /** longest (raw-length) matching pattern over `patterns` for `path`, or -1 */
  private def bestMatch(patterns: Column, path: Column): Column =
    coalesce(
      array_max(transform(filter(patterns, p => like(path, toLikePattern(p))), p => length(p))),
      lit(-1))

  def allowedCol(path: Column, disallow: Column, allow: Column): Column = {
    val dis = bestMatch(disallow, path)
    val alw = bestMatch(allow, path)
    disallow.isNull || dis === -1 || alw >= dis
  }

  /** PRECONDITION: one rule row per host. The reference model collapses
    * duplicates via Map (last wins); a broadcast join would instead multiply
    * frontier rows, silently corrupting crawl order. [[requireUniqueHosts]]
    * enforces this at loop construction.
    */
  def requireUniqueHosts(robots: Dataset[RobotsRule]): Unit = {
    // the collect only names hosts in the error: at most 20 (+1 to know
    // there are more), however many are duplicated
    val dups = robots.groupBy(col("host")).count().filter(col("count") > 1)
      .select("host").limit(21).collect().map(_.getString(0))
    require(dups.isEmpty,
      s"robots table has duplicate rules for host(s): ${dups.take(20).mkString(", ")}" +
        s"${if (dups.length > 20) ", …" else ""} — " +
        "collapse to one rule per host (reference semantics: last rule wins)")
  }

  private final case class RuleGroup(agents: Vector[String], dis: Vector[String],
                                     alw: Vector[String], delayMs: Long)

  /** `Sitemap:` directives, in document order. Per sitemaps.org the key
    * is case-insensitive and the directive is GLOBAL — valid anywhere in
    * the file, outside any User-agent group — so this is a separate pass
    * from group parsing; duplicates dedup keeping first position. Feeds
    * [[graft.extract.Extract.sitemapLocs]] for sitemap-seeded discovery.
    */
  def sitemapUrls(text: String): Vector[String] = {
    if (text == null) return Vector.empty
    val out = Vector.newBuilder[String]
    val seen = scala.collection.mutable.HashSet[String]()
    for (raw <- text.linesIterator) {
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val c = line.indexOf(':')
      if (c > 0 && line.substring(0, c).trim.equalsIgnoreCase("sitemap")) {
        val value = line.substring(c + 1).trim
        if (value.nonEmpty && seen.add(value)) out += value
      }
    }
    out.result()
  }

  /** Parse ONE robots.txt body into the engine's [[RobotsRule]] model
    * (REP / RFC 9309, matching what the broadcast filter evaluates):
    * the selected group's Disallow/Allow path patterns (stored verbatim —
    * `*`/trailing-`$` wildcards are interpreted by the MATCHERS, see
    * [[patternMatches]]/[[allowedCol]]) plus Crawl-delay (seconds,
    * fractional ok → ms). Consecutive User-agent lines share a group;
    * keys are case-insensitive; `#` comments strip; an EMPTY `Disallow:`
    * value means allow-all and adds no prefix; an unparseable body or no
    * applicable group yields the permissive empty rule.
    *
    * GROUP SELECTION (RFC 9309 §2.2.1): with the default `agent = ""` the
    * engine crawls as an anonymous agent and only `User-agent: *` groups
    * apply — the per-host broadcast-rule model the reference contract
    * (BASELINE.json:6) materializes. Pass the crawler's product token as
    * `agent` to honor agent-specific groups: a group's UA token matches
    * when it is a case-insensitive prefix of the product token, the
    * LONGEST matching token wins (the reference implementations'
    * most-specific-group rule), every group carrying a winning token
    * merges in document order, and `*` groups apply only when no named
    * token matches at all.
    */
  def parseRobotsTxt(host: String, text: String, agent: String = ""): RobotsRule = {
    // pass 1: the document as UA-token groups
    val groups = Vector.newBuilder[RuleGroup]
    var agents = Vector.newBuilder[String]
    var dis = Vector.newBuilder[String]
    var alw = Vector.newBuilder[String]
    var delayMs = 0L
    var agentRun = false // consecutive User-agent lines extend one group
    var open = false
    def closeGroup(): Unit = if (open) {
      groups += RuleGroup(agents.result(), dis.result(), alw.result(), delayMs)
      agents = Vector.newBuilder[String]; dis = Vector.newBuilder[String]
      alw = Vector.newBuilder[String]; delayMs = 0L
      open = false
    }
    if (text != null) for (raw <- text.linesIterator) {
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (!agentRun) closeGroup() // a NEW group starts
            agents += value
            agentRun = true
            open = true
          case _ =>
            agentRun = false
            if (open) key match {
              case "disallow" => if (value.nonEmpty) dis += value
              case "allow" => if (value.nonEmpty) alw += value
              case "crawl-delay" =>
                value.toDoubleOption.filter(d => d > 0 && d.isFinite)
                  .foreach(d => delayMs = math.round(d * 1000))
              case _ => () // sitemap etc.
            }
        }
      }
    }
    closeGroup()
    // pass 2: group selection
    val all = groups.result()
    val a = agent.trim.toLowerCase
    val bestLen =
      if (a.isEmpty) 0
      else all.iterator.flatMap(_.agents).map(_.toLowerCase)
        .filter(t => t.nonEmpty && t != "*" && a.startsWith(t))
        .map(_.length).maxOption.getOrElse(0)
    val chosen =
      if (bestLen > 0)
        // bestLen was computed over LOWERCASED tokens; compare lengths on the
        // same form — Unicode case mappings can change string length (e.g.
        // 'İ' → "i̇"), and a raw-length compare would drop the winning group
        all.filter(_.agents.exists { t =>
          val lt = t.toLowerCase
          lt.length == bestLen && a.startsWith(lt)
        })
      else all.filter(_.agents.contains("*"))
    val mergedDelay = chosen.foldLeft(0L)((acc, g) => if (g.delayMs > 0) g.delayMs else acc)
    RobotsRule(host, chosen.flatMap(_.dis), chosen.flatMap(_.alw), mergedDelay)
  }

  /** Distributed materialization: (host, robots_txt) rows → the broadcast
    * rules table. The natural feed is the crawl's own fetches of
    * `http://host/robots.txt` (or a WARC archive's robots captures).
    */
  def fromTexts(robotsTxt: DataFrame, hostCol: String = "host",
                textCol: String = "robots_txt", agent: String = ""): Dataset[RobotsRule] = {
    val spark = robotsTxt.sparkSession
    import spark.implicits._
    robotsTxt.select(col(hostCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .map { case (h, t) => parseRobotsTxt(h, t, agent) }
  }

  /** Derive the rules table from the page store's own `/robots.txt`
    * captures — the zero-extra-input path for a store ingested from WARC
    * ([[graft.sources.Warc.toPages]] keeps robots.txt responses like any
    * other capture). One rule per host (multiple captures: latest warc_ts
    * wins, matching [[graft.crawl.PageStore.latestCapture]] semantics), so
    * the [[requireUniqueHosts]] precondition holds by construction.
    *
    * Parses the RAW decoded body (`html` — the bytes after the HTTP layer's
    * chunked/content-encoding decode), NOT the extracted `text` column:
    * [[graft.extract.Extract.textCol]] collapses ALL whitespace runs —
    * including newlines — to single spaces, and robots.txt is a
    * LINE-oriented format, so a text-column parse would see one giant line
    * and silently yield the permissive empty rule for every host. Bytes
    * decode as UTF-8 with replacement (RFC 9309 §2.3 mandates UTF-8; a
    * malformed byte must not fail ingestion).
    */
  def fromPages(pages: DataFrame, urlCol: String = "url", bodyCol: String = "html",
                agent: String = ""): Dataset[RobotsRule] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .filter(UrlFunctions.pathOfUdf(col(urlCol)) === "/robots.txt")
      .select(UrlFunctions.hostOfUdf(col(urlCol)).as("host"),
        col("warc_ts"), col(bodyCol).cast("binary").as("body"))
      .groupBy(col("host"))
      .agg(max(struct(col("warc_ts"), col("body"))).as("m"))
      .select(col("host"), col("m.body").as("body"))
      .as[(String, Array[Byte])]
      .map { case (h, b) =>
        parseRobotsTxt(h,
          if (b == null) null else new String(b, java.nio.charset.StandardCharsets.UTF_8),
          agent)
      }
  }

  private def bestMatchPrepared(rules: Column, path: Column): Column =
    coalesce(
      array_max(transform(filter(rules, r => like(path, r("lp"))), r => r("len"))),
      lit(-1))

  /** Split `frontier` (needs url + host columns) into (allowed, dropped).
    *
    * The rule arrays are converted to (likePattern, specificity) structs
    * ONCE, on the tiny pre-broadcast side — the per-frontier-row work is
    * then a plain LIKE per rule, not a rebuild of each pattern's
    * escape/convert chain per row (identical semantics to [[allowedCol]],
    * which stays as the single-expression API).
    */
  def partition(frontier: DataFrame, robots: Dataset[RobotsRule]): (DataFrame, DataFrame) = {
    def prep(c: Column): Column =
      transform(c, p => struct(toLikePattern(p).as("lp"), length(p).as("len")))
    val prepared = robots.toDF()
      .withColumn("__dis", prep(col("disallow")))
      .withColumn("__alw", prep(col("allow")))
      .drop("disallow", "allow")
    val path = UrlFunctions.pathOfUdf(col("url"))
    val dis = bestMatchPrepared(col("__dis"), path)
    val alw = bestMatchPrepared(col("__alw"), path)
    val joined = frontier
      .join(broadcast(prepared), Seq("host"), "left")
      .withColumn("__allowed", col("__dis").isNull || dis === -1 || alw >= dis)
    val keep = frontier.columns.map(col)
    (joined.filter(col("__allowed")).select(keep: _*),
      joined.filter(!col("__allowed")).select(keep: _*))
  }
}
