package graft.url

import graft.model.{UrlPolicy, UrlRewrite}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** One UrlPolicy ADT, two interpreters (SURVEY.md §2 #7): a pure predicate
  * for the sequential reference oracle, and a Column compiler for the
  * distributed plan — both driven by the same seed-host set, so the
  * same-domain policy / urlFilter semantics cannot drift between the two.
  */
object Policy extends Serializable {

  /** pure interpreter */
  def allows(p: UrlPolicy, url: String, host: String, seedHosts: Set[String]): Boolean = p match {
    case UrlPolicy.AllowAll => true
    case UrlPolicy.SameDomain => seedHosts.contains(host)
    case UrlPolicy.DenyPathPrefix(prefixes) =>
      val path = Urls.pathOf(url)
      !prefixes.exists(path.startsWith)
    case UrlPolicy.DenyDomains(ds) => !ds.exists(Blocklist.blockedBy(host, _))
    case UrlPolicy.DenyHosts(hs) => !hs.contains(host)
    case UrlPolicy.And(ps) => ps.forall(allows(_, url, host, seedHosts))
  }

  /** Column compiler. `url`/`host` are columns of canonical URLs and their
    * hosts. Seed hosts arrive as a literal set (seeds are driver-known and
    * tiny; a broadcast join would be overkill for a handful of hosts).
    * Path prefix checks reuse the engine's own pathOf via [[UrlFunctions]]
    * so byte-semantics match the pure interpreter exactly.
    */
  def allowsCol(p: UrlPolicy, url: Column, host: Column, seedHosts: Set[String]): Column = p match {
    case UrlPolicy.AllowAll => lit(true)
    case UrlPolicy.SameDomain =>
      if (seedHosts.isEmpty) lit(false) else host.isin(seedHosts.toSeq: _*)
    case UrlPolicy.DenyPathPrefix(prefixes) =>
      val path = UrlFunctions.pathOfUdf(url)
      prefixes.map(pre => !path.startsWith(lit(pre))).reduceOption(_ && _).getOrElse(lit(true))
    case UrlPolicy.DenyDomains(ds) =>
      // config-scale list → codegen predicate chain (same stance as the
      // seed-host isin); byte-semantics of Blocklist.blockedBy exactly
      ds.map(d => !(host === d || host.endsWith("." + d)))
        .reduceOption(_ && _).getOrElse(lit(true))
    case UrlPolicy.DenyHosts(hs) =>
      if (hs.isEmpty) lit(true) else !host.isin(hs.toSeq.sorted: _*)
    case UrlPolicy.And(ps) =>
      ps.map(allowsCol(_, url, host, seedHosts)).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** pure rewrite */
  def rewrite(r: Option[UrlRewrite], url: String): String = r match {
    case Some(UrlRewrite(from, to)) if url.startsWith(from) => to + url.substring(from.length)
    case _ => url
  }

  /** Column rewrite mirror */
  def rewriteCol(r: Option[UrlRewrite], url: Column): Column = r match {
    case Some(UrlRewrite(from, to)) =>
      when(url.startsWith(lit(from)),
        concat(lit(to), substring(url, from.length + 1, Int.MaxValue)))
        .otherwise(url)
    case None => url
  }
}

/** UDF registrations for the pure URL functions. Canonicalization is a
  * Scala UDF by design choice (SURVEY.md §4.3): it must be byte-identical
  * with the reference oracle's pure function, and it runs on the (small)
  * discovered-links side, never on the 10^10-row page store side — upgrade
  * to a codegen Expression only if profiling shows it dominating.
  */
object UrlFunctions extends Serializable {
  import org.apache.spark.sql.functions.udf

  val canonicalizeUdf2 = udf((base: String, href: String) =>
    if (base == null || href == null) None else Urls.canonicalize(base, href))

  /** canonicalize + host in ONE UDF pass — the discovery hot path runs over
    * every extracted link, so one UTF8String<->String round-trip, not two
    */
  val canonicalizeWithHostUdf = udf((base: String, href: String) =>
    if (base == null || href == null) None
    else Urls.canonicalize(base, href).map(u => (u, Urls.hostOf(u))))

  def canonicalizeWithHost(base: Column, href: Column): Column =
    canonicalizeWithHostUdf(base, href)
  val canonicalizeAbsUdf = udf((u: String) =>
    if (u == null) None else Urls.canonicalizeAbsolute(u))
  val hostOfUdfF = udf((u: String) => if (u == null) "" else Urls.hostOf(u))
  val pathOfUdfF = udf((u: String) => if (u == null) "/" else Urls.pathOf(u))

  def canonicalize(base: Column, href: Column): Column = canonicalizeUdf2(base, href)
  def canonicalizeAbs(u: Column): Column = canonicalizeAbsUdf(u)
  def hostOfUdf(u: Column): Column = hostOfUdfF(u)
  def pathOfUdf(u: Column): Column = pathOfUdfF(u)

  /** Column mirror of [[Urls.stripTrackingParams]] — pure codegen
    * built-ins (split/filter/array_sort/array_join), no UDF: unlike
    * canonicalization this may also run corpus-side (normalizing a
    * url column before dedup), where a UDF round-trip would cost.
    * array_sort compares UTF-8 bytes, which is the pure function's
    * code-point order, so the two agree on any Unicode query (pinned by
    * the parity sweep).
    */
  def stripTrackingCol(url: Column): Column = {
    import org.apache.spark.sql.functions._
    val qpos = instr(url, "?")
    val base = url.substr(lit(1), qpos - 1)
    val query = url.substr(qpos + 1, length(url))
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(Urls.TrackingParamPattern)))
    when(qpos === 0, url)
      .otherwise(when(size(kept) === 0, base)
        .otherwise(concat(base, lit("?"), array_join(kept, "&"))))
  }
}
