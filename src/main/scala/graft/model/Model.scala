package graft.model

import java.sql.Timestamp

/** Core data model for the Spark-native crawl engine (SURVEY.md §1.2).
  *
  * The input table shape (url, warc_ts, html, text, lang) is mandated by
  * BASELINE.json:15 ("Iceberg table of Common-Crawl-style web pages").
  * All other shapes are designed here for the batch-iterative frontier loop.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One frontier row. `(pord, pos)` is the structural FIFO enqueue key
  * (SURVEY.md §7.4): `pord` is the parent's fetch ordinal — an opaque long,
  * strictly monotone with the parent's own enqueue key across the whole
  * crawl — and `pos` the link index within the parent page. Crawl order is
  * lexicographic (round, pord, pos): exactly the reference's FIFO queue
  * order (children enqueue in parent-fetch order, then document order),
  * invariant under partitioning, parallelism level, and resume. CONSTANT
  * 16-byte key at any depth — unlike a path vector, which would grow 8
  * bytes per level and ride every shuffle and sort.
  * Seeds carry pord = -1 (before all fetched pages), pos = seed index.
  */
final case class FrontierEntry(
    url: String,
    urlHash: Long,
    host: String,
    depth: Int,
    pord: Long,
    pos: Long,
    attempt: Int)

/** A fetched-URL record; deterministic crawl order = (round, pord, pos).
  * pord/pos values are opaque (parallelism-dependent spacing); their ORDER
  * is the invariant.
  */
final case class CrawlOrderRow(
    url: String,
    round: Int,
    depth: Int,
    pord: Long,
    pos: Long)

/** Result of one runner (or the built-in pseudo-runners `__redirect__` /
  * `__fetch__`) on one URL — mirrors the reference's nested results object
  * flattened to columns (SURVEY.md §1.1).
  */
final case class RunnerResult(
    url: String,
    round: Int,
    runner: String,
    result: Option[String],
    error: Option[String])

/** Member of the exact URL-seen set (bloom shards are only a pre-filter;
  * exactness is required by BASELINE.json:6).
  */
final case class SeenEntry(url: String, urlHash: Long, round: Int)

/** robots.txt rules materialized as a broadcast table (BASELINE.json:6). */
final case class RobotsRule(
    host: String,
    disallow: Seq[String],
    allow: Seq[String],
    crawlDelayMs: Long)

/** Per-round, per-shard fetch lineage/metrics (BASELINE.json:14). */
final case class Lineage(
    round: Int,
    shard: Int,
    admitted: Long,
    fetched: Long,
    discovered: Long,
    dedupDropped: Long,
    robotsDropped: Long,
    budgetDeferred: Long,
    errors: Long,
    retries: Long,
    wallMs: Long)

/** URL admission policy — a small closed ADT so the Spark plan (Column
  * expressions) and the sequential reference oracle interpret *identical*
  * semantics. Mirrors crawlkit's `urlFilter` (drop) + same-domain test-suite
  * scoping; `RewritePrefix` mirrors urlFilter's rewrite capability.
  */
sealed trait UrlPolicy extends Serializable
object UrlPolicy {
  case object AllowAll extends UrlPolicy
  /** keep only URLs whose host is one of the seed hosts */
  case object SameDomain extends UrlPolicy
  /** drop URLs whose path starts with any of the prefixes */
  final case class DenyPathPrefix(prefixes: Seq[String]) extends UrlPolicy
  /** Drop URLs whose host equals, or sits under, any listed domain
    * (subtree semantics: `ads.x.com` is denied by `x.com`) — the
    * driver-known-config form of the blocklist; for list sizes beyond
    * config scale use [[graft.url.Blocklist.filterBlocked]]'s
    * suffix-chain join instead.
    */
  final case class DenyDomains(domains: Seq[String]) extends UrlPolicy
  /** Drop URLs whose host is EXACTLY one of the listed hosts (no subtree
    * matching — the shape trap feedback needs: detection is per-host, so
    * only that host blocks).
    */
  final case class DenyHosts(hosts: Set[String]) extends UrlPolicy
  /** all policies must pass */
  final case class And(policies: Seq[UrlPolicy]) extends UrlPolicy
}

/** Optional URL rewrite applied after canonicalization, before policy —
  * mirrors crawlkit urlFilter returning a different URL.
  */
final case class UrlRewrite(fromPrefix: String, toPrefix: String)

/** Crawl configuration. Defaults transcribe crawlkit's documented defaults:
  * redirects not followed, 3 tries, no depth cap; `hostBudget` generalizes
  * the reference's global `concurrency` limit into the per-host politeness
  * budget demanded by the north rule (BASELINE.json:14).
  */
final case class CrawlConfig(
    followRedirects: Boolean = false,
    maxTries: Int = 3,
    hostBudget: Int = Int.MaxValue,
    policy: UrlPolicy = UrlPolicy.SameDomain,
    redirectPolicy: UrlPolicy = UrlPolicy.AllowAll,
    rewrite: Option[UrlRewrite] = None,
    maxRounds: Int = 64,
    maxDepth: Int = Int.MaxValue,
    /** Nominal wall-clock per crawl round in ms; > 0 ENFORCES each host's
      * robots crawlDelayMs as a per-round fetch budget:
      * min(hostBudget, max(1, roundWallMs / crawlDelayMs)). 0 = politeness
      * budget only (crawl-delay rules not enforced).
      */
    roundWallMs: Long = 0L,
    /** number of URL-seen bloom shards (and frontier hash shards). Fixed
      * when the store is created: a resume keeps the count recorded in the
      * store's commit manifests, so this value applies only to a new store.
      */
    shards: Int = 32,
    /** expected insertions per bloom shard (sizing; the target FPR is
      * fixed at 1% in [[graft.filterset.BloomShards]])
      */
    bloomExpectedPerShard: Long = 1L << 20,
    /** use the sharded bloom pre-filter in front of the exact anti-join
      * (bloom is the only per-shard seen structure)
      */
    bloomPrefilter: Boolean = true,
    /** broadcast the frontier side of the fetch join when smaller than this */
    broadcastFrontierMaxRows: Long = 2_000_000L,
    /** salt factor for hosts whose admitted rows exceed one task's comfort */
    saltFactor: Int = 8,
    /** rewrite the seen set as one compacted snapshot every K rounds, so the
      * per-round read unions O(K) delta dirs instead of O(rounds) (Iceberg
      * analog: snapshot compaction)
      */
    compactSeenEvery: Int = 16,
    /** The user-agent token this crawl identifies as for RFC 9309 §2.2.1
      * group selection — feeds Robots.fromTexts/fromPages when the rules
      * table is derived from raw robots.txt content
      * ([[graft.crawl.CrawlLoop.withTextRobots]]/[[graft.crawl.CrawlLoop.withStoreRobots]]).
      * "" = only `User-agent: *` groups apply. Ignored when a pre-parsed
      * rules table is passed directly (agent selection happened at parse).
      */
    agent: String = "",
    /** Adaptive crawl-trap feedback: every K rounds, run
      * [[graft.url.Traps]]-style detection over the URL-seen set and stop
      * crawling hosts that cross the thresholds — carried frontier entries
      * purge, new discoveries to those hosts stop enqueuing (so they are
      * never marked seen). 0 = off. Detection is a pure function of the
      * seen set at each boundary, so a resumed crawl recomputes the same
      * trap set and parity with the sequential oracle holds exactly.
      */
    trapDetectEvery: Int = 0,
    /** minimum distinct URLs before a host can be trapped (evidence floor) */
    trapMinUrls: Long = 100L,
    /** distinct-urls/distinct-patterns threshold in basis points */
    trapMinRatioBp: Long = 50000L,
    /** Normalize every enqueued URL (seeds, links, redirect targets) with
      * [[graft.url.Urls.stripTrackingParams]] — drop tracking query
      * params (any utm_ prefix, gclid, fbclid, msclkid, ref) and sort
      * the rest — so campaign-tagged links to one page collapse to ONE
      * seen-set entry instead of minting a fresh URL per inbound
      * campaign. Off by default: the reference semantics fetch the URL
      * as discovered.
      */
    stripTracking: Boolean = false)

/** A runner — the engine's typed-UDF surface (SURVEY.md §2 #12). Must be a
  * deterministic pure function for crawl parity; Left = error recorded under
  * the runner's key, Right = result.
  *
  * Every invocation runs under a per-runner TIME BUDGET ([[Runners.run]]),
  * mirroring crawlkit's runner contract (each runner executes under a
  * `timeout`, default 10 s, and a breach records a timeout error) — a
  * pathological runner must never stall a whole executor task. A timeout
  * yields `Left(Runners.timeoutError(timeoutMs))` — identical on the Spark
  * path and the sequential oracle, so parity holds whenever the runner's
  * actual cost is well clear of the budget (a runner AT the budget boundary
  * is nondeterministic by nature — pick budgets with margin).
  */
trait PageRunner extends Serializable {
  def apply(page: Page): Either[String, String]

  /** per-invocation wall budget in ms; <= 0 disables the bound (runs inline
    * on the caller thread, no executor handoff)
    */
  def timeoutMs: Long = 10000L
}

/** Time-bounded runner execution — the ONE implementation both the Spark
  * flatMap and the sequential reference oracle call, so a timeout produces
  * the byte-identical error row on both paths.
  */
object Runners {
  def timeoutError(timeoutMs: Long): String = s"timeout after ${timeoutMs} ms"

  /** daemon pool: runner tasks must never block JVM exit; cached = one live
    * thread per concurrently-executing partition, reused across rows
    */
  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-runner")
      t.setDaemon(true)
      t
    })

  /** run `fn(page)` under its own `timeoutMs`. On breach the worker thread
    * is interrupted (cooperative — a runner hard-looping past its budget
    * leaks its thread until it yields, the standard JVM limitation) and the
    * timeout error is recorded. Runner exceptions propagate unchanged (the
    * pre-timeout behavior: a throwing runner fails the task loudly).
    */
  def run(fn: PageRunner, page: Page): Either[String, String] = {
    val t = fn.timeoutMs
    if (t <= 0) fn(page)
    else {
      val fut = pool.submit(new java.util.concurrent.Callable[Either[String, String]] {
        override def call(): Either[String, String] = fn(page)
      })
      try fut.get(t, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          Left(timeoutError(t))
        case e: java.util.concurrent.ExecutionException =>
          val c = e.getCause
          throw (if (c == null) e else c)
        case _: InterruptedException =>
          fut.cancel(true)
          Thread.currentThread().interrupt()
          Left(timeoutError(t))
      }
    }
  }
}
