package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** robots.txt — the crawl's COMPLIANCE surface (RFC 9309). Common
  * Crawl captures robots responses as their own WARC member family,
  * and a training-data pipeline that re-fetches or filters by
  * crawlability needs the rules queryable next to the corpus: which
  * host allows which path patterns for which user agent. Verbs:
  * [[srcWarcRobots]] parses robots captures from a `.warc.gz` lake
  * into a DIRECTIVE table (one row per allow/disallow/crawl-delay/
  * sitemap line, group-attributed), [[compliance]] joins a corpus
  * against that table under the RFC's evaluation rules —
  * most-specific group per user agent (§2.2.1), LONGEST-MATCH rule
  * per path with `*`/`$` wildcard support (§2.2.2-2.2.3), allow wins
  * length ties, no match means allowed — and [[pipeFetchSchedule]] /
  * [[pipeFetchScheduleSharded]] space the allowed fetches by each
  * host's crawl-delay under the same group selection.
  *
  * Availability semantics (§2.3.1): a 4xx robots response means "no
  * rules — everything allowed" (the parse emits a dated TOMBSTONE so
  * a newer 404 can still WIN latest-capture resolution and erase
  * older rules — the RFC's robots.txt-was-deleted case); a 5xx
  * response means "unreachable — assume COMPLETE DISALLOW"
  * (§2.3.1.4: the parse emits a synthetic `*`/disallow-`/` row). A
  * 3xx robots response is RESOLVED IN-LAKE (§2.3.1.2): the most
  * common robots response in real crawls is a redirect (http→https,
  * apex→www), and when the lake captured the target too,
  * [[resolveRedirects]] follows the Location chain across captures —
  * at most five hops per the RFC; loops and longer chains resolve to
  * unavailable, as does a 3xx whose Location is not a robots
  * location at all.
  *
  * Percent-encoding (§2.2.2's comparison rule, r19): BOTH sides of
  * the match pass through
  * [[graft.functions.UriFunctions.percentNormalize]] — RFC 3986
  * §6.2.2.2 syntax normalization (decode unreserved-character
  * escapes, case-normalize the hex of the rest), the safe core of
  * the canonical form 9309 compares on. `%2F` stays an encoded
  * slash (the RFC's carve-out), and `%2A`/`%24` stay encoded rather
  * than fabricating a wildcard or anchor the robots author
  * explicitly escaped.
  *
  * Scale shape: the rules table is host-proportional (tens of bytes
  * per host — ~10 GB at 10⁸ hosts), so the compliance join shuffles
  * BOTH sides on host rather than assuming a broadcastable dimension;
  * the corpus side carries only (doc_id, host, path), never bodies.
  * Wildcard-free rules (the overwhelming majority in the wild) match
  * through a codegen'd prefix test; only rules that actually carry
  * `*`/`$` pay the LIKE evaluation. Parsing is the usual shard-grain
  * map-side walk with the two-level totality contract of every other
  * crawl ingest.
  *
  * Reference scope: the Go engine has no compliance plane (its corpus
  * is Gutenberg files, `main.go:25`); this extends the crawl family
  * the way the WAT/cdx verbs do — same container, same oracles
  * discipline. */
object Robots {

  /** One parsed directive: which host's robots, which user-agent
    * group it sits in (`""` for file-scoped records like sitemap),
    * the directive name (`allow` / `disallow` / `crawl-delay` /
    * `sitemap`), and its value (a path pattern, the delay, or the
    * sitemap URL). */
  final case class RobotsDirective(host: String, userAgent: String,
                                   directive: String, value: String)

  /** Parse ONE robots.txt body per RFC 9309 §2: `field: value` lines,
    * `#` comments stripped, field names case-insensitive, groups
    * formed by consecutive `User-agent` lines followed by their
    * rules — a rule line CLOSES the user-agent accumulation (a later
    * `User-agent` starts a new group), and a group may name several
    * agents (each gets every rule of its group). Unknown fields and
    * rules outside any group are ignored (the RFC's error tolerance);
    * `crawl-delay` is widely shipped though not in the RFC, and rides
    * the same group grammar; `sitemap` lines are FILE-scoped records
    * (they neither join nor interrupt a group — emitted with an empty
    * user agent). Returns directives in file order. */
  def parseRobots(host: String, body: String): Vector[RobotsDirective] = {
    val out = Vector.newBuilder[RobotsDirective]
    var agents = Vector.empty[String]  // the OPEN group's user agents
    var accumulating = false           // still collecting User-agent lines?
    body.linesIterator.foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          // Locale.ROOT throughout the plane: locale-default lowering
          // would key 'I' to dotless ı on a Turkish-locale JVM and
          // silently drop a host's rules — failing OPEN (r19 advice)
          val field = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          field match {
            case "user-agent" =>
              val v = value.toLowerCase(java.util.Locale.ROOT)
              if (accumulating) agents :+= v
              else { agents = Vector(v); accumulating = true }
            case "allow" | "disallow" | "crawl-delay" =>
              accumulating = false
              agents.foreach(a => out += RobotsDirective(host, a, field, value))
            case "sitemap" =>
              out += RobotsDirective(host, "", "sitemap", value)
            case _ => () // unknown fields: not group rules, ignored
          }
        }
      }
    }
    out.result()
  }

  /** Canonical host key of a robots capture URI, or None when the URI
    * is NOT a robots.txt location. RFC 9309 §2.3: the rules file
    * lives at the path `/robots.txt` of an authority — a URI whose
    * path merely ENDS in `/robots.txt` (`/blog/robots.txt`) is an
    * ordinary page and carries no rules. Scheme and host compare
    * case-insensitively (RFC 3986 §6.2.2.1) and default ports are
    * elided (§6.2.3), so equivalent authorities produce the SAME join
    * key: `HTTPS://X.ORG:443/robots.txt` → `https://x.org`. The
    * corpus side of [[compliance]] must key hosts under the same
    * normalization — this function IS the key contract.
    *
    * TOTAL hand parse, deliberately not `java.net.URI`: real
    * WARC-Target-URI headers routinely carry raw IDN hosts and other
    * not-quite-RFC-3986 spellings that URI() rejects, and a
    * compliance plane that DROPS a host's rules on a parse exception
    * fails open (everything allowed) — the wrong failure direction.
    * Userinfo is stripped, bracketed IPv6 authorities keep their
    * brackets, and a malformed port (non-digits, out of range)
    * rejects the capture rather than mis-keying it. */
  // compiled once — robotsHostKey runs per WARC record on the
  // ingest's dominant parse path
  private val SchemeRest = "(?s)^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*).*$".r

  private def asciiDigits(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9') // URI ports are ASCII DIGIT only

  /** Capture fingerprint for instant-tie resolution: the first eight
    * bytes of the MD5 of the raw record bytes, as a big-endian long.
    * 64 bits (not a 32-bit CRC) so "equal instant AND equal
    * fingerprint" means byte-identical captures for any lake a crawl
    * can actually produce — the tiebreak must never silently MERGE
    * two distinct bodies. Shared by the robots and sitemap parses. */
  private[graft] def captureFp(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def robotsHostKey(uri: String): Option[String] =
    uri match {
      // the path compares in the same §6.2.2.2 normal form as rule
      // matching, so /robots%2Etxt — a spelling java.net.URI accepted
      // — still keys instead of failing open
      case SchemeRest(sch, auth0, path) if auth0.nonEmpty &&
          graft.functions.UriFunctions.percentNormalize(path) == "/robots.txt" =>
        val scheme = sch.toLowerCase(java.util.Locale.ROOT)
        // RFC 3986 delimits userinfo at the LAST '@' of the authority
        val auth = auth0.substring(auth0.lastIndexOf('@') + 1)
        val hostPort: Option[(String, Option[String])] =
          if (auth.startsWith("[")) {
            val e = auth.indexOf(']')
            if (e < 0) None
            else auth.substring(e + 1) match {
              case ""                     => Some((auth.substring(0, e + 1), None))
              case p if p.startsWith(":") => Some((auth.substring(0, e + 1), Some(p.drop(1))))
              case _                      => None
            }
          } else auth.lastIndexOf(':') match {
            case -1 => Some((auth, None))
            case i  => Some((auth.substring(0, i), Some(auth.substring(i + 1))))
          }
        hostPort.flatMap { case (hostRaw, portRaw) =>
          val port: Option[Option[Int]] = portRaw match {
            case None => Some(None)
            case Some(p) if asciiDigits(p) && p.length <= 5 && p.toInt <= 65535 =>
              val n = p.toInt
              if ((scheme == "http" && n == 80) || (scheme == "https" && n == 443)) Some(None)
              else Some(Some(n))
            case _ => None // malformed port: reject, don't mis-key
          }
          if (hostRaw.isEmpty) None
          else port.map { po =>
            val host = hostRaw.toLowerCase(java.util.Locale.ROOT)
            po.fold(s"$scheme://$host")(n => s"$scheme://$host:$n")
          }
        }
      case _ => None
    }

  /** Parse every robots capture in a `.warc.gz` lake into the
    * RESOLVED directive table: raw capture-grain rows
    * ([[robotsRowsFromShardBytes]]) under LATEST-CAPTURE-WINS. A real
    * crawl lake holds several robots captures per host across the
    * crawl window, and merging their directives is wrong in both
    * directions — a transient 503's synthetic disallow-all would
    * poison a later healthy fetch, and an earlier healthy fetch
    * would mask a later 5xx the RFC says must blanket-block, and a
    * newer 404 (robots deleted) must erase older rules — which is
    * why EVERY capture leaves dated rows, unavailability included
    * (the tombstone). Only the rows of each host's NEWEST capture
    * (by `fetched_ord`, the PARSED WARC-Date instant — string order
    * breaks on mixed second/sub-second precision; instant TIES break
    * deterministically on the capture fingerprint, never a merge;
    * undated captures lose to any dated one) survive
    * into compliance, and a winning tombstone then resolves to NO
    * rows — exactly §2.3.1.3's "unavailable ⇒ allowed". One window
    * over the host-partitioned rules table — per-host rows are that
    * host's directive count, bounded — then the bookkeeping columns
    * drop. */
  def robotsFromWarcFiles(s: SparkSession, lake: String): DataFrame = {
    import s.implicits._
    val raw = robotsRowsFromShardBytes(
      s.read.format("binaryFile").load(lake).select($"content").as[Array[Byte]])
    resolveRedirects(resolveLatest(raw))
  }

  /** In-lake robots REDIRECT resolution (RFC 9309 §2.3.1.2): a host
    * whose winning capture is a 3xx is governed by the rules at the
    * redirect TARGET — and robots redirects (http→https, apex→www)
    * are the single most common robots response in a real crawl, so
    * resolving them statically is the difference between "rules
    * applied" and "allowed by absence" for whole host classes. The
    * chain is followed ACROSS captures by a bounded iterative join
    * (the `src_warc_revisit` precedent) keyed by the target's
    * [[robotsHostKey]]:
    *
    *  - each hop joins the redirect frontier against the per-host
    *    next-hop map (hosts whose winner is itself a redirect);
    *  - a frontier entry whose current host is NOT a redirect has
    *    ARRIVED: the origin adopts the target's terminal rows,
    *    re-stamped under the origin's host key — except `sitemap`
    *    records, which are FILE-scoped discovery facts and stay with
    *    the host that actually serves them, and `unavailable`
    *    tombstones, which resolve to no rules exactly as they do
    *    for the target itself;
    *  - an arrival at a host with NO capture at all is
    *    allowed-by-absence (the join simply finds no rows);
    *  - the RFC caps the walk at FIVE followed redirects: anything
    *    still redirecting after five hops — including every loop —
    *    resolves to `unavailable` (no rules).
    *
    * Scale shape: the frontier and next-hop map are
    * redirecting-host-proportional (a small fraction of the
    * host-proportional winner table); the five hop joins and the
    * final rules join all read the ONE materialized winner table
    * (localCheckpoint — without it each hop would re-execute the
    * whole robots-lake parse). */
  private[graft] def resolveRedirects(winners0: DataFrame): DataFrame = {
    val winners = winners0
      .select(col("host"), col("user_agent"), col("directive"), col("value"))
      .localCheckpoint()
    val terminal = winners.filter(col("directive") =!= "redirect")
    // a redirect winner emits exactly ONE row per host, so this map
    // has one row per still-redirecting host
    val next = winners.filter(col("directive") === "redirect")
      .select(col("host").as("h"), col("value").as("nxt"))
    // ONE chain of five left joins, not five per-hop frontier splits:
    // the split-and-union form re-evaluated each hop's join-chain
    // prefix inside every later arrived branch (1+2+…+5 = 15 join
    // evaluations and a five-way union where five joins suffice —
    // r21, guide §2.4 "remove duplicate subtrees"). Here p0 is the
    // first target (one follow already paid by the redirect row) and
    // p_k the position after k+1 follows; an ARRIVED row's p_k is
    // null, and a null key joins nothing, so arrived rows ride the
    // remaining hops unchanged. Fresh column names per hop: the chain
    // is a repeated self-join on `next`, and reusing attribute names
    // would be ambiguous.
    var chain = next.select(col("h").as("origin"), col("nxt").as("p0"))
    for (hop <- 1 to 5) {
      val n = next.select(col("h").as(s"h_$hop"), col("nxt").as(s"p$hop"))
      chain = chain.join(n, col(s"p${hop - 1}") === col(s"h_$hop"), "left")
        .drop(s"h_$hop")
    }
    // arrival = the first position whose lookup found no further
    // redirect; a non-null p5 means the walk still redirects after
    // five follows — the RFC cap — and every loop: unavailable (drop).
    val fin = when(col("p1").isNull, col("p0"))
      .when(col("p2").isNull, col("p1"))
      .when(col("p3").isNull, col("p2"))
      .when(col("p4").isNull, col("p3"))
      .when(col("p5").isNull, col("p4"))
    val followed = chain.select(col("origin"), fin.as("final"))
      .filter(col("final").isNotNull)
      .join(terminal
        .filter(col("directive") =!= "unavailable" && col("directive") =!= "sitemap")
        .withColumnRenamed("host", "final"), Seq("final"))
      .select(col("origin").as("host"), col("user_agent"), col("directive"), col("value"))
    terminal.filter(col("directive") =!= "unavailable")
      .select(col("host"), col("user_agent"), col("directive"), col("value"))
      .unionByName(followed)
  }

  /** LATEST-CAPTURE-WINS over the raw capture-grain feed: per host,
    * only the rows of the capture with the greatest
    * `(fetched_ord, capture_fp)` survive — the parsed instant ranks
    * first, and the capture fingerprint breaks EXACT instant ties
    * deterministically (two same-instant captures of one host resolve
    * to the higher-fingerprint capture's rows, never a merge; equal
    * instant AND equal fingerprint means byte-identical captures —
    * the same robots file stored twice — whose rows coincide).
    * Winner rows keep every directive kind, tombstones included: the
    * caller decides what `unavailable` resolves to. One window over
    * the host-partitioned raw rows — per-host rows are that host's
    * directive count across its captures, bounded. */
  private[graft] def resolveLatest(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
    raw
      .withColumn("latest", max(struct(col("fetched_ord"), col("capture_fp"))).over(w))
      .filter(col("fetched_ord") === col("latest.fetched_ord") &&
        col("capture_fp") === col("latest.capture_fp"))
      .drop("latest")
  }

  /** The shard-grain CAPTURE-GRAIN walk both deployments parse
    * through — the batch lake scan above and the ingestion-time
    * stream (`src_stream_robots`, the watRowsFromShardBytes rule):
    * envelope decode, status routing, host-key normalization and the
    * RFC grammar all live here once, so the two cannot diverge. One
    * row per directive PER CAPTURE, stamped with the capture's
    * `WARC-Date` (`fetched_at` as written, plus `fetched_ord` — the
    * parsed instant in epoch micros, -1 for undated/unparseable so
    * those captures lose to any dated one — and `capture_fp`, the
    * 64-bit capture fingerprint ([[captureFp]]) that breaks exact
    * instant ties in
    * [[resolveLatest]]) — the raw feed the stream
    * serves and the latest-wins resolution above folds. Status
    * routing per §2.3.1: 2xx parses; 3xx whose Location is a robots
    * location emits ONE dated `redirect` row keyed to the TARGET's
    * canonical host ([[resolveRedirects]] follows the chain in-lake,
    * §2.3.1.2); 4xx and unresolvable 3xx emit ONE dated `unavailable`
    * TOMBSTONE — "no rules, everything allowed", but the capture must
    * still be able to win resolution and erase older rules; 5xx emits
    * the synthetic `*`/disallow-`/` row — "unreachable" means assume
    * complete disallow (§2.3.1.4). */
  private[graft] def robotsRowsFromShardBytes(
      shards: org.apache.spark.sql.Dataset[Array[Byte]]): DataFrame = {
    val s = shards.sparkSession
    import s.implicits._
    shards
      .flatMap { bytes =>
        val rows = try {
          Warc.parseWarcAuto(bytes).iterator
            .filter(r => r.headers.get("warc-type").contains("response") &&
              !r.headers.contains("warc-truncated"))
            .flatMap { r =>
              try {
                robotsHostKey(r.headers.getOrElse("warc-target-uri", "")) match {
                  case None => Iterator.empty
                  case Some(host) =>
                    val at = r.headers.getOrElse("warc-date", "")
                    val ord = try {
                      val inst = java.time.Instant.parse(at)
                      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
                    } catch { case _: Exception => -1L }
                    // the capture FINGERPRINT: the deterministic
                    // tiebreak when two captures of one host carry the
                    // SAME parsed instant — higher fingerprint wins
                    // resolution (r19 design note: ties previously
                    // MERGED, the resolution's only nondeterminism-
                    // shaped corner). Equal instant AND equal
                    // fingerprint means byte-identical captures, whose
                    // rows coincide.
                    val fp = captureFp(r.body)
                    val (status, hh, entity) = Warc.decodeHttpResponse(r.body)
                    if (status >= 500 && status <= 599)
                      Iterator.single((host, "*", "disallow", "/", at, ord, fp))
                    else if (status >= 300 && status <= 399) {
                      // §2.3.1.2: a robots redirect must be FOLLOWED
                      // (http→https, apex→www — the most common robots
                      // response in real crawls). The parse emits one
                      // `redirect` row whose value is the TARGET's
                      // canonical host key; [[resolveRedirects]] walks
                      // the chain across captures (≤5 hops). A
                      // path-relative Location resolves against the
                      // origin authority; a Location that is not a
                      // robots.txt location (or is absent/unparseable)
                      // cannot carry rules — tombstone, as before.
                      val loc = hh.getOrElse("location", "")
                      val abs = if (loc.startsWith("/")) host + loc else loc
                      robotsHostKey(abs) match {
                        case Some(target) =>
                          Iterator.single((host, "", "redirect", target, at, ord, fp))
                        case None =>
                          Iterator.single((host, "", "unavailable", "", at, ord, fp))
                      }
                    }
                    else if (status < 200 || status > 299)
                      Iterator.single((host, "", "unavailable", "", at, ord, fp))
                    else {
                      val cs = Warc.charsetOf(hh.getOrElse("content-type", ""))
                      parseRobots(host, new String(entity, cs)).iterator
                        .map(d => (d.host, d.userAgent, d.directive, d.value, at, ord, fp))
                    }
                }
              } catch { case _: Exception => Iterator.empty }
            }
            .toVector
        } catch { case _: Exception => Vector.empty }
        rows.iterator
      }
      .toDF("host", "user_agent", "directive", "value", "fetched_at", "fetched_ord", "capture_fp")
  }

  /** `src_warc_robots`: the directive table, contractually ordered.
    * Full oracle: the fixture's 16 hosts ship id-keyed grammar arms,
    * so DuckDB rebuilds every row from `range(16)`. */
  def srcWarcRobots(s: SparkSession, dir: String): DataFrame =
    robotsFromWarcFiles(s, robotsLakeDir(s, dir))
      .orderBy(col("host"), col("user_agent"), col("directive"), col("value"))

  /** `src_robots_sitemaps`: the robots grammar's discovery surface —
    * one row per (host, sitemap URL). File-scoped records, so no
    * group selection applies; hosts whose robots is unavailable or
    * unreachable contribute nothing. */
  def srcRobotsSitemaps(s: SparkSession, dir: String): DataFrame =
    robotsFromWarcFiles(s, robotsLakeDir(s, dir))
      .filter(col("directive") === "sitemap")
      .select(col("host"), col("value").as("sitemap"))
      .orderBy(col("host"), col("sitemap"))

  /** Group selection compares PRODUCT TOKENS, case-insensitively
    * (RFC 9309 §2.2.1): a wild robots line like
    * `User-agent: GraftBot/1.2` names the same group as `graftbot` —
    * the version tail after the first `/` is not part of the token
    * (the RFC's token grammar has no `/`; the spelling is common
    * anyway, and exact-string matching would silently fall such a
    * group through to `*`). Applied to BOTH sides: the stored line
    * value (already lowercased by the parse) and the crawler's own
    * configured agent string. */
  def uaToken(userAgent: String): String = {
    val lower = userAgent.toLowerCase(java.util.Locale.ROOT)
    val slash = lower.indexOf('/')
    if (slash >= 0) lower.substring(0, slash) else lower
  }

  /** Column twin of [[uaToken]] for the stored (already-lowercased)
    * directive-table values. */
  private def uaTokenCol(ua: Column): Column = substring_index(ua, "/", 1)

  /** Does `path` match an RFC 9309 rule `value` (§2.2.2-2.2.3)? A
    * rule is a PREFIX pattern over the path: literal octets must
    * appear in order from the path's start, `*` matches any octet
    * sequence, and a TRAILING `$` anchors the pattern at the path's
    * end (a non-trailing `$` is literal). The empty rule matches
    * nothing. Pure-Scala twin of the column matcher in [[compliance]]
    * — PropertySpec fuzzes the two against each other on generated
    * patterns, so they cannot drift. */
  def ruleMatches(path: String, value: String): Boolean =
    if (value.isEmpty) false
    else {
      // §2.2.2 comparison form: both sides percent-normalized by the
      // SAME kernel the column matcher uses (RFC 3986 §6.2.2.2)
      def norm(s: String) = graft.functions.UriFunctions
        .percentNormalize(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      val p = norm(path)
      val v = norm(value)
      val endAnchored = v.endsWith("$")
      val core = if (endAnchored) v.dropRight(1) else v
      // DOTALL so '*' spans ANY octet sequence — including a raw
      // newline in a malformed crawl path — exactly as the column
      // matcher's LIKE '%' does; and \z (true end-of-input), not
      // regex '$', which would also match before a final newline.
      // Without both, the twins disagree on newline-carrying paths
      // (r19 advice).
      val rx = core.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*") + (if (endAnchored) "\\z" else "")
      java.util.regex.Pattern.compile(rx, java.util.regex.Pattern.DOTALL)
        .matcher(p).lookingAt()
    }

  /** SQL LIKE compilation of an RFC 9309 rule value: LIKE metachars
    * (`%`, `_`, `\`) escaped, `*` → `%`, a trailing `$` drops the
    * implicit trailing `%` (end anchor); without it the rule is a
    * prefix. Mirrors [[ruleMatches]] exactly — `%` and `.*` agree on
    * newline-free strings, and URI paths carry no newlines. Computed
    * once per RULE row in [[compliance]], never per doc×rule pair. */
  private[sources] def ruleLikePatternCol(value: Column): Column = {
    val endAnchored = value.endsWith("$")
    val core = when(endAnchored, value.substr(lit(1), length(value) - 1)).otherwise(value)
    val esc = regexp_replace(core, "([\\\\%_])", "\\\\$1")
    val wild = translate(esc, "*", "%")
    when(endAnchored, wild).otherwise(concat(wild, lit("%")))
  }

  /** RFC 9309 compliance of a (doc_id, host, path) corpus against a
    * directive table, for one user agent:
    *  1. GROUP SELECTION (§2.2.1): a host's applicable group is the
    *     exact user-agent match when one exists — even a group with
    *     no path rules at all (a crawl-delay-only group still SELECTS,
    *     yielding "no rules, everything allowed") — else `*`. The
    *     exact-group probe therefore reads the UNFILTERED table.
    *  2. RULE MATCH (§2.2.2-2.2.3): literal rules are prefix tests;
    *     `*` matches any octet sequence and a trailing `$` anchors
    *     the end. The LONGEST match (rule octet length, wildcards
    *     counted as written) wins; an `allow`/`disallow` tie at equal
    *     length resolves to allow; an empty-value rule matches
    *     nothing.
    *  3. No matching rule (or no group at all) means ALLOWED.
    * Shape: one equi-join on host (both sides shuffle — the rules
    * table is host-proportional, not a broadcastable dim at crawl
    * scale), a map-side match — a codegen'd prefix test for
    * wildcard-free rules, LIKE only for rules that carry `*`/`$` —
    * and a max_by aggregation keyed (match length, is-allow): no
    * window, no second shuffle beyond the doc_id grouping. Hosts on
    * both sides must share the [[robotsHostKey]] normalization. */
  def compliance(docs: DataFrame, rules: DataFrame, userAgent: String): DataFrame =
    // materialize the directive table ONCE (the srcWarcRevisit rule):
    // group selection reads it from three positions (the exact-group
    // probe, the exact side, the star side), and without this each
    // position re-executes the whole robots-lake parse — the dominant
    // cost at crawl scale. PlanSpec pins the zero-rescan shape on the
    // registry query. Callers that already materialized the table
    // (the schedule verbs) use [[complianceOn]] directly, so the
    // host-proportional rules are never held twice.
    complianceOn(docs, rules.localCheckpoint(), userAgent)

  /** The APPLICABLE path rules of every host for one user agent —
    * group selection (§2.2.1, product-token matched, exact-else-star,
    * delay-only exact groups still select) applied, empty rules
    * dropped (§2.2.2), values percent-normalized ONCE per rule row
    * and LIKE-compiled. The shared front half of the batch join
    * ([[complianceOn]]) and the per-host rule-set artifact
    * ([[ruleSets]]). */
  private def applicableRules(all: DataFrame, userAgent: String): DataFrame = {
    val s = all.sparkSession
    import s.implicits._
    val ua = uaToken(userAgent)
    // §2.2.1 probe on the UNFILTERED table: a host whose exact-UA
    // group carries only crawl-delay still selects that group
    val exactHosts = all.filter(uaTokenCol($"user_agent") === ua).select($"host").distinct()
    val paths = all.filter($"directive".isin("allow", "disallow"))
    val exact = paths.filter(uaTokenCol($"user_agent") === ua)
    val star = paths.filter($"user_agent" === "*")
      .join(exactHosts, Seq("host"), "left_anti")
    // §2.2.2 comparison form: rule values normalize ONCE per rule row
    // (before the corpus join); paths normalize map-side post-join —
    // both through the same codegen'd kernel, so the two sides can
    // never disagree on spelling
    exact.unionByName(star)
      .filter(length($"value") > 0) // an empty rule value matches nothing (§2.2.2)
      .withColumn("vnorm", graft.functions.UriFunctions.percentNormalize($"value"))
      .select($"host", $"directive", $"vnorm",
        ($"vnorm".contains("*") || $"vnorm".endsWith("$")).as("wild"),
        ruleLikePatternCol($"vnorm").as("pattern"))
  }

  /** [[compliance]] over an ALREADY-MATERIALIZED directive table —
    * `all` must be cheap to read from multiple plan positions (a
    * localCheckpoint or equivalent), or group selection re-executes
    * its whole lineage three times. */
  private[sources] def complianceOn(docs: DataFrame, all: DataFrame,
                                    userAgent: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val applicable = applicableRules(all, userAgent)
    docs
      .withColumn("pnorm", graft.functions.UriFunctions.percentNormalize($"path"))
      .join(applicable, Seq("host"), "left")
      .withColumn("matches", $"vnorm".isNotNull &&
        when($"wild", like($"pnorm", $"pattern", lit("\\")))
          .otherwise($"pnorm".startsWith($"vnorm")))
      .groupBy($"doc_id", $"host")
      .agg(coalesce(
        max_by($"directive" === "allow",
          // §2.2.2 ranks by OCTETS of the canonical form, not
          // characters — a non-ASCII rule octet is longer than its
          // character count shows
          when($"matches", struct(octet_length($"vnorm"), ($"directive" === "allow").cast("int")))),
        lit(true)).as("allowed"))
  }

  /** The per-host RULE-SET artifact for one user agent: group
    * selection, §2.2.2 normalization and LIKE compilation all applied
    * ONCE batch-side, then each host's applicable rules collected
    * into ONE bounded array row — robots files are small by protocol
    * (RFC 9309 §2.5's 500 KiB parse floor), so the array is a few
    * rules, not a skew risk. This is the serving shape an
    * INGESTION-TIME verdict join wants: with the rules as a column,
    * the whole §2.2.2-2.2.3 evaluation becomes a SCALAR expression of
    * (path, rules) — [[verdictOverRuleSet]] — and a streaming
    * documents feed gets verdicts from a stateless stream-static
    * join, no aggregation, no watermark state. */
  private[graft] def ruleSets(rules: DataFrame, userAgent: String): DataFrame =
    applicableRules(rules, userAgent)
      .groupBy(col("host"))
      .agg(collect_list(struct(col("vnorm"), col("wild"), col("pattern"),
        octet_length(col("vnorm")).as("len"),
        (col("directive") === "allow").cast("int").as("is_allow"))).as("rules"))

  /** The RFC 9309 verdict as a SCALAR expression over a normalized
    * path and one host's rule array: filter to matching rules
    * (codegen'd prefix test for wildcard-free rules, LIKE for the
    * rest — the same split as the batch join), rank by
    * (octet length, is-allow) so the longest match wins and allow
    * wins length ties, and default to ALLOWED when nothing matches —
    * including a null array from a host with no rules at all. */
  private[graft] def verdictOverRuleSet(pnorm: Column, rules: Column): Column = {
    val matches = filter(rules, r =>
      when(r.getField("wild"), like(pnorm, r.getField("pattern"), lit("\\")))
        .otherwise(pnorm.startsWith(r.getField("vnorm"))))
    val best = array_max(transform(matches, r =>
      struct(r.getField("len").as("len"), r.getField("is_allow").as("is_allow"))))
    coalesce(best.getField("is_allow") === 1, lit(true))
  }

  /** Compliance of a (doc_id, host, path) frame — batch OR streaming
    * — against a pre-aggregated [[ruleSets]] table: one equi-join on
    * host, the verdict map-side. Must produce row-for-row what
    * [[complianceOn]] produces from the same directives (the
    * streaming twin's gate). */
  def complianceAgainstRuleSets(docs: DataFrame, ruleSets: DataFrame): DataFrame =
    docs
      .withColumn("pnorm", graft.functions.UriFunctions.percentNormalize(col("path")))
      .join(ruleSets, Seq("host"), "left")
      .select(col("doc_id"), col("host"),
        verdictOverRuleSet(col("pnorm"), col("rules")).as("allowed"))

  /** Crawl-delay under the SAME group selection as path rules
    * (§2.2.1): the exact-UA group's delay when the host HAS an exact
    * group (its absence then means the selected group simply doesn't
    * throttle — no fall-through), else the `*` group's delay.
    * Duplicate crawl-delay lines for one (host, group) — legal and
    * common in the wild — collapse to the MAX (the conservative
    * read), so the downstream join never fans out.
    *
    * The delay is returned in integer MILLISECONDS (`delay_ms`):
    * the common wild form `Crawl-delay: 0.5` is FRACTIONAL seconds,
    * and an integral-seconds cast would null it out — dropping the
    * throttle entirely, the wrong failure direction for a politeness
    * control (the r19 verdict's one flagged wrong-way tolerance).
    * `try_cast(decimal)` keeps the arithmetic exact (no float
    * rounding in an oracle-checked value); genuinely non-numeric
    * delays still try_cast to null and drop out of the max — a
    * malformed LINE in one host's robots must not fail the corpus
    * job, but a parseable fractional value must keep throttling. */
  def crawlDelays(rules: DataFrame, userAgent: String): DataFrame = {
    val s = rules.sparkSession
    import s.implicits._
    val ua = uaToken(userAgent)
    val exactHosts = rules.filter(uaTokenCol($"user_agent") === ua).select($"host").distinct()
    val d = rules.filter($"directive" === "crawl-delay")
    val exact = d.filter(uaTokenCol($"user_agent") === ua)
    val star = d.filter($"user_agent" === "*")
      .join(exactHosts, Seq("host"), "left_anti")
    exact.unionByName(star)
      .groupBy($"host")
      .agg((max($"value".try_cast("decimal(18,3)")) * 1000).cast("long").as("delay_ms"))
  }

  /** `pipe_robots_filter`: the corpus × robots compliance join for
    * the fixture crawler UA. Hosts are assigned closed-form
    * (`doc_id % 16`), paths are the crawl's `/doc/<id>`, and each
    * host's rules are decimal-prefix arithmetic — so DuckDB rebuilds
    * the verdict per doc without reimplementing the RFC: the grammar
    * arms (wildcard rules mirror as SQL LIKE patterns, 5xx hosts
    * block everything, 4xx hosts allow everything) are enumerated in
    * [[fixtureRobotsBody]]. The base hosts' `*` group disallows `/`
    * entirely, so group selection is oracle-visible too: resolving
    * the wrong group flips every verdict. */
  def pipeRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    compliance(corpusDocs(s, dir),
      robotsFromWarcFiles(s, robotsLakeDir(s, dir)), fixtureUa)
      .orderBy($"doc_id")
  }

  /** The fixture corpus projection shared by the compliance verbs —
    * batch and streaming: hosts closed-form on `doc_id % 16`, paths
    * `/doc/<id>` — already in [[robotsHostKey]] normal form, the
    * join-key contract. */
  private[graft] def corpusProjection(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(lit("https://h"), (col("doc_id") % 16).cast("string"),
        lit(".example.org")).as("host"),
      concat(lit("/doc/"), col("doc_id").cast("string")).as("path"))

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    corpusProjection(graft.Tables.documents(s, dir))

  /** Shared front half of the two schedule verbs: the allowed corpus
    * and the per-host delay table, off ONE materialized parse. */
  private def scheduleInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // parse and materialize ONCE for both consumers — complianceOn
    // reads this checkpoint directly, so the host-proportional rules
    // table is never held twice
    val rules = robotsFromWarcFiles(s, robotsLakeDir(s, dir)).localCheckpoint()
    val allowed = complianceOn(corpusDocs(s, dir), rules, fixtureUa).filter($"allowed")
    (allowed, crawlDelays(rules, fixtureUa))
  }

  /** `pipe_fetch_schedule`: the compliance plane's CLOSING verb —
    * politeness scheduling. Allowed fetches to one host must be
    * spaced by that host's `crawl-delay`, so each doc's fetch SLOT is
    * `(rank of the doc among its host's allowed fetches) × delay`
    * in integer MILLISECONDS (0-based; hosts without a delay fetch
    * immediately) — millisecond slots keep fractional-second delays
    * exact (`Crawl-delay: 0.5` throttles at 500 ms, it does not
    * silently drop to zero).
    * One shuffle: the per-host window IS the crawler's frontier
    * queue — partitioned by host, ordered by doc_id. At crawl scale
    * the skew is hot hosts (a million-page host is one partition);
    * [[pipeFetchScheduleSharded]] is the production form that shards
    * exactly that — this window form is the semantics layer it
    * shards. Full oracle: allowed-set arithmetic (the filter's
    * closed form) × the fixture delays × ROW_NUMBER, all in SQL. */
  def pipeFetchSchedule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (allowed, delays) = scheduleInputs(s, dir)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"host").orderBy($"doc_id")
    allowed
      .join(delays, Seq("host"), "left")
      .select($"doc_id", $"host",
        ((row_number().over(win) - 1).cast("long") * coalesce($"delay_ms", lit(0L)))
          .as("fetch_slot"))
      .orderBy($"doc_id")
  }

  /** `pipe_fetch_schedule_sharded`: the politeness window's 100 TB
    * twin — IDENTICAL output (spec-gated row-for-row, same oracle),
    * no single-host window partition. A production frontier can't
    * put a million-page host's whole queue in one task, so the
    * global per-host rank is computed in two bounded stages:
    *  1. docs shard into id-range BUCKETS (the time-bucket analog —
    *     monotone in doc_id, so bucket order IS queue order); a
    *     (host, bucket) window ranks within a bucket — per-partition
    *     rows ≤ bucketWidth by construction, skew-free;
    *  2. each bucket's rank offset = docs of the SAME host in EARLIER
    *     buckets: a running sum over the aggregated (host, bucket)
    *     COUNT frame — |buckets-per-host| rows, never raw docs (the
    *     from_type precedent) — joined back on (host, bucket).
    * global rank = offset + local rank. Same two data shuffles as
    * the window form (host+bucket, then the tiny aggregate); the
    * counts join broadcasts at any scale (rows = corpus/bucketWidth
    * aggregates). */
  def pipeFetchScheduleSharded(s: SparkSession, dir: String,
                               bucketWidth: Long = 64L): DataFrame = {
    import s.implicits._
    require(bucketWidth >= 1, s"bucketWidth must be positive, got $bucketWidth")
    val (allowed, delays) = scheduleInputs(s, dir)
    val bucketed = allowed.withColumn("bucket", floor($"doc_id" / bucketWidth))
    val localWin = org.apache.spark.sql.expressions.Window
      .partitionBy($"host", $"bucket").orderBy($"doc_id")
    val offWin = org.apache.spark.sql.expressions.Window
      .partitionBy($"host").orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy($"host", $"bucket").agg(count(lit(1)).as("n"))
      .select($"host", $"bucket", coalesce(sum($"n").over(offWin), lit(0L)).as("off"))
    bucketed
      .withColumn("local_rank", row_number().over(localWin))
      .join(offsets, Seq("host", "bucket"))
      .join(delays, Seq("host"), "left")
      .select($"doc_id", $"host",
        (($"off" + $"local_rank" - 1) * coalesce($"delay_ms", lit(0L))).as("fetch_slot"))
      .orderBy($"doc_id")
  }

  /** `pipe_robots_audit`: the compliance plane's GOVERNANCE rollup —
    * what a pipeline operator actually reads before a crawl window:
    * per host, how much of the corpus is fetchable (n_docs /
    * n_allowed / n_blocked), at what politeness cost
    * (crawl_delay_ms — milliseconds, so fractional-second delays
    * survive), and whether the verdicts rest on rules at all
    * (has_robots —
    * false means "allowed by ABSENCE", a different trust level than
    * "allowed by rule"). Pure composition of the tested parts: one
    * compliance pass aggregated per host, the delay table, and a
    * distinct-host probe of the resolved rules — the directive parse
    * runs ONCE (the scheduleInputs checkpoint discipline). Full
    * oracle: the verdict CASE aggregated closed-form per host. */
  def pipeRobotsAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = robotsFromWarcFiles(s, robotsLakeDir(s, dir)).localCheckpoint()
    val verdicts = complianceOn(corpusDocs(s, dir), rules, fixtureUa)
    val hasRules = rules.select($"host").distinct().withColumn("has_robots", lit(true))
    verdicts
      .groupBy($"host")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"))
      .join(crawlDelays(rules, fixtureUa), Seq("host"), "left")
      .join(hasRules, Seq("host"), "left")
      .select($"host", $"n_docs", $"n_allowed",
        ($"n_docs" - $"n_allowed").as("n_blocked"),
        coalesce($"delay_ms", lit(0L)).as("crawl_delay_ms"),
        coalesce($"has_robots", lit(false)).as("has_robots"))
      .orderBy($"host")
  }

  /** The fixture crawler's user-agent token. */
  val fixtureUa = "graftbot"

  /** The fixture robots grammar, host-arm-keyed so every RFC semantic
    * DECIDES verdicts somewhere in the corpus (nothing ships
    * oracle-invisible — the r17/r18 extractor lesson, applied here):
    *
    *  - base hosts (4,5 — and 10/12/14/15 modulo the arms below):
    *    a `*` group disallowing everything (group selection must NOT
    *    fall through to it), and a graftbot group whose `/doc/k` vs
    *    `/doc/kk` pair exercises literal longest-match, plus
    *    `crawl-delay: k%5` and tolerated noise (comments, sitemap,
    *    mixed case); host 12 ships TWO crawl-delay lines (1 then 2) —
    *    the dedup-to-max arm. Hosts 0/1/2/8 ALSO generate base bodies
    *    here, but their lake captures are latest-wins LOSERS to the
    *    r20 redirect arms (see [[robotsLakeDir]]): h8 is governed by
    *    a8's rules via a 1-hop 301 (fractional 0.5 delay), h0 by b2's
    *    via a 2-hop chain (complete disallow at delay 2), h2 loops ⇒
    *    unavailable, and h1's chain needs six follows ⇒ unavailable
    *    (§2.3.1.2's five-hop cap, exercised from both sides — c1
    *    reaches the same terminal in exactly five and resolves);
    *  - host 3: wildcard rules (§2.2.3 both specials) — a disallow of
    *    `*3$`-suffixed doc paths vs the one-octet-longer allow
    *    `1*3$`, so wildcard-vs-wildcard length ranking decides
    *    doc 163 (the rule literals are in the body below — Scala
    *    block comments nest, so a slash-star can't sit here);
    *  - host 4: grammar as base, but the graftbot group is NAMED
    *    `GraftBot/1.2` — the §2.2.1 product-token arm: group
    *    selection must match the token case-insensitively and ignore
    *    the version tail, or host 4 falls through to `*` disallow-all;
    *  - host 5: grammar as base, but the capture URI is
    *    `HTTPS://H5.EXAMPLE.ORG:443/robots.txt` — the host-key
    *    normalization arm;
    *  - host 6: the graftbot group contains ONLY a crawl-delay — it
    *    still SELECTS (§2.2.1), so the `*` disallow-all must not
    *    apply: everything allowed, at delay 1;
    *  - host 7: a root-anchored floating-wildcard disallow (`*7`
    *    after the leading slash) vs `Allow: /doc/7$` (end anchor) —
    *    blocked iff the id contains a 7, except doc 7 itself;
    *  - host 9: the robots fetch 404s — unavailable ⇒ no rules ⇒
    *    everything allowed, no delay (§2.3.1.3);
    *  - host 11: NO graftbot group — the `*` group (with path rules
    *    AND the delay) is the applicable one: star fall-through for
    *    both rules and crawl-delay;
    *  - host 13: the robots fetch 503s — unreachable ⇒ complete
    *    disallow (§2.3.1.4);
    *  - host 14: the rules are spelled in percent-encoded digits
    *    (`%31%34` = `14`) — unreserved escapes MUST decode before
    *    comparison (§2.2.2 / RFC 3986 §6.2.2.2) or every host-14
    *    verdict flips to allowed;
    *  - hosts 10/12/15 carry RETENTION traps — extra rules whose
    *    escapes must NOT decode: `%24` (host 10 — decoding
    *    fabricates an end anchor that would allow doc 106), `%2F`
    *    (host 12 — an encoded slash is not a separator; decoding
    *    would block doc 140) and `%2A` (host 15 — decoding
    *    fabricates wildcards that would allow docs 15/159); each
    *    correct form matches NOTHING, so a wrong decode flips
    *    specific verdicts;
    *  - plus a DECOY capture at `https://h2.example.org/blog/robots.txt`
    *    whose body disallows everything — not a robots location
    *    (path ≠ `/robots.txt`), must parse to NOTHING. */
  def fixtureRobotsBody(k: Int): String = {
    val head =
      s"""# graft fixture robots for host h$k
         |Sitemap: https://h$k.example.org/sitemap.xml
         |
         |""".stripMargin
    val arms = k match {
      case 3 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/*3$$
           |Allow: /doc/1*3$$
           |Crawl-Delay: 3
           |""".stripMargin
      case 4 =>
        // the §2.2.1 product-token arm: the group is named with a
        // versioned, mixed-case spelling — token matching must still
        // select it (exact-string matching would fall host 4 through
        // to the `*` disallow-all and flip every host-4 verdict)
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: GraftBot/1.2
           |Disallow: /doc/4
           |Allow: /doc/44
           |Crawl-Delay: 4
           |""".stripMargin
      case 6 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Crawl-Delay: 1
           |""".stripMargin
      case 7 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /*7
           |Allow: /doc/7$$
           |Crawl-Delay: 2
           |""".stripMargin
      case 11 =>
        s"""User-Agent: *
           |Disallow: /doc/1
           |Allow: /doc/11
           |Crawl-Delay: 1
           |""".stripMargin
      case 10 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/10
           |Allow: /doc/1010
           |Allow: /doc/106%24
           |Crawl-Delay: 0
           |""".stripMargin
      case 12 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/12
           |Disallow: /doc%2F140
           |Allow: /doc/1212
           |Crawl-Delay: 1
           |Crawl-Delay: 2
           |""".stripMargin
      case 14 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/%31%34
           |Allow: /doc/%31%34%31%34
           |Crawl-Delay: 4
           |""".stripMargin
      case 15 =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/15
           |Allow: /doc/1515
           |Allow: /doc/%2A%2A%2A%2A
           |Crawl-Delay: 0
           |""".stripMargin
      case _ =>
        s"""User-Agent: *
           |Disallow: /
           |
           |User-Agent: $fixtureUa
           |Disallow: /doc/$k
           |Allow: /doc/$k$k
           |Crawl-Delay: ${k % 5}
           |""".stripMargin
    }
    head + arms
  }

  private val robotsLakeDirs = new graft.Artifacts.Dirs[String]("graft-robots-lake")

  /** Staged robots lake: one `.warc.gz` shard holding the 16 hosts'
    * robots captures as `response` records (text/plain envelopes,
    * the shape real robots fetches land in), plus the availability
    * and normalization arms: host 9 answers 404, host 13 answers 503,
    * host 5's target URI is uppercase with an explicit default port,
    * a DECOY capture sits at a non-robots path with a poison
    * disallow-all body, and three hosts carry second captures — the
    * latest-capture-wins arms: a half-second-older poison 200 on
    * host 4 (decisive for PARSED-instant ordering: string order
    * would pick it), a dated-older 503 on host 11, and a dated-older
    * poison 200 on host 9 that the newer 404's tombstone must erase
    * — each must LOSE to its newer capture or whole host-classes of
    * verdicts flip. The r20 REDIRECT arms add fourteen more captures
    * (four 301s superseding hosts 0/1/2/8's base bodies, the a8/b2/c6
    * terminal bodies, and the b1/l2/c1-c5 intermediate 301s) — the
    * §2.3.1.2 chain walk's 1-hop, 2-hop, loop and six-hop cases, each
    * deciding whole host-classes of verdicts. The sitemap DISCOVERY
    * arms add seven XML captures (h3's urlset + its older poison,
    * h7's index → two urlsets + a nested-index child, h9's
    * unreachable decoy) that the robots parse skips and the
    * [[Sitemaps]] walk resolves. The captures spread over FOUR
    * `.warc.gz` shards (host k rides shard k mod 4, extras their
    * target's shard) so the streaming ingest arrives in real multiple
    * micro-batches. Test scaffolding under the local-master guard
    * like every other staged lake; 41 records need no Spark job to
    * write. */
  def robotsLakeDir(s: SparkSession, dir: String): String =
    robotsLakeDirs.stage(s, dir) { out =>
      require(s.sparkContext.isLocal,
        "robotsLakeDir stages fixture files and requires a local master")
      def capture(uri: String, status: Int, reason: String, body: Array[Byte],
                  date: String = "2026-01-01T00:00:00Z") = {
        val http = (s"HTTP/1.1 $status $reason\r\nContent-Type: text/plain; charset=utf-8\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
        Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> uri,
          "WARC-Date" -> date,
          "Content-Type" -> "application/http; msgtype=response") -> (http ++ body)
      }
      val records = (0 until 16).map { k =>
        val uri =
          if (k == 5) "HTTPS://H5.EXAMPLE.ORG:443/robots.txt"
          else s"https://h$k.example.org/robots.txt"
        val rec = k match {
          case 9  => capture(uri, 404, "Not Found", "no robots here\n".getBytes("UTF-8"))
          case 13 => capture(uri, 503, "Service Unavailable", "try later\n".getBytes("UTF-8"))
          // host 4's GOOD capture is dated with SUB-SECOND precision:
          // lexicographically it sorts BELOW its poison sibling's
          // whole-second instant ('.' < 'Z'), chronologically it is
          // half a second later — string-ordered resolution picks the
          // poison and flips every host-4 verdict
          case 4  => capture(uri, 200, "OK", fixtureRobotsBody(k).getBytes("UTF-8"),
            date = "2026-01-01T00:00:00.500Z")
          case _  => capture(uri, 200, "OK", fixtureRobotsBody(k).getBytes("UTF-8"))
        }
        (k % 4) -> rec
      } :+ (2 -> capture("https://h2.example.org/blog/robots.txt", 200, "OK",
        s"User-agent: *\nDisallow: /\n\nUser-agent: $fixtureUa\nDisallow: /\n".getBytes("UTF-8"))
      // the multi-capture arms (latest-capture-wins, every wrong-merge
      // direction): host 4 has a half-second-OLDER capture whose
      // poison body disallows everything for graftbot (merged or
      // string-ordered, it flips every host-4 verdict); host 11 has
      // an EARLIER 503 whose synthetic disallow-all would
      // blanket-block the star-only host; host 9 has an EARLIER
      // poison 200 that its newer 404 TOMBSTONE must erase (§2.3.1.3
      // — robots.txt deleted between visits)
      ) :+ (0 -> capture("https://h4.example.org/robots.txt", 200, "OK",
        s"User-agent: $fixtureUa\nDisallow: /\n".getBytes("UTF-8"),
        date = "2026-01-01T00:00:00Z")
      ) :+ (3 -> capture("https://h11.example.org/robots.txt", 503, "Service Unavailable",
        "try later\n".getBytes("UTF-8"), date = "2025-12-01T00:00:00Z")
      ) :+ (1 -> capture("https://h9.example.org/robots.txt", 200, "OK",
        s"User-agent: $fixtureUa\nDisallow: /\n".getBytes("UTF-8"),
        date = "2025-12-01T00:00:00Z"))
      // — the redirect arms (r20, §2.3.1.2): hosts 0/1/2/8's NEWEST
      // captures are 301s (dated a day after their base bodies, which
      // stay in the lake as latest-wins losers — redirect resolution
      // COMPOSES with capture resolution). 1-hop: h8 → a8, whose
      // rules — including the FRACTIONAL 0.5 crawl-delay, a malformed
      // delay line that must drop without untrottling, and a sitemap
      // record that must NOT restamp — govern h8. 2-hop: h0 → b1 →
      // b2, a complete graftbot disallow at delay 2. Loop: h2 → l2 →
      // h2 burns the hop budget ⇒ unavailable. >5: h1 → c1 → … → c6
      // needs SIX follows ⇒ unavailable for h1, while c1 reaches c6's
      // poison in exactly five ⇒ c1 resolves — the RFC's hop boundary
      // exercised from BOTH sides.
      def redirect(uri: String, target: String,
                   date: String = "2026-01-02T00:00:00Z") = {
        val http = (s"HTTP/1.1 301 Moved Permanently\r\nLocation: $target\r\n" +
          "Content-Length: 0\r\n\r\n").getBytes("US-ASCII")
        Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> uri,
          "WARC-Date" -> date,
          "Content-Type" -> "application/http; msgtype=response") -> http
      }
      val alias8Body =
        s"""Sitemap: https://a8.example.org/sitemap.xml
           |User-agent: *
           |Disallow: /
           |
           |User-agent: $fixtureUa
           |Disallow: /doc/88
           |Allow: /doc/888
           |Crawl-delay: 0.5
           |Crawl-delay: soon
           |""".stripMargin
      val hop2Body =
        s"""User-agent: *
           |Disallow: /
           |
           |User-agent: $fixtureUa
           |Disallow: /
           |Crawl-delay: 2
           |""".stripMargin
      val redirectArms = Seq(
        // h8's Location is spelled NON-canonically (uppercase, explicit
        // default port): the parse must key the target through the same
        // host normalization as capture URIs, or h8 resolves to a host
        // that does not exist and flips to allowed-by-absence
        0 -> redirect("https://h8.example.org/robots.txt",
          "HTTPS://A8.EXAMPLE.ORG:443/robots.txt"),
        0 -> capture("https://a8.example.org/robots.txt", 200, "OK",
          alias8Body.getBytes("UTF-8")),
        0 -> redirect("https://h0.example.org/robots.txt",
          "https://b1.example.org/robots.txt"),
        1 -> redirect("https://b1.example.org/robots.txt",
          "https://b2.example.org/robots.txt", date = "2026-01-01T00:00:00Z"),
        1 -> capture("https://b2.example.org/robots.txt", 200, "OK",
          hop2Body.getBytes("UTF-8")),
        2 -> redirect("https://h2.example.org/robots.txt",
          "https://l2.example.org/robots.txt"),
        2 -> redirect("https://l2.example.org/robots.txt",
          "https://h2.example.org/robots.txt", date = "2026-01-01T00:00:00Z"),
        1 -> redirect("https://h1.example.org/robots.txt",
          "https://c1.example.org/robots.txt")) ++
        (1 to 5).map(i =>
          3 -> redirect(s"https://c$i.example.org/robots.txt",
            s"https://c${i + 1}.example.org/robots.txt",
            date = "2026-01-01T00:00:00Z")) :+
        (3 -> capture("https://c6.example.org/robots.txt", 200, "OK",
          "User-agent: *\nDisallow: /\n".getBytes("UTF-8")))
      // — the sitemap DISCOVERY arms (r20): XML captures the robots
      // parse skips (paths ≠ /robots.txt) and the Sitemaps walk
      // resolves from the robots announcements. h3's urlset plants
      // the sub-second-vs-whole-second lastmod trap (page/32's
      // .500Z instant outranks page/31's bare-second one though its
      // STRING sorts lower) plus an OLDER poison capture that
      // latest-wins must erase; h7's sitemap is an INDEX → two
      // urlset children (date-only lastmods, one missing) plus a
      // NESTED-index child that the one-level rule must not follow
      // (following it would double page/70-71); h9's capture is the
      // unreachable decoy (its robots 404'd ⇒ no announcement).
      def urlset(entries: (String, String)*): String =
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          entries.map { case (loc, lm) =>
            if (lm.isEmpty) s"  <url><loc>$loc</loc></url>"
            else s"  <url><loc>$loc</loc><lastmod>$lm</lastmod></url>"
          }.mkString("\n") + "\n</urlset>\n"
      def sitemapindex(locs: String*): String =
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          locs.map(l => s"  <sitemap><loc>$l</loc></sitemap>").mkString("\n") +
          "\n</sitemapindex>\n"
      val sitemapArms = Seq(
        3 -> capture("https://h3.example.org/sitemap.xml", 200, "OK", urlset(
          ("https://h3.example.org/page/30", "2026-01-02T23:00:00Z"),
          ("https://h3.example.org/page/31", "2026-01-03T06:00:00Z"),
          ("https://h3.example.org/page/32", "2026-01-03T06:00:00.500Z"))
          .getBytes("UTF-8")),
        2 -> capture("https://h3.example.org/sitemap.xml", 200, "OK", urlset(
          ("https://h3.example.org/page/666", "2026-01-01"))
          .getBytes("UTF-8"), date = "2025-12-01T00:00:00Z"),
        3 -> capture("https://h7.example.org/sitemap.xml", 200, "OK", sitemapindex(
          "https://h7.example.org/sitemap-a.xml",
          "https://h7.example.org/sitemap-b.xml",
          "https://h7.example.org/sitemap-c.xml").getBytes("UTF-8")),
        0 -> capture("https://h7.example.org/sitemap-a.xml", 200, "OK", urlset(
          ("https://h7.example.org/page/70", "2026-01-01"),
          ("https://h7.example.org/page/71", "2026-01-04")).getBytes("UTF-8")),
        1 -> capture("https://h7.example.org/sitemap-b.xml", 200, "OK", urlset(
          ("https://h7.example.org/page/72", "")).getBytes("UTF-8")),
        2 -> capture("https://h7.example.org/sitemap-c.xml", 200, "OK", sitemapindex(
          "https://h7.example.org/sitemap-a.xml").getBytes("UTF-8")),
        1 -> capture("https://h9.example.org/sitemap.xml", 200, "OK", urlset(
          ("https://h9.example.org/page/999", "2026-01-01")).getBytes("UTF-8")))
      (records ++ redirectArms ++ sitemapArms).groupBy(_._1).foreach { case (shard, recs) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(out, f"robots-$shard%05d.warc.gz"),
          Warc.gzipPerRecord(Warc.encodeRecords(recs.map(_._2))))
      }
    }
}
