package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

import graft.functions.{KernelCall, UrlCanonUtil}

/** URL canonicalization and per-host crawl rollups — the layer between
  * the fetch-outcome census ([[Multimodal.warcHttpMeta]]) and the text
  * corpus: two fetches of `HTTP://Ex.COM:80/a/./b/../c?id=1&utm_x=2#f`
  * and `http://ex.com/a/c?id=1` are the same page, and every crawl
  * dedup / politeness / rollup decision needs them to compare equal.
  *
  * Everything here is a pure Column program over RE2-safe regexes (no
  * lookaround, no backreferences) so a DuckDB oracle replays the
  * IDENTICAL passes — the repo's htmlExtract/BpeishPattern stance —
  * and whole-stage codegen keeps it a narrow zero-shuffle map.
  *
  * Relation to [[QualityRules.canonicalizeUrl]] (q282): that one is the
  * cheap frontier-dedup KEY (whole-authority lowercase, param resort,
  * trailing-slash strip — aggressive merging, not a valid URL). This is
  * the RFC-grade page IDENTITY: the output is itself a fetchable URL
  * (dot-segments resolved, default ports dropped, param order kept),
  * the form host rollups, politeness budgets, and recrawl planning key
  * on. Both stay: frontier keys want recall, identities want precision.
  *
  * Normalization rules (documented choices):
  *  - scheme + host lowercased; only absolute http/https URLs
  *    canonicalize (anything else → null);
  *  - default ports dropped (http:80, https:443), explicit non-default
  *    ports kept;
  *  - fragment dropped;
  *  - duplicate slashes collapsed, then RFC 3986 dot-segment removal
  *    via fixed regex passes (depth ≤ 8 `..` nesting — beyond that
  *    both engines stop at the same fixpoint, so exactness holds);
  *  - tracking params stripped (utm_*, gclid, fbclid, ref), remaining
  *    params kept IN ORIGINAL ORDER (no resort — a documented
  *    conservative choice: resorting merges more but can conflate
  *    order-sensitive endpoints);
  *  - empty path → "/"; percent-encoding left untouched (normalizing
  *    it safely needs a decode table, out of regex reach).
  */
object UrlOps {

  private def rep(c: Column, pat: String, to: String, times: Int): Column =
    (1 to times).foldLeft(c)((acc, _) => regexp_replace(acc, pat, to))

  private val SchemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** r13: the scheme/host/canonicalize/registered-domain family runs as
    * byte-scan kernels ([[graft.functions.UrlCanonUtil]]) — one codegen
    * static call per URL instead of the regex chain (guide "expressions
    * and codegen"). The regex formulations below (`*Spec`) REMAIN the
    * executable spec the DuckDB oracle replays; UrlKernelsSpec
    * cross-checks kernel vs spec on adversarial + fuzzed inputs.
    */
  def urlScheme(u: Column): Column = kernel("scheme", StringType, u)

  /** One [[UrlCanonUtil]] kernel call over a string column: null in →
    * null out; `returnNullable` when the kernel itself may return null.
    */
  private def kernel(method: String, dataType: DataType, u: Column,
      returnNullable: Boolean = false): Column =
    ColumnBridge.column(KernelCall(UrlCanonUtil, method, dataType,
      returnNullable = returnNullable)(ColumnBridge.expression(u) -> StringType))

  private[graft] def urlSchemeSpec(u: Column): Column =
    lower(regexp_extract(u, SchemePat, 1))

  private def hostPort(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)

  def urlHost(u: Column): Column = kernel("host", StringType, u)

  private[graft] def urlHostSpec(u: Column): Column =
    lower(regexp_replace(hostPort(u), ":[0-9]*$", ""))

  def urlPort(u: Column): Column =
    regexp_extract(hostPort(u), ":([0-9]+)$", 1)

  def urlPathRaw(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  def urlQueryRaw(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\\?([^#]*)", 1)

  /** A path segment that is NOT `.` or `..` — RE2-safe (no lookahead):
    * starts with a non-dot, or is a dot followed by a non-dot, or is
    * two dots followed by more. `..`-popping must never treat a `..`
    * as the popped segment (`/../../x` would lose pops).
    */
  private val Seg = "([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"

  /** Collapse duplicate slashes, then remove `.` and `..` segments with
    * fixed global-replace passes (both engines scan leftmost, continue
    * after each match — identical fixpoints; adversarial all-`..`
    * chains pop one level per pass, so nesting depth ≤ 8 resolves
    * fully and deeper chains stop at the same point in both engines).
    */
  def normalizePath(p: Column): Column = {
    val base = when(p === "", lit("/")).otherwise(p)
    val collapsed = regexp_replace(base, "/+", "/")
    val noDot = regexp_replace(rep(collapsed, "/\\./", "/", 4), "/\\.$", "/")
    val noDd = rep(noDot, s"/$Seg/\\.\\./", "/", 8)
    val noDdTail = rep(noDd, s"/$Seg/\\.\\.$$", "/", 2)
    val full = regexp_replace(rep(noDdTail, "^/\\.\\./", "/", 4), "^/\\.\\.$", "/")
    // r13 (guide "expressions"): every dot-segment pattern above
    // requires the substring "/." — a path without it passes all 17
    // fixed regex passes unchanged, so one instr() gates them (most
    // real link paths are dot-free; the fixpoint semantics on paths
    // WITH dots are untouched)
    when(instr(collapsed, "/.") > 0, full).otherwise(collapsed)
  }

  /** Drop tracking params (utm_*, gclid, fbclid, ref) and empty pairs;
    * keep the rest in original order.
    */
  def stripTracking(q: Column): Column =
    array_join(filter(split(q, "&"), x =>
      x =!= "" && !x.rlike("^(utm_[^=&]*|gclid|fbclid|ref)(=|$)")), "&")

  /** Canonical form of an absolute http/https URL; null for anything
    * else (relative refs, other schemes, empty host).
    */
  def canonicalizeUrl(u: Column): Column =
    kernel("canonicalize", StringType, u, returnNullable = true)

  private[graft] def canonicalizeUrlSpec(u: Column): Column = {
    val sch = urlSchemeSpec(u)
    val h = urlHostSpec(u)
    // leading-zero port digits normalize away: :0080 IS :80 (string-
    // exact compares would split one page into two canonical ids)
    val p = regexp_replace(urlPort(u), "^0+([0-9])", "$1")
    val portPart = when(p === "" ||
        (sch === "http" && p === "80") ||
        (sch === "https" && p === "443"), lit(""))
      .otherwise(concat(lit(":"), p))
    val q = stripTracking(urlQueryRaw(u))
    val qPart = when(q === "", lit("")).otherwise(concat(lit("?"), q))
    when(sch.isin("http", "https") && h =!= "",
      concat(sch, lit("://"), h, portPart, normalizePath(urlPathRaw(u)), qPart))
  }

  /** Last-two-labels registered domain — a deliberate heuristic (a real
    * public-suffix list is data, not code; co.uk-style suffixes roll up
    * one label short). Single-label hosts map to themselves.
    */
  def registeredDomain(host: Column): Column = kernel("registeredDomain", StringType, host)

  private[graft] def registeredDomainSpec(host: Column): Column = {
    val d = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    when(d === "", host).otherwise(d)
  }

  /** The two scheme-prefix rlike tests of link resolution in one scan:
    * 0 = no scheme, 1 = `scheme:` (non-URL ref), 2 = absolute
    * `scheme://`; null in → null out.
    */
  private[graft] def urlSchemeKind(u: Column): Column =
    kernel("schemeKind", IntegerType, u)

  /** robots.txt rule extraction for one crawler agent (RFC 9309,
    * documented simplifications): comments strip at `#`, consecutive
    * `User-agent` lines share a group, and the MOST SPECIFIC applicable
    * group set wins — groups naming `agent` exactly (case-insensitive)
    * if any exist for the host, else the `*` groups; rules from
    * non-applicable groups are ignored entirely (not unioned — the RFC
    * group-selection rule crawlers actually follow). Empty `Disallow:`
    * (allow-everything idiom) contributes no rule; fields other than
    * allow/disallow (crawl-delay, sitemap) pass through the parse but
    * emit nothing here. No percent-decoding or `*`/`$` wildcard
    * support (documented; wildcard rules would need a regex compile per
    * rule). Output: (host, rule_path, is_allow).
    *
    * Scale: one narrow line explode + a per-host window over robots
    * LINES (bodies are KB-sized; one per host) — nothing frontier-sized
    * moves.
    */
  def robotsRules(robots: DataFrame, hostCol: String, txtCol: String,
      agent: String): DataFrame =
    applicableGroupFields(robots, hostCol, txtCol, agent)
      .filter(col("field").isin("allow", "disallow") && col("value") =!= "")
      .select(col("host"), col("value").as("rule_path"),
        (col("field") === "allow").as("is_allow"))

  /** Shared robots.txt machinery behind [[robotsRules]] and
    * [[robotsCrawlDelay]]: line parse (comment strip, `field: value`),
    * consecutive-`User-agent` group formation, and RFC 9309 group
    * selection for `agent` (exact-agent groups shadow `*` groups).
    * Returns every (host, ln, field, value) row of the SELECTED
    * group(s) only.
    */
  private def applicableGroupFields(robots: DataFrame, hostCol: String,
      txtCol: String, agent: String): DataFrame = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val fields = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(txtCol), "\n")).as(Seq("ln", "raw")))
      .select(col("host"), col("ln"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .select(col("host"), col("ln"),
        lower(trim(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1)))
          .as("field"),
        trim(regexp_extract(col("line"), "^[A-Za-z-]+\\s*:(.*)$", 1))
          .as("value"))
    val w = Window.partitionBy(col("host")).orderBy(col("ln"))
    val grouped = fields.withColumn("grp",
      sum(when(col("field") === "user-agent" &&
        coalesce(lag(col("field"), 1).over(w), lit("")) =!= "user-agent", 1)
        .otherwise(0)).over(w))
    val ua = grouped
      .filter(col("field") === "user-agent" &&
        (lower(col("value")) === agentLc || col("value") === "*"))
      .groupBy(col("host"), col("grp"))
      .agg(min(when(lower(col("value")) === agentLc, 1).otherwise(2))
        .as("pref"))
    val best = ua.groupBy(col("host")).agg(min(col("pref")).as("pref"))
    val applicable = ua.join(best, Seq("host", "pref")).select("host", "grp")
    grouped.join(applicable, Seq("host", "grp"))
  }

  /** Per-host politeness budget out of robots.txt: the `Crawl-delay`
    * value of the group selected for `agent` (same RFC 9309 group
    * selection as [[robotsRules]] — a delay in a non-applicable group
    * is ignored, exactly like its rules). Every host present in
    * `robots` gets a row; hosts whose selected group has no parseable
    * Crawl-delay get `defaultDelaySec`. Multiple parseable delays in
    * the selected group(s) resolve to the LARGEST (the conservative
    * politeness choice, documented).
    *
    * Output: (host, crawl_delay_sec). Scale: same as [[robotsRules]]
    * — per-host windows over robots LINES; output is host-count-sized
    * and broadcastable into [[crawlSchedule]].
    */
  def robotsCrawlDelay(robots: DataFrame, hostCol: String, txtCol: String,
      agent: String, defaultDelaySec: Double = 1.0): DataFrame = {
    val parsed = applicableGroupFields(robots, hostCol, txtCol, agent)
      .filter(col("field") === "crawl-delay")
      .groupBy(col("host"))
      .agg(max(col("value").cast("double")).as("__delay"))
    robots.select(col(hostCol).as("host")).distinct()
      .join(parsed, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("__delay"), lit(defaultDelaySec)).as("crawl_delay_sec"))
  }

  /** Polite fetch schedule for a frontier: per host, URLs are ordered
    * by priority DESC (id ASC as the deterministic tiebreak), numbered
    * `fetch_seq` = 1.., and given `eta_sec` = (fetch_seq − 1) ×
    * crawl_delay — the earliest time each fetch may start relative to
    * the host's first fetch under its robots Crawl-delay budget. Hosts
    * absent from `delays` use `defaultDelaySec`.
    *
    * Output: (id, url, host, fetch_seq, eta_sec). Scale: `delays` is
    * host-count-sized — broadcast; the frontier shuffles ONCE on host
    * for the per-host window. A mega-host making one partition large
    * is inherent (politeness serializes a host — its schedule IS one
    * ordered sequence), and the window needs no full sort buffer
    * beyond that host's rows.
    */
  def crawlSchedule(frontier: DataFrame, idCol: String, urlCol: String,
      priorityCol: String, delays: DataFrame,
      defaultDelaySec: Double = 1.0): DataFrame = {
    val u = col(urlCol)
    val f = frontier.select(col(idCol), u.as("url"), urlHost(u).as("host"),
      col(priorityCol).cast("double").as("__prio"))
    val wv = Window.partitionBy(col("host"))
      .orderBy(col("__prio").desc, col(idCol).asc)
    f.join(broadcast(delays), Seq("host"), "left")
      .withColumn("__delay",
        coalesce(col("crawl_delay_sec"), lit(defaultDelaySec)))
      .withColumn("fetch_seq", row_number().over(wv).cast("long"))
      .select(col(idCol), col("url"), col("host"), col("fetch_seq"),
        ((col("fetch_seq") - 1).cast("double") * col("__delay"))
          .as("eta_sec"))
  }

  /** XML/HTML entity decode for the five predefined entities — the
    * sitemap-`<loc>` escaping layer (sitemap.org requires entity-
    * escaped URLs). `&amp;` decodes LAST so `&amp;lt;` yields the
    * literal `&lt;`, per the standard decode order.
    */
  def xmlUnescape(c: Column): Column = {
    val basic = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'")
      .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    replace(basic, lit("&amp;"), lit("&"))
  }

  /** Sitemap parse (sitemaps.org 0.9, documented simplifications): a
    * body containing `<sitemapindex` is an INDEX (entries are
    * `<sitemap>` blocks pointing at child sitemaps), else a `<urlset`
    * page list (`<url>` blocks). Per entry: entity-decoded `<loc>`,
    * raw `<lastmod>` / `<changefreq>` strings, `<priority>` as double
    * (null when absent or unparseable — consumers apply the spec's 0.5
    * default themselves). Namespace prefixes, CDATA, and attributes on
    * entry tags are out of scope (regex parse — the RE2-replayable
    * stance of [[canonicalizeUrl]]); absent fields are null; entries
    * keep document order via `entry_pos`.
    *
    * Output: (host, kind, entry_pos, loc, lastmod, changefreq,
    * priority). Scale: one narrow explode over sitemap BLOCKS (bodies
    * are ≤ 50k-entry files by spec; one row per host×file) — nothing
    * corpus-sized shuffles, and the per-entry field extraction is
    * whole-stage-codegen regex over the exploded block only.
    */
  def sitemapEntries(sitemaps: DataFrame, hostCol: String,
      xmlCol: String): DataFrame = {
    val x = col(xmlCol)
    val kind = when(x.rlike("<sitemapindex[\\s>]"), lit("sitemapindex"))
      .when(x.rlike("<urlset[\\s>]"), lit("urlset"))
    val blocks = when(kind === "sitemapindex",
      regexp_extract_all(x, lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1)))
      .otherwise(
        regexp_extract_all(x, lit("(?s)<url>(.*?)</url>"), lit(1)))
    def field(tag: String): Column = {
      // trim() strips only ' ' — sitemap fields wrap in newlines too,
      // so trim the full whitespace class
      val v = regexp_replace(regexp_extract(col("__blk"),
        s"(?s)<$tag>(.*?)</$tag>", 1), "^\\s+|\\s+$", "")
      when(v === "", lit(null)).otherwise(v)
    }
    sitemaps
      .select(col(hostCol).as("host"), kind.as("kind"), blocks.as("__bl"))
      .filter(col("kind").isNotNull)
      .select(col("host"), col("kind"),
        posexplode(col("__bl")).as(Seq("entry_pos", "__blk")))
      .select(col("host"), col("kind"), col("entry_pos").cast("long"),
        xmlUnescape(field("loc")).as("loc"),
        field("lastmod").as("lastmod"),
        field("changefreq").as("changefreq"),
        field("priority").cast("double").as("priority"))
  }

  /** Redirect-chain resolution over a fetch log — the crawl-graph step
    * between the per-fetch outcome census and page identity: a URL
    * whose fetch answered 3xx with a `Location` points at its target;
    * everything else is terminal. Each URL resolves to the end of its
    * pointer chain via POINTER DOUBLING — ⌈log₂ maxHops⌉+1 self-join
    * rounds, each compressing every path to twice the depth — so a
    * 100 TB fetch log resolves in ~5 narrow shuffle-joins instead of
    * maxHops sequential passes (or any driver-side walk).
    *
    * Semantics (documented choices): duplicate fetch rows for one URL
    * collapse to the lexicographically smallest 3xx Location (min
    * skips nulls — a URL is a redirect if ANY of its rows redirect);
    * a Location pointing OUTSIDE the fetch log is terminal at that
    * target (final_url may be an unfetched URL); `Location` values are
    * taken as absolute URL strings (relative resolution is the
    * caller's [[canonicalizeUrl]] concern). A chain that does not
    * reach a terminal within `maxHops` steps — a loop, a self-
    * redirect, or simply too deep — reports resolved = false with null
    * final_url/hops.
    *
    * Output: (url, final_url, hops, resolved).
    */
  def resolveRedirects(fetches: DataFrame, urlCol: String,
      statusCol: String, locationCol: String,
      maxHops: Int = 16): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val next0 = fetches
      .select(col(urlCol).as("__src"),
        when(col(statusCol).between(300, 399), col(locationCol)).as("__n"))
      .groupBy(col("__src")).agg(min(col("__n")).as("__next"))
    // eager per-round checkpoint (Stage.iterate): doubling joins the
    // state against ITSELF, so without it round r embeds 2^r copies of
    // the base scan in the plan — at a 100 TB fetch log that is 2^r
    // re-scans, not a compile-time nit
    val state0 = next0.select(col("__src"),
      coalesce(col("__next"), col("__src")).as("__cur"),
      when(col("__next").isNull, 0).otherwise(1).as("__hops"),
      col("__next").isNull.as("__done"))
      .localCheckpoint(true)
    // after r rounds every chain of length ≤ 2^r is fully resolved;
    // +1 round turns "reached a node with no entry/outgoing edge"
    // into done for length-maxHops chains
    val rounds = (math.ceil(math.log(maxHops.toDouble) / math.log(2.0))
      .toInt max 0) + 1
    val (last, _) = Stage.iterate(state0, rounds)({ state =>
      val rhs = state.select(col("__src").as("__rs"),
        col("__cur").as("__rc"), col("__hops").as("__rh"),
        col("__done").as("__rd"))
      val stop = col("__done") || col("__rs").isNull
      Some(state
        .join(rhs, col("__cur") === col("__rs") && !col("__done"), "left")
        .select(col("__src"),
          when(stop, col("__cur")).otherwise(col("__rc")).as("__cur"),
          when(stop, col("__hops"))
            .otherwise(col("__hops") + col("__rh")).as("__hops"),
          (col("__done") || col("__rs").isNull || col("__rd")).as("__done")))
    })
    val ok = col("__done") && col("__hops") <= maxHops
    last.select(col("__src").as("url"),
      when(ok, col("__cur")).as("final_url"),
      when(ok, col("__hops").cast("long")).as("hops"),
      ok.as("resolved"))
  }

  /** Frontier gate over [[robotsRules]] output: per URL the
    * longest-matching rule wins, allow beating disallow on equal
    * length (the RFC 9309 precedence), no matching rule → allowed.
    * Output: (id, url, host, path, allowed, matched_rule).
    *
    * Scale: the rules frame is host-count-sized (KB-bodies, one per
    * host) — broadcast; each frontier row fans out to at most its
    * host's rule count and collapses in a per-id window. The frontier
    * never shuffles beyond that window.
    */
  def robotsGate(frontier: DataFrame, idCol: String, urlCol: String,
      rules: DataFrame): DataFrame = {
    val u = col(urlCol)
    val f = frontier.select(col(idCol), u.as("url"), urlHost(u).as("host"),
      when(urlPathRaw(u) === "", "/").otherwise(urlPathRaw(u)).as("path"))
    val j = f.join(broadcast(rules), Seq("host"), "left")
      .withColumn("m", col("rule_path").isNotNull &&
        col("path").startsWith(col("rule_path")))
    // null-free ordering keys: null-ordering defaults differ across
    // engines, and all-m-false groups emit the same row whichever
    // member ranks first
    val wv = Window.partitionBy(col(idCol)).orderBy(col("m").desc,
      coalesce(length(col("rule_path")), lit(-1)).desc,
      col("is_allow").desc, col("rule_path"))
    j.withColumn("__rn", row_number().over(wv)).filter(col("__rn") === 1)
      .select(col(idCol), col("url"), col("host"), col("path"),
        when(col("m"), col("is_allow")).otherwise(lit(true)).as("allowed"),
        when(col("m"), col("rule_path")).as("matched_rule"))
  }

  /** RFC 3986 reference resolution of `col("href")` against page URL
    * `u` (see [[extractLinks]] for the documented regex subset); shared
    * by the href-only and href+anchor extractors.
    */
  private def resolvedHref(base: Column, sch: Column,
      pagePath: Column, dir: Column): Column = {
    val h = col("href")
    // r13: the two scheme-prefix rlikes (per LINK row) fold into one
    // byte-scan kind test — kind 2 = `scheme://` (SchemePat), kind 1 =
    // `scheme:` without `//` (the non-URL-ref branch); kernel-vs-regex
    // equivalence cross-checked in UrlKernelsSpec
    val kind = urlSchemeKind(h)
    when(kind === 2, h)
      .when(kind === 1, lit(null))
      .when(h.startsWith("//"), concat(sch, lit(":"), h))
      .when(h.startsWith("/"), concat(base, h))
      .when(h.startsWith("#") || h === "", lit(null))
      // query-only reference (RFC 3986 §5.3: same path, new query) —
      // NOT the directory join below, which would wrongly resolve
      // "?x" on /a/b.html to /a/?x instead of /a/b.html?x
      .when(h.startsWith("?"),
        concat(base, when(pagePath === "", "/").otherwise(pagePath), h))
      .otherwise(concat(base, when(dir === "", "/").otherwise(dir), h))
  }

  /** Page-URL parts needed by [[resolvedHref]], projected ONCE per page
    * BEFORE the link explode (r13, guide §2.3 "project before"): the
    * base/scheme/path/dir regexes depend only on the page URL, so
    * running them per LINK row multiplied them by links-per-page.
    * Staged as attributes below the Generate, they cannot re-inline.
    */
  private def pageParts(u: Column): Seq[Column] = Seq(
    regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1).as("__base"),
    urlScheme(u).as("__sch"),
    urlPathRaw(u).as("__pp"),
    regexp_replace(urlPathRaw(u), "[^/]*$", "").as("__dir"))

  private def resolvedHrefStaged: Column =
    resolvedHref(col("__base"), col("__sch"), col("__pp"), col("__dir"))

  /** Anchor-link extraction + resolution — the hyperlink layer between
    * HTML content extraction ([[graft.operators.TextAnalysis.htmlExtract]])
    * and the link graph: every `<a href="...">` in a page becomes one
    * row resolved against the page's URL to a canonical absolute
    * target ([[canonicalizeUrl]]), or null when the href is not a
    * fetchable page (fragment-only, empty, `mailto:`/`javascript:`/
    * other non-hierarchical schemes).
    *
    * Resolution rules (RFC 3986 reference resolution, documented
    * regex-subset): absolute `scheme://…` as-is; any other `scheme:…`
    * (no `//`) → null; protocol-relative `//host/…` takes the page
    * scheme; root-relative `/…` joins the page authority; everything
    * else joins the page's directory (the path up to its last `/`),
    * with `..`/`.` segments resolved inside [[canonicalizeUrl]]'s
    * dot-segment passes. Only double-quoted `href="…"` attributes are
    * extracted (the dominant form; single-quoted/unquoted attrs are a
    * documented simplification, regex-replayable either way).
    *
    * Output: (idCol, url, link_pos, href, target). `link_pos` is the
    * 0-based index among the page's extracted hrefs in document order.
    *
    * Scale: one `regexp_extract_all` + posexplode over pages — a
    * narrow per-row program; the HTML column is consumed in the scan
    * and never shuffles. Fan-out is links-per-page (tens), the exact
    * shape a 100 TB link-graph build wants before its first exchange.
    */
  def extractLinks(pages: DataFrame, idCol: String, urlCol: String,
      htmlCol: String): DataFrame = {
    pages
      .select(Seq(col(idCol), col(urlCol).as("url")) ++ pageParts(col(urlCol)) ++ Seq(
        // `<a` anchored with a mandatory-whitespace guard: the optional
        // (?:\s[^>]*)? attribute run can only begin with whitespace, so
        // <area>/<abbr>/<applet …> tags whose name merely starts with
        // 'a' never match (they'd otherwise add rows AND shift link_pos)
        posexplode(regexp_extract_all(col(htmlCol),
          lit("<a(?:\\s[^>]*)?\\shref=\"([^\"]*)\""), lit(1)))
          .as(Seq("link_pos", "href"))): _*)
      // entity-decode BEFORE resolution: valid HTML MUST escape '&' in
      // attribute values, so href="/s?a=1&amp;b=2" means /s?a=1&b=2 —
      // undecoded, the canonical target (and stripTracking's param
      // names) would be silently wrong for every multi-param URL
      .select(col(idCol), col("url"), col("link_pos").cast("long"),
        xmlUnescape(col("href")).as("href"),
        col("__base"), col("__sch"), col("__pp"), col("__dir"))
      .select(col(idCol), col("url"), col("link_pos"),
        col("href"), canonicalizeUrl(resolvedHrefStaged).as("target"))
  }

  /** [[extractLinks]] plus each link's ANCHOR TEXT — the inner text up
    * to the first `<` after the opening tag closes (the regex-subset
    * form; nested markup inside an anchor truncates at its first
    * child tag). Anchor text is the classic off-page relevance signal:
    * what OTHER pages call a document, used since the earliest web
    * search engines (Brin & Page 1998 §2.2) for ranking and by crawl
    * frontiers for query-targeted prioritization.
    *
    * Same tag-name guard, same resolution as [[extractLinks]], and the
    * same `link_pos` contract on the documented regex subset
    * (double-quoted attributes, no markup inside quoted attribute
    * values); extraction stays one narrow per-row program (two
    * group-extractions of the SAME pattern zip positionally, so href
    * and anchor can never misalign).
    *
    * Output: (idCol, url, link_pos, href, target, anchor).
    */
  def extractLinksWithAnchors(pages: DataFrame, idCol: String,
      urlCol: String, htmlCol: String): DataFrame = {
    // after the href value, the rest of the tag is consumed as
    // (unquoted-char | quoted-span)*: a '>' INSIDE a later quoted
    // attribute (title="a>b") cannot close the tag early, and '<'
    // stops the run so an unclosed <a …> at end-of-tag-soup still
    // yields its row (anchor "") instead of swallowing the next tag —
    // keeping link_pos aligned with [[extractLinks]] on the documented
    // subset (double-quoted attributes, no markup inside quoted
    // values). The close + text group is optional for that unclosed
    // case; a non-participating group extracts as "".
    val pat = lit("<a(?:\\s[^>]*)?\\shref=\"([^\"]*)\"" +
      "(?:[^\"<>]|\"[^\"]*\")*(?:>([^<]*))?")
    pages
      .select(Seq(col(idCol), col(urlCol).as("url")) ++ pageParts(col(urlCol)) ++ Seq(
        posexplode(arrays_zip(
          regexp_extract_all(col(htmlCol), pat, lit(1)),
          regexp_extract_all(col(htmlCol), pat, lit(2))))
          .as(Seq("link_pos", "ha"))): _*)
      // href materializes BEFORE the select that resolves it: the
      // resolution must reference a real column, not a lateral alias
      // defined in the same projection (implicit lateral-alias
      // resolution is config-dependent). Both href and anchor
      // entity-decode (the [[extractLinks]] contract).
      .select(col(idCol), col("url"), col("link_pos").cast("long"),
        xmlUnescape(col("ha.0")).as("href"),
        xmlUnescape(col("ha.1")).as("anchor"),
        col("__base"), col("__sch"), col("__pp"), col("__dir"))
      .select(col(idCol), col("url"), col("link_pos"), col("href"),
        canonicalizeUrl(resolvedHrefStaged).as("target"),
        col("anchor"))
  }

  /** Inbound anchor-text census per TARGET host — "what does the web
    * call this site": per destination host, the resolved-link count,
    * the distinct anchor-text count, and the modal anchor (ties break
    * alphabetically, so the row is deterministic). BLANK anchors (the
    * extraction yields "" whenever link text is wrapped in markup —
    * `<a href=x><span>Docs</span></a>` — or the tag is unclosed) still
    * count as links but are excluded from the anchor-text census: a
    * styled-markup-heavy host must not report top_anchor = "" (NULL
    * when no non-blank anchor exists). Feeds ranking features and
    * frontier prioritization; at corpus scale only the
    * (dst_host, anchor) projection shuffles — the page payload is
    * consumed in the extraction scan.
    */
  def anchorSummary(links: DataFrame, targetCol: String,
      anchorCol: String): DataFrame = {
    val perAnchor = links.filter(col(targetCol).isNotNull)
      .select(urlHost(col(targetCol)).as("dst_host"),
        col(anchorCol).as("anchor"))
      .groupBy(col("dst_host"), col("anchor"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__blank",
        // null-safe: a NULL anchor is blank too (trim(null) === ""
        // is null, which the otherwise branch would count as text)
        when(col("anchor").isNull || trim(col("anchor")) === "", 1)
          .otherwise(0))
    val w = Window.partitionBy(col("dst_host"))
    // non-blank anchors rank first, so "" wins only when it's alone
    val wTop = w.orderBy(col("__blank"), col("__n").desc, col("anchor"))
    perAnchor
      .withColumn("n_links", sum(col("__n")).over(w))
      .withColumn("n_anchor_texts",
        sum(lit(1) - col("__blank")).over(w))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(col("dst_host"), col("n_links"), col("n_anchor_texts"),
        when(col("__blank") === 0, col("anchor")).as("top_anchor"))
  }

  /** Host-level link graph out of [[extractLinks]] rows: one edge per
    * (source host, target host) with the raw link count, the distinct
    * canonical-target count, and whether the edge stays inside one
    * registered domain (the internal/external split every crawl
    * frontier and PageRank seed wants). Unresolved links (null target)
    * are not edges.
    *
    * Scale: the payload-free (src_host, dst_host, target) projection
    * is all that shuffles — Spark plans the count(DISTINCT) as the
    * usual two-level partial/final expand, so a hot host pair skews
    * one partition at worst and AQE splits it.
    */
  def hostGraph(links: DataFrame, urlCol: String,
      targetCol: String): DataFrame =
    links.filter(col(targetCol).isNotNull)
      .select(urlHost(col(urlCol)).as("src_host"),
        urlHost(col(targetCol)).as("dst_host"),
        col(targetCol).as("__t"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("__t")).as("n_targets"))
      .withColumn("same_domain",
        registeredDomain(col("src_host")) ===
          registeredDomain(col("dst_host")))

  /** Crawl snapshot diff — the incremental-crawl primitive: given the
    * previous and current snapshot of (url, content hash), classify
    * every URL as added / removed / changed / unchanged. Inputs must
    * be url-unique (a snapshot IS a url-keyed map; callers dedup
    * upstream). One full-outer shuffle join on url — hash keys and
    * 16-byte digests move, never page payloads; at 100 TB both sides
    * bucket by url for an exchange-free diff between consecutive
    * crawls.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, urlCol: String,
      hashCol: String): DataFrame = {
    // presence comes from join-side MARKERS, not hash nullness: a url
    // present in both snapshots with a NULL stored hash must classify
    // by the null-safe compare (unchanged/changed), not report "added";
    // one absent from cur with a NULL prev hash must report "removed"
    val p = prev.select(col(urlCol).as("url"), col(hashCol).as("prev_hash"))
      .withColumn("__in_prev", lit(true))
    val c = cur.select(col(urlCol).as("url"), col(hashCol).as("cur_hash"))
      .withColumn("__in_cur", lit(true))
    p.join(c, Seq("url"), "full_outer")
      .select(col("url"), col("prev_hash"), col("cur_hash"),
        when(col("__in_prev").isNull, "added")
          .when(col("__in_cur").isNull, "removed")
          .when(col("prev_hash") <=> col("cur_hash"), "unchanged")
          .otherwise("changed").as("change"))
  }

  /** Per-host churn rollup over [[snapshotDiff]] output: class counts
    * plus churn_pct = non-unchanged share of the union universe — the
    * number a recrawl scheduler budgets by. Exact integer counts; the
    * percentage is one IEEE division at the end.
    */
  def churnRollup(diff: DataFrame): DataFrame =
    diff
      .select(urlHost(col("url")).as("host"), col("change"))
      .groupBy(col("host"))
      .agg(
        sum(when(col("change") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("change") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("change") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("change") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        count(lit(1)).as("n_urls"))
      .withColumn("churn_pct",
        (col("n_added") + col("n_removed") + col("n_changed"))
          .cast("double") * 100.0 / col("n_urls").cast("double"))

  /** Conditional-refetch planner over a fetch log: parse the cache
    * validators out of each URL's stored response headers (`ETag` —
    * weak or strong — and `Last-Modified`, case-insensitive field
    * names per RFC 9110) and combine them with the URL's observed
    * change history into a revalidation plan: which conditional
    * header to send (`If-None-Match` beats `If-Modified-Since` when
    * both validators exist, per RFC 9110 §13.1.3) and a refetch
    * cadence class from the observed change rate (integer threshold
    * compares — rate ≥ 1/2 hourly, ≥ 1/5 daily, ≥ 1/20 weekly, else
    * monthly — so the classification replays exactly).
    *
    * Output: (url, validator, validator_value, weak_etag, conditional,
    * change_rate, refetch_class). Zero-shuffle narrow map — header
    * blocks are KB-sized and are consumed in the scan.
    */
  def refetchPlan(log: DataFrame, urlCol: String, headersCol: String,
      nChangesCol: String, nObsCol: String): DataFrame = {
    val hd = col(headersCol)
    def hdr(name: String): Column = {
      val v = regexp_extract(hd, s"(?i)(^|\n)$name:[ \t]*([^\n]*)", 2)
      regexp_replace(v, "\\s+$", "")
    }
    val etag = hdr("etag")
    val lastMod = hdr("last-modified")
    val validator = when(etag =!= "", "etag")
      .when(lastMod =!= "", "last-modified").otherwise("none")
    val nc = col(nChangesCol).cast("long")
    val no = col(nObsCol).cast("long")
    log.select(col(urlCol).as("url"),
      validator.as("validator"),
      when(etag =!= "", etag).when(lastMod =!= "", lastMod)
        .as("validator_value"),
      (etag =!= "" && etag.startsWith("W/")).as("weak_etag"),
      (validator =!= "none").as("conditional"),
      (nc.cast("double") / no.cast("double")).as("change_rate"),
      // no observation history → the CONSERVATIVE default: 0·2 >= 0
      // would otherwise hand a never-fetched URL the hourly budget
      when(no.isNull || no <= 0, "monthly")
        .when(nc * 2 >= no, "hourly").when(nc * 5 >= no, "daily")
        .when(nc * 20 >= no, "weekly").otherwise("monthly")
        .as("refetch_class"))
  }

  /** Per-registered-domain fetch-health rollup: server-error share of
    * a domain's fetches, and a block flag when the domain has enough
    * history AND its 5xx share crosses the threshold — the "stop
    * wasting crawl budget on a dying mirror" signal. The block
    * decision is an INTEGER cross-multiply (`n_5xx·100 ≥ n·pct`) so it
    * replays exactly; `err_pct` is one IEEE multiply-then-divide for
    * human eyes. Output: (domain, n_fetches, n_5xx, err_pct, blocked).
    *
    * Scale: one partial/final aggregation keyed by domain; the output
    * is domain-count-sized and broadcastable into
    * [[domainHealthGate]].
    */
  def domainHealth(fetches: DataFrame, urlCol: String, statusCol: String,
      minFetches: Long = 1, maxServerErrPct: Int = 50): DataFrame =
    fetches
      .select(registeredDomain(urlHost(col(urlCol))).as("domain"),
        col(statusCol).as("__st"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(when(col("__st") >= 500, 1L).otherwise(0L)).as("n_5xx"))
      .select(col("domain"), col("n_fetches"), col("n_5xx"),
        (col("n_5xx").cast("double") * 100.0 /
          col("n_fetches").cast("double")).as("err_pct"),
        (col("n_fetches") >= minFetches &&
          col("n_5xx") * 100 >= col("n_fetches") * maxServerErrPct)
          .as("blocked"))

  /** Frontier gate over [[domainHealth]] output: URLs of blocked
    * domains are flagged; domains with no recorded health pass (no
    * evidence is not a block). The health frame is domain-count-sized
    * — broadcast; the frontier never shuffles.
    */
  def domainHealthGate(frontier: DataFrame, idCol: String,
      urlCol: String, health: DataFrame): DataFrame =
    frontier
      .select(col(idCol), col(urlCol).as("url"),
        registeredDomain(urlHost(col(urlCol))).as("domain"))
      .join(broadcast(health.select(col("domain"), col("blocked"))),
        Seq("domain"), "left")
      .select(col(idCol), col("url"), col("domain"),
        coalesce(col("blocked"), lit(false)).as("blocked"))

  /** Per-(domain, host) crawl rollup over raw fetched URLs: fetch
    * counts by outcome class plus the dedup collapse the canonicalizer
    * buys (n_urls vs distinct canonical forms). One hash-partial +
    * final aggregation pair keyed by (domain, host, canonical) then
    * (domain, host) — Spark plans count(DISTINCT) exactly that way, so
    * a hot host skews one partition at worst and AQE splits it. Rows
    * that do not canonicalize (non-http, relative) are excluded — they
    * are not fetchable page identities.
    */
  def hostRollup(df: DataFrame, urlCol: String, statusCol: String): DataFrame = {
    val u = col(urlCol)
    // r13 (guide §4.4's duplicated-evaluation lesson, column-program
    // form): filter(canonicalizeUrl(u).isNotNull) re-inlined the whole
    // ~25-regex canonicalization into the pushed-down predicate, so the
    // chain ran TWICE per surviving row (measured 2×). canonicalizeUrl
    // is null exactly when the scheme isn't http/https or the host is
    // empty (its `when` guard — every concat input is non-null
    // otherwise, and a null url nulls the scheme), so the filter uses
    // that two-regex predicate instead and the full chain evaluates
    // once, in the projection.
    df.filter(urlScheme(u).isin("http", "https") && urlHost(u) =!= "")
      .select(urlHost(u).as("host"), canonicalizeUrl(u).as("canonical"),
        col(statusCol).as("__st"))
      .withColumn("domain", registeredDomain(col("host")))
      .groupBy(col("domain"), col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canonical")).as("n_canonical"),
        sum(when(col("__st").between(200, 299), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("__st").between(300, 399), 1L).otherwise(0L)).as("n_redirect"),
        sum(when(col("__st").between(400, 499), 1L).otherwise(0L)).as("n_client_err"),
        sum(when(col("__st") >= 500, 1L).otherwise(0L)).as("n_server_err"))
  }
}
