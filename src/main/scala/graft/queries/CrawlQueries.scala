package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Shared._

/** URL and crawl operators ([[graft.operators.UrlOps]]): canonicalization,
  * robots/sitemap handling, link extraction, snapshot diffs and scheduling.
  */
object CrawlQueries {

  /** Messy-URL fixture shared by q373/q374: every canonicalization
    * rule gets a CASE arm, and the d%10<2 arm yields the SAME
    * canonical for many docs (only the stripped utm_source varies) so
    * the host rollup sees real dedup collapse.
    */
  private def messyUrl(d: Column): Column =
    when(d % 10 < 2,
      concat(lit("HTTP://WWW.Example.COM:80/dup/./x/../page?utm_source="), d))
      .otherwise(concat(
        when(d % 4 === 0, "http").when(d % 4 === 1, "HTTP")
          .when(d % 4 === 2, "https").otherwise("HtTpS"),
        lit("://"),
        when(d % 3 === 0, lit("www.Example.COM"))
          .when(d % 3 === 1, concat(lit("EX"), d % 5, lit(".org")))
          .otherwise(concat(lit("Sub.Host"), d % 5, lit(".NET"))),
        when(d % 6 === 0, ":80").when(d % 6 === 1, ":443")
          .when(d % 6 === 2, ":8080").otherwise(""),
        lit("/a//b/./"), d % 7, lit("/../page"), d % 11,
        when(d % 2 === 0, concat(lit("?id="), d % 9,
          lit("&utm_source=feed&q="), d % 13, lit("&fbclid=x")))
          .otherwise(""),
        when(d % 5 === 0, concat(lit("#frag"), d)).otherwise("")))

  /** q384/q385 snapshot fixtures: prev = every doc at
    * http://w{d%7}.test/p/{d} with md5(text); cur drops every 11th
    * URL, mutates every 7th body, and adds a /new/ URL per 13th doc.
    */
  private def snapshotPrevFixture(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = col("doc_id")
    docs.filter(dd >= 0).select(
      concat(lit("http://w"), dd % 7, lit(".test/p/"), dd).as("url"),
      md5(coalesce(col("text"), lit(""))).as("h"))
  }

  private def snapshotCurFixture(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = col("doc_id")
    val kept = docs.filter(dd >= 0 && dd % 11 =!= 0).select(
      concat(lit("http://w"), dd % 7, lit(".test/p/"), dd).as("url"),
      md5(concat(coalesce(col("text"), lit("")),
        when(dd % 7 === 0, "!v2").otherwise(""))).as("h"))
    val added = docs.filter(dd >= 0 && dd % 13 === 0).select(
      concat(lit("http://w"), dd % 7, lit(".test/new/"), dd).as("url"),
      md5(concat(lit("new"), dd)).as("h"))
    kept.unionAll(added)
  }

  /** q373/q374 oracle scaffolding: the messy-URL synthesis plus the
    * [[graft.operators.UrlOps]] canonicalization passes replayed
    * verbatim in DuckDB ('g' = global, matching Spark's always-global
    * regexp_replace; same leftmost-continue scan in RE2 and Java).
    */
  private def sqlRep(e: String, pat: String, to: String, times: Int): String =
    (1 to times).foldLeft(e)((acc, _) =>
      s"regexp_replace($acc, '$pat', '$to', 'g')")

  private lazy val urlCanonCtes: String = {
    val pathChain = {
      val base = "(CASE WHEN pr = '' THEN '/' ELSE pr END)"
      val collapsed = s"regexp_replace($base, '/+', '/', 'g')"
      val noDot = "regexp_replace(" + sqlRep(collapsed, "/\\./", "/", 4) +
        ", '/\\.$', '/', 'g')"
      val seg = "([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)" // not '.' or '..'
      val noDd = sqlRep(noDot, s"/$seg/\\.\\./", "/", 8)
      val noDdTail = sqlRep(noDd, s"/$seg/\\.\\.$$", "/", 2)
      "regexp_replace(" + sqlRep(noDdTail, "^/\\.\\./", "/", 4) +
        ", '^/\\.\\.$', '/', 'g')"
    }
    """WITH u0 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 < 2 THEN
      |      'HTTP://WWW.Example.COM:80/dup/./x/../page?utm_source=' || doc_id
      |    ELSE
      |      (CASE WHEN doc_id % 4 = 0 THEN 'http'
      |            WHEN doc_id % 4 = 1 THEN 'HTTP'
      |            WHEN doc_id % 4 = 2 THEN 'https' ELSE 'HtTpS' END)
      |      || '://' ||
      |      (CASE WHEN doc_id % 3 = 0 THEN 'www.Example.COM'
      |            WHEN doc_id % 3 = 1 THEN 'EX' || (doc_id % 5) || '.org'
      |            ELSE 'Sub.Host' || (doc_id % 5) || '.NET' END)
      |      || (CASE WHEN doc_id % 6 = 0 THEN ':80'
      |            WHEN doc_id % 6 = 1 THEN ':443'
      |            WHEN doc_id % 6 = 2 THEN ':8080' ELSE '' END)
      |      || '/a//b/./' || (doc_id % 7) || '/../page' || (doc_id % 11)
      |      || (CASE WHEN doc_id % 2 = 0 THEN '?id=' || (doc_id % 9) ||
      |            '&utm_source=feed&q=' || (doc_id % 13) || '&fbclid=x'
      |            ELSE '' END)
      |      || (CASE WHEN doc_id % 5 = 0 THEN '#frag' || doc_id ELSE '' END)
      |    END AS url
      |  FROM documents WHERE doc_id >= 0),
      |p1 AS (SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hp,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pr,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*)', 1) AS qr
      |  FROM u0),
      |p2 AS (SELECT doc_id, sch,
      |    lower(regexp_replace(hp, ':[0-9]*$', '', 'g')) AS host,
      |    regexp_replace(regexp_extract(hp, ':([0-9]+)$', 1),
      |      '^0+([0-9])', '\1') AS port,
      |    """.stripMargin + pathChain + """ AS pth,
      |    COALESCE(array_to_string(list_filter(string_split(qr, '&'),
      |      x -> x <> '' AND NOT regexp_matches(x,
      |        '^(utm_[^=&]*|gclid|fbclid|ref)(=|$)')), '&'), '') AS q
      |  FROM p1),
      |p3 AS (SELECT doc_id, host,
      |    CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = ''
      |         THEN host
      |         ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain,
      |    CASE WHEN sch IN ('http', 'https') AND host <> '' THEN
      |      sch || '://' || host ||
      |      (CASE WHEN port = '' OR (sch = 'http' AND port = '80')
      |            OR (sch = 'https' AND port = '443') THEN ''
      |            ELSE ':' || port END)
      |      || pth || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
      |    END AS canonical
      |  FROM p2)""".stripMargin
  }

  /** q384/q385 shared oracle scaffolding: the snapshot fixtures and
    * the full-outer classification.
    */
  private lazy val snapshotDiffCtes: String =
    """WITH dk AS (SELECT doc_id, COALESCE(text, '') AS tx
      |  FROM documents WHERE doc_id >= 0),
      |prev AS (SELECT 'http://w' || (doc_id % 7) || '.test/p/' || doc_id
      |    AS url, md5(tx) AS prev_hash FROM dk),
      |cur AS (SELECT 'http://w' || (doc_id % 7) || '.test/p/' || doc_id
      |    AS url,
      |    md5(tx || CASE WHEN doc_id % 7 = 0 THEN '!v2' ELSE '' END)
      |      AS cur_hash
      |  FROM dk WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'http://w' || (doc_id % 7) || '.test/new/' || doc_id,
      |    md5('new' || doc_id) FROM dk WHERE doc_id % 13 = 0),
      |diff AS (SELECT COALESCE(p.url, c.url) AS url, prev_hash, cur_hash,
      |    CASE WHEN p.url IS NULL THEN 'added'
      |         WHEN c.url IS NULL THEN 'removed'
      |         WHEN prev_hash IS NOT DISTINCT FROM cur_hash
      |           THEN 'unchanged'
      |         ELSE 'changed' END AS change
      |  FROM prev p FULL OUTER JOIN cur c ON p.url = c.url)""".stripMargin

  val all: Seq[Query] = Seq(
    // URL canonicalization — the page-identity layer between the fetch
    // census (q370) and the corpus: scheme/host case, default ports,
    // duplicate slashes, dot-segments, fragments, tracking params.
    // Messy URLs synthesized in-plan from doc ids (every rule gets an
    // arm); the oracle replays the IDENTICAL regex passes
    Query("q373_url_canonicalize", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val u = messyUrl(col("doc_id"))
      val host = graft.operators.UrlOps.urlHost(u)
      docs.select(col("doc_id"),
        graft.operators.UrlOps.canonicalizeUrl(u).as("canonical"),
        host.as("host"),
        graft.operators.UrlOps.registeredDomain(host).as("domain"))
    },
      // URL-canonicalization replay: the same synthesis CASE arms and
      // the same regex passes (urlCanonCtes = one source of truth)
      (urlCanonCtes +
      "\nSELECT doc_id, canonical, host, domain FROM p3")),

    // Per-host/domain crawl rollup over the canonical identities:
    // fetch-outcome classes + the dedup collapse canonicalization buys
    // (n_urls vs distinct canonicals — the d%10<2 arm folds many raw
    // URLs into ONE canonical once tracking params strip)
    Query("q374_host_rollup", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val st = when(col("doc_id") % 5 === 0, 404)
        .when(col("doc_id") % 7 === 0, 301).otherwise(200)
      graft.operators.UrlOps.hostRollup(
        docs.select(col("doc_id"), messyUrl(col("doc_id")).as("url"),
          st.as("status")), "url", "status")
    },
      // Host-rollup replay: outcome classes over the same canonical
      // identities; count(DISTINCT canonical) exposes the dedup collapse
      (urlCanonCtes +
      """
        |, st AS (SELECT p3.*,
        |    CASE WHEN doc_id % 5 = 0 THEN 404
        |         WHEN doc_id % 7 = 0 THEN 301 ELSE 200 END AS status
        |  FROM p3)
        |SELECT domain, host,
        |  count(*)::BIGINT AS n_urls,
        |  count(DISTINCT canonical)::BIGINT AS n_canonical,
        |  CAST(sum(CASE WHEN status BETWEEN 200 AND 299 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ok,
        |  CAST(sum(CASE WHEN status BETWEEN 300 AND 399 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_redirect,
        |  CAST(sum(CASE WHEN status BETWEEN 400 AND 499 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_client_err,
        |  CAST(sum(CASE WHEN status >= 500 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_server_err
        |FROM st WHERE canonical IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // robots.txt rules + frontier gate — the crawl-acquisition
    // politeness layer on top of q373's identities: per-host robots
    // bodies (comments, shared user-agent groups, crawl-delay noise,
    // the empty-Disallow idiom) parsed for agent "graftbot"; exact-
    // agent groups shadow the * groups (RFC 9309 group selection);
    // longest-match wins, allow beats disallow on ties, no match →
    // allowed
    Query("q377_robots_gate", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val hk = docs.select((col("doc_id") % 5).as("hk")).distinct()
      val robots = hk.select(
        concat(lit("h"), col("hk"), lit(".test")).as("host"),
        concat(lit("# rules for host "), col("hk"), lit("\n"),
          when(col("hk") % 2 === 0, lit(
            "User-agent: GraftBot\nDisallow: /private\nAllow: /private/public\n"))
            .otherwise(lit("")),
          lit("User-agent: *\nUser-agent: legacybot\nDisallow: /tmp\n"),
          lit("Crawl-delay: "), col("hk"), lit("\n"),
          when(col("hk") === 3, lit("Disallow:\n")).otherwise(lit("")))
          .as("robots_txt"))
      val rules = graft.operators.UrlOps.robotsRules(
        robots, "host", "robots_txt", "graftbot")
      val dd = col("doc_id")
      val path = when(dd % 4 === 0, concat(lit("/private/doc"), dd % 3))
        .when(dd % 4 === 1, concat(lit("/private/public/rep"), dd % 3))
        .when(dd % 4 === 2, concat(lit("/tmp/cache"), dd % 3))
        .otherwise(concat(lit("/pages/"), dd % 7))
      val frontier = docs.select(dd,
        concat(lit("http://h"), dd % 5, lit(".test"), path).as("url"))
      graft.operators.UrlOps.robotsGate(frontier, "doc_id", "url", rules)
    },
      // robots replay: the same line parse (comment strip, field:value,
      // shared-UA grouping via the lag window), RFC group selection
      // (exact agent shadows *), and longest-match/allow-wins gate
      """WITH hk AS (SELECT DISTINCT doc_id % 5 AS hk FROM documents
        |  WHERE doc_id >= 0),
        |rb AS (SELECT 'h' || hk || '.test' AS host,
        |    '# rules for host ' || hk || chr(10) ||
        |    (CASE WHEN hk % 2 = 0 THEN 'User-agent: GraftBot' || chr(10) ||
        |      'Disallow: /private' || chr(10) ||
        |      'Allow: /private/public' || chr(10) ELSE '' END) ||
        |    'User-agent: *' || chr(10) || 'User-agent: legacybot' || chr(10) ||
        |    'Disallow: /tmp' || chr(10) ||
        |    'Crawl-delay: ' || hk || chr(10) ||
        |    (CASE WHEN hk = 3 THEN 'Disallow:' || chr(10) ELSE '' END) AS txt
        |  FROM hk),
        |ln AS (SELECT host, ln, trim(regexp_replace(raw, '#.*$', '', 'g')) AS line
        |  FROM (SELECT host, unnest(string_split(txt, chr(10))) AS raw,
        |      unnest(generate_series(1, len(string_split(txt, chr(10))))) AS ln
        |    FROM rb)),
        |fd AS (SELECT host, ln,
        |    lower(trim(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1))) AS field,
        |    trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS value
        |  FROM ln),
        |bk AS (SELECT host, ln, field, value,
        |    CASE WHEN field = 'user-agent' AND
        |      coalesce(lag(field) OVER (PARTITION BY host ORDER BY ln), '')
        |        <> 'user-agent' THEN 1 ELSE 0 END AS brk
        |  FROM fd),
        |gp AS (SELECT host, ln, field, value,
        |    sum(brk) OVER (PARTITION BY host ORDER BY ln) AS grp
        |  FROM bk),
        |ua AS (SELECT host, grp,
        |    min(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 2 END) AS pref
        |  FROM gp WHERE field = 'user-agent'
        |    AND (lower(value) = 'graftbot' OR value = '*')
        |  GROUP BY 1, 2),
        |bp AS (SELECT host, min(pref) AS pref FROM ua GROUP BY 1),
        |rl AS (SELECT gp.host, gp.value AS rule_path,
        |    gp.field = 'allow' AS is_allow
        |  FROM gp
        |  JOIN ua ON gp.host = ua.host AND gp.grp = ua.grp
        |  JOIN bp ON ua.host = bp.host AND ua.pref = bp.pref
        |  WHERE gp.field IN ('allow', 'disallow') AND gp.value <> ''),
        |fr AS (SELECT doc_id, 'h' || (doc_id % 5) || '.test' AS host,
        |    CASE WHEN doc_id % 4 = 0 THEN '/private/doc' || (doc_id % 3)
        |         WHEN doc_id % 4 = 1 THEN '/private/public/rep' || (doc_id % 3)
        |         WHEN doc_id % 4 = 2 THEN '/tmp/cache' || (doc_id % 3)
        |         ELSE '/pages/' || (doc_id % 7) END AS path
        |  FROM documents WHERE doc_id >= 0),
        |j AS (SELECT fr.doc_id, 'http://' || fr.host || fr.path AS url,
        |    fr.host, fr.path, rl.rule_path, rl.is_allow,
        |    (rl.rule_path IS NOT NULL
        |      AND starts_with(fr.path, rl.rule_path)) AS m
        |  FROM fr LEFT JOIN rl ON fr.host = rl.host),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY m DESC, coalesce(length(rule_path), -1) DESC,
        |      is_allow DESC, rule_path) AS rn
        |  FROM j)
        |SELECT doc_id, url, host, path,
        |  CASE WHEN m THEN is_allow ELSE TRUE END AS allowed,
        |  CASE WHEN m THEN rule_path END AS matched_rule
        |FROM rk WHERE rn = 1""".stripMargin),

    // sitemap parse: per-host urlset pages + one sitemapindex host —
    // entity-decoded <loc>, whitespace trim, absent fields null,
    // unparseable <priority> null, document order kept
    Query("q378_sitemap", (s, d) => {
      val hk = t(s, d, "documents").filter(col("doc_id") >= 0)
        .select((col("doc_id") % 6).as("hk")).distinct()
      val urlsetBody = array_join(transform(
        sequence(lit(0), col("hk") + 1), i => concat(
          lit("<url>\n  <loc>\n    http://s"), col("hk"), lit(".test/p/"),
          i, lit("?a=1&amp;b=2\n  </loc>\n"),
          when(i % 2 === 0, concat(lit("  <lastmod>2026-0"),
            (i % 9) + 1, lit("-01</lastmod>\n"))).otherwise(lit("")),
          when(i % 3 === 0, lit("  <changefreq>daily</changefreq>\n"))
            .when(i % 3 === 1, lit("  <changefreq>weekly</changefreq>\n"))
            .otherwise(lit("")),
          when(i % 3 === 0, concat(lit("  <priority>0."), i,
            lit("</priority>\n")))
            .when(i % 3 === 1, lit("  <priority>x</priority>\n"))
            .otherwise(lit("")),
          lit("</url>\n"))), "")
      val indexBody = array_join(transform(sequence(lit(0), lit(2)),
        i => concat(lit("<sitemap><loc>http://s5.test/sm/"), i,
          lit(".xml</loc><lastmod>2026-08-0"), i + 1,
          lit("</lastmod></sitemap>\n"))), "")
      val sitemaps = hk.select(
        concat(lit("s"), col("hk"), lit(".test")).as("host"),
        concat(lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"),
          when(col("hk") === 5, concat(
            lit("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
            indexBody, lit("</sitemapindex>")))
            .otherwise(concat(
              lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
              urlsetBody, lit("</urlset>")))).as("xml"))
      graft.operators.UrlOps.sitemapEntries(sitemaps, "host", "xml")
    },
      // sitemap replay: the parse target is synthesized from closed
      // forms, so the oracle states the expected rows directly — hash
      // equality pins the whole regex parse (kind dispatch, block
      // explode order, trim, entity decode, null-on-absent/unparseable)
      """WITH hk AS (SELECT DISTINCT doc_id % 6 AS hk FROM documents
        |  WHERE doc_id >= 0),
        |us AS (SELECT hk, unnest(generate_series(0, hk + 1)) AS i
        |  FROM hk WHERE hk < 5),
        |u AS (SELECT 's' || hk || '.test' AS host, 'urlset' AS kind,
        |    CAST(i AS BIGINT) AS entry_pos,
        |    'http://s' || hk || '.test/p/' || i || '?a=1&b=2' AS loc,
        |    CASE WHEN i % 2 = 0
        |      THEN '2026-0' || (i % 9 + 1) || '-01' END AS lastmod,
        |    CASE WHEN i % 3 = 0 THEN 'daily'
        |         WHEN i % 3 = 1 THEN 'weekly' END AS changefreq,
        |    CASE WHEN i % 3 = 0
        |      THEN CAST('0.' || i AS DOUBLE) END AS priority
        |  FROM us),
        |ix AS (SELECT 's5.test' AS host, 'sitemapindex' AS kind,
        |    CAST(i AS BIGINT) AS entry_pos,
        |    'http://s5.test/sm/' || i || '.xml' AS loc,
        |    '2026-08-0' || (i + 1) AS lastmod,
        |    CAST(NULL AS VARCHAR) AS changefreq,
        |    CAST(NULL AS DOUBLE) AS priority
        |  FROM (SELECT unnest(generate_series(0, 2)) AS i
        |    FROM (SELECT DISTINCT 1 FROM hk WHERE hk = 5)))
        |SELECT * FROM u UNION ALL SELECT * FROM ix""".stripMargin),

    // redirect-chain resolution via pointer doubling: 12-URL blocks
    // chaining down to a terminal base (lengths 0..11 vs maxHops 8
    // exercise the cap), every 5th block's base redirecting back up
    // into the block (a 4-cycle — never resolves), tail-block targets
    // pointing past the corpus (terminal at an unfetched URL)
    Query("q379_redirect_resolve", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val dd = col("doc_id")
      val b = dd % 12
      val blk = ((dd - b) / 12).cast("long") // exact: (dd-b) divisible by 12
      val url = concat(lit("http://r.test/u/"), dd)
      val fetches = docs.select(url.as("url"),
        when(b === 0 && blk % 5 === 0, 302)
          .when(b === 0, 200).otherwise(301).as("status"),
        when(b === 0 && blk % 5 === 0,
          concat(lit("http://r.test/u/"), dd + 3))
          .when(b > 0, concat(lit("http://r.test/u/"), dd - 1))
          .as("location"))
      graft.operators.UrlOps.resolveRedirects(
        fetches, "url", "status", "location", maxHops = 8)
    },
      // redirect replay: same closed-form fetch log, resolved by a
      // bounded recursive walk (the linear reference for the engine's
      // log-round pointer doubling) — deepest row per source, terminal
      // iff its cursor has no outgoing redirect
      """WITH RECURSIVE f AS (SELECT doc_id AS d FROM documents
        |  WHERE doc_id >= 0),
        |fx AS (SELECT 'http://r.test/u/' || d AS url,
        |    CASE WHEN d % 12 = 0 AND (d // 12) % 5 = 0 THEN 302
        |         WHEN d % 12 = 0 THEN 200 ELSE 301 END AS status,
        |    CASE WHEN d % 12 = 0 AND (d // 12) % 5 = 0
        |        THEN 'http://r.test/u/' || (d + 3)
        |      WHEN d % 12 > 0
        |        THEN 'http://r.test/u/' || (d - 1) END AS location
        |  FROM f),
        |nx AS (SELECT url AS src,
        |    min(CASE WHEN status BETWEEN 300 AND 399
        |      THEN location END) AS nxt
        |  FROM fx GROUP BY 1),
        |walk AS (
        |  SELECT src, src AS cur, 0 AS hops FROM nx
        |  UNION ALL
        |  SELECT w.src, n.nxt, w.hops + 1
        |  FROM walk w JOIN nx n ON n.src = w.cur
        |  WHERE n.nxt IS NOT NULL AND w.hops < 8),
        |fin AS (SELECT w.src, w.cur, w.hops,
        |    (n.src IS NULL OR n.nxt IS NULL) AS term,
        |    row_number() OVER (PARTITION BY w.src
        |      ORDER BY w.hops DESC) AS rn
        |  FROM walk w LEFT JOIN nx n ON n.src = w.cur)
        |SELECT src AS url,
        |  CASE WHEN term THEN cur END AS final_url,
        |  CASE WHEN term THEN CAST(hops AS BIGINT) END AS hops,
        |  term AS resolved
        |FROM fin WHERE rn = 1""".stripMargin),

    // polite fetch schedule: robots Crawl-delay parsed per RFC 9309
    // group selection (exact agent shadows *, unparseable value →
    // default), then per-host priority-ordered sequence numbers and
    // earliest-start offsets
    Query("q380_crawl_schedule", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val hk = docs.select((col("doc_id") % 4).as("hk")).distinct()
      val robots = hk.select(
        concat(lit("c"), col("hk"), lit(".test")).as("host"),
        concat(
          when(col("hk") % 2 === 0, concat(
            lit("User-agent: GraftBot\nCrawl-delay: "), col("hk"),
            lit(".5\n"))).otherwise(lit("")),
          lit("User-agent: *\nDisallow: /x\nCrawl-delay: "),
          when(col("hk") === 1, lit("fast")).otherwise(lit("2")),
          lit("\n")).as("robots_txt"))
      val delays = graft.operators.UrlOps.robotsCrawlDelay(
        robots, "host", "robots_txt", "graftbot", defaultDelaySec = 1.0)
      val frontier = docs.select(col("doc_id"),
        concat(lit("http://c"), col("doc_id") % 4, lit(".test/f/"),
          col("doc_id")).as("url"),
        (col("doc_id") % 10).as("prio"))
      graft.operators.UrlOps.crawlSchedule(
        frontier, "doc_id", "url", "prio", delays, defaultDelaySec = 1.0)
    },
      // schedule replay: closed-form delays (even hk → exact-agent
      // group hk+0.5; hk=1 → unparseable → default 1.0; hk=3 → * group
      // 2.0) and the same per-host priority window
      """WITH dk AS (SELECT doc_id FROM documents WHERE doc_id >= 0),
        |fr AS (SELECT doc_id, doc_id % 4 AS hk,
        |    'http://c' || (doc_id % 4) || '.test/f/' || doc_id AS url,
        |    doc_id % 10 AS prio FROM dk),
        |dl AS (SELECT hk, CAST(CASE WHEN hk % 2 = 0 THEN hk + 0.5
        |      WHEN hk = 1 THEN 1.0 ELSE 2.0 END AS DOUBLE) AS delay
        |  FROM (SELECT DISTINCT doc_id % 4 AS hk FROM dk)),
        |sq AS (SELECT f.doc_id, f.url, 'c' || f.hk || '.test' AS host,
        |    d.delay,
        |    row_number() OVER (PARTITION BY f.hk
        |      ORDER BY f.prio DESC, f.doc_id ASC) AS seq
        |  FROM fr f JOIN dl d ON f.hk = d.hk)
        |SELECT doc_id, url, host, CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST(seq - 1 AS DOUBLE) * delay AS eta_sec
        |FROM sq""".stripMargin),

    // Anchor-link extraction + RFC 3986 reference resolution — the
    // hyperlink layer after q371's content census: every href arm
    // (absolute, protocol-relative, root-relative, dot-segment
    // relative, plain relative, fragment-only, mailto) resolved
    // against an uppercase/ported page URL to a canonical target
    Query("q382_link_extract", (s, d) =>
      graft.operators.UrlOps.extractLinks(
        linkPageFixture(t(s, d, "documents")),
        "doc_id", "page_url", "page_html"),
      // link-extraction replay: the arm positions, hrefs, and canonical
      // targets stated closed-form — hash equality pins the extraction
      // regex, document-order indexing, and every resolution rule
      linkExtractOracleSql),

    // Inbound anchor-text census per target host — "what does the web
    // call this site" (the Brin & Page §2.2 off-page signal): resolved
    // links, distinct anchor texts, modal anchor with alphabetic
    // tie-break
    Query("q400_anchor_text", (s, d) =>
      graft.operators.UrlOps.anchorSummary(
        graft.operators.UrlOps.extractLinksWithAnchors(
          linkPageFixture(t(s, d, "documents")),
          "doc_id", "page_url", "page_html"),
        "target", "anchor"),
      // Anchor census replay over the same analytic link arms (each arm
      // carries its fixed anchor letter); modal anchor via
      // (blank-last, count DESC, anchor) row_number — blank anchors count
      // as links but not as anchor texts and can't win top_anchor
      (linkArmsCtes +
      """
        |, pa AS (SELECT dst_host, anchor, count(*)::BIGINT AS n,
        |    CASE WHEN trim(anchor) = '' THEN 1 ELSE 0 END AS blank
        |    FROM arms WHERE target IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT dst_host, anchor, n, blank,
        |    sum(n) OVER (PARTITION BY dst_host)::BIGINT AS n_links,
        |    sum(1 - blank) OVER (PARTITION BY dst_host)::BIGINT
        |      AS n_anchor_texts,
        |    row_number() OVER (PARTITION BY dst_host
        |      ORDER BY blank, n DESC, anchor) AS rn
        |  FROM pa)
        |SELECT dst_host, n_links, n_anchor_texts,
        |  CASE WHEN blank = 0 THEN anchor END AS top_anchor
        |FROM r WHERE rn = 1""".stripMargin)),

    // Host-level link graph out of q382's edges: per (src_host,
    // dst_host) raw link count, distinct canonical targets, and the
    // internal/external split — the frontier-seeding rollup
    Query("q383_host_graph", (s, d) =>
      graft.operators.UrlOps.hostGraph(
        graft.operators.UrlOps.extractLinks(
          linkPageFixture(t(s, d, "documents")),
          "doc_id", "page_url", "page_html"),
        "url", "target"),
      // host-graph replay: the resolved arms rolled up per edge; all
      // fixture hosts are two-label so registered-domain equality is
      // host equality
      (linkArmsCtes +
      """
        |SELECT src_host, dst_host,
        |  count(*)::BIGINT AS n_links,
        |  count(DISTINCT target)::BIGINT AS n_targets,
        |  src_host = dst_host AS same_domain
        |FROM arms WHERE target IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // Crawl snapshot diff — the incremental-crawl primitive: previous
    // vs current (url, md5) snapshots full-outer joined and classified
    // added / removed / changed / unchanged (every 11th URL dropped,
    // every 7th page's body mutated, every 13th doc spawning a new URL)
    Query("q384_snapshot_diff", (s, d) =>
      graft.operators.UrlOps.snapshotDiff(
        snapshotPrevFixture(t(s, d, "documents")),
        snapshotCurFixture(t(s, d, "documents")), "url", "h"),
      // snapshot-diff replay: same md5 snapshots, same full-outer
      // classification
      (snapshotDiffCtes +
      """
        |SELECT url, prev_hash, cur_hash, change FROM diff""".stripMargin)),

    // Per-host churn rollup over the diff: class counts + the
    // non-unchanged share of the union universe — the recrawl
    // scheduler's budget number
    Query("q385_crawl_churn", (s, d) =>
      graft.operators.UrlOps.churnRollup(
        graft.operators.UrlOps.snapshotDiff(
          snapshotPrevFixture(t(s, d, "documents")),
          snapshotCurFixture(t(s, d, "documents")), "url", "h")),
      // churn replay: per-host class counts over the diff; churn_pct is
      // the same mult-then-divide IEEE pair
      (snapshotDiffCtes +
      """
        |SELECT regexp_extract(url, '^http://([^/]*)/', 1) AS host,
        |  sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_added,
        |  sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_removed,
        |  sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_changed,
        |  sum(CASE WHEN change = 'unchanged' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_unchanged,
        |  count(*)::BIGINT AS n_urls,
        |  CAST(sum(CASE WHEN change <> 'unchanged' THEN 1 ELSE 0 END)
        |      AS DOUBLE) * 100.0 / CAST(count(*) AS DOUBLE) AS churn_pct
        |FROM diff GROUP BY 1""".stripMargin)),

    // Conditional-refetch planner: ETag (weak/strong, case-insensitive
    // field names) / Last-Modified parsed out of stored response
    // headers, If-None-Match precedence when both exist, cadence class
    // from integer-threshold change rates
    Query("q386_refetch_plan", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val dd = col("doc_id")
      val hdrs = concat(
        lit("HTTP/1.1 200 OK\nDate: Mon, 01 Jan 2026 00:00:00 GMT\n"),
        when(dd % 3 === 0, concat(
          when(dd % 12 === 0, lit("etag: ")).otherwise(lit("ETag: ")),
          when(dd % 6 === 0, concat(lit("W/\"w"), dd, lit("\"")))
            .otherwise(concat(lit("\"e"), dd, lit("\""))),
          lit("\n"))).otherwise(lit("")),
        when(dd % 3 === 1 || dd % 12 === 6,
          concat(lit("Last-Modified: Mon, 0"), dd % 7 + 1,
            lit(" Jan 2026 00:00:00 GMT\n"))).otherwise(lit("")),
        lit("Content-Type: text/html\n"))
      graft.operators.UrlOps.refetchPlan(
        docs.select(concat(lit("http://f.test/p/"), dd).as("url"),
          hdrs.as("headers"), (dd % 5).as("nch"),
          (dd % 5 + dd % 4 + 1).as("nobs")),
        "url", "headers", "nch", "nobs")
    },
      // refetch-plan replay: validator arms closed-form (etag on d%3=0,
      // weak on d%6=0, lowercase field on d%12=0; last-modified on
      // d%3=1 and the both-validators d%12=6 arm where If-None-Match
      // wins), integer-threshold cadence classes
      """WITH dk AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      CASE WHEN doc_id % 6 = 0 THEN 'W/"w' || doc_id || '"'
        |           ELSE '"e' || doc_id || '"' END END AS etag,
        |    CASE WHEN doc_id % 3 = 1 OR doc_id % 12 = 6 THEN
        |      'Mon, 0' || (doc_id % 7 + 1) || ' Jan 2026 00:00:00 GMT'
        |      END AS lm,
        |    doc_id % 5 AS nc,
        |    doc_id % 5 + doc_id % 4 + 1 AS nob
        |  FROM documents WHERE doc_id >= 0)
        |SELECT 'http://f.test/p/' || doc_id AS url,
        |  CASE WHEN etag IS NOT NULL THEN 'etag'
        |       WHEN lm IS NOT NULL THEN 'last-modified'
        |       ELSE 'none' END AS validator,
        |  COALESCE(etag, lm) AS validator_value,
        |  (etag IS NOT NULL AND doc_id % 6 = 0) AS weak_etag,
        |  (etag IS NOT NULL OR lm IS NOT NULL) AS conditional,
        |  CAST(nc AS DOUBLE) / CAST(nob AS DOUBLE) AS change_rate,
        |  CASE WHEN nob IS NULL OR nob <= 0 THEN 'monthly'
        |       WHEN nc * 2 >= nob THEN 'hourly'
        |       WHEN nc * 5 >= nob THEN 'daily'
        |       WHEN nc * 20 >= nob THEN 'weekly'
        |       ELSE 'monthly' END AS refetch_class
        |FROM dk""".stripMargin),

    // The full crawl-acquisition pipeline in ONE lane: sitemap parse →
    // frontier (sitemap <priority>, spec default 0.5 when absent) →
    // robots gate (the /s/0 entry of every host is disallowed) →
    // Crawl-delay budget → polite fetch schedule
    Query("q391_frontier_pipeline", (s, d) => {
      val u = graft.operators.UrlOps
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val hk = docs.select((col("doc_id") % 4).as("hk")).distinct()
      val host = concat(lit("f"), col("hk"), lit(".test"))
      val urlsetBody = array_join(transform(
        sequence(lit(0), col("hk") + 2), i => concat(
          lit("<url><loc>http://f"), col("hk"), lit(".test/s/"), i,
          lit("</loc>"),
          when(i % 2 === 0, concat(lit("<priority>0."),
            (i + col("hk")) % 10, lit("</priority>"))).otherwise(lit("")),
          lit("</url>\n"))), "")
      val sitemaps = hk.select(host.as("host"), concat(
        lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
        urlsetBody, lit("</urlset>")).as("xml"))
      val robots = hk.select(host.as("host"),
        concat(lit("User-agent: *\nDisallow: /s/0\nCrawl-delay: "),
          col("hk") + 1, lit("\n")).as("txt"))
      val entries = u.sitemapEntries(sitemaps, "host", "xml")
      val frontier = entries.select(
        (regexp_extract(col("host"), "f([0-9]+)", 1).cast("long") * 10 +
          col("entry_pos")).as("fid"),
        col("loc").as("url"),
        coalesce(col("priority"), lit(0.5)).as("prio"))
      val rules = u.robotsRules(robots, "host", "txt", "graftbot")
      val gated = u.robotsGate(frontier, "fid", "url", rules)
        .filter(col("allowed"))
      val delays = u.robotsCrawlDelay(robots, "host", "txt", "graftbot")
      u.crawlSchedule(
        gated.select(col("fid"), col("url"))
          .join(frontier.select(col("fid"), col("prio")), Seq("fid")),
        "fid", "url", "prio", delays)
    },
      // Frontier-pipeline replay: everything is closed-form — entry 0 of
      // each host is robots-disallowed, priorities are the sitemap arms
      // (absent → 0.5 default), delay is the * group's hk+1, and the
      // schedule is the same priority-desc / id-asc window
      """WITH hk AS (SELECT DISTINCT doc_id % 4 AS hk FROM documents
        |  WHERE doc_id >= 0),
        |e AS (SELECT hk, unnest(generate_series(1, hk + 2)) AS i FROM hk),
        |f AS (SELECT hk, hk * 10 + i AS fid,
        |    'http://f' || hk || '.test/s/' || i AS url,
        |    'f' || hk || '.test' AS host,
        |    CASE WHEN i % 2 = 0
        |      THEN CAST('0.' || ((i + hk) % 10) AS DOUBLE)
        |      ELSE 0.5 END AS prio
        |  FROM e),
        |sq AS (SELECT fid, url, host, hk,
        |    row_number() OVER (PARTITION BY hk
        |      ORDER BY prio DESC, fid ASC) AS seq
        |  FROM f)
        |SELECT CAST(fid AS BIGINT) AS fid, url, host,
        |  CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST(seq - 1 AS DOUBLE) * CAST(hk + 1 AS DOUBLE) AS eta_sec
        |FROM sq""".stripMargin),

    // Per-registered-domain fetch health: 5xx share with an integer
    // cross-multiply block decision (site0 never errors, site1 25%,
    // site2 exactly the 50% boundary → blocked)
    Query("q392_domain_health", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val dd = col("doc_id")
      graft.operators.UrlOps.domainHealth(
        docs.select(
          concat(lit("http://d"), dd % 8, lit(".site"), dd % 3,
            lit(".test/p/"), dd).as("url"),
          when(dd % 4 < dd % 3, 500).otherwise(200).as("status")),
        "url", "status")
    },
      // Domain-health replay: per-domain 5xx census; err_pct is the same
      // mult-then-divide pair, blocked the same integer cross-multiply
      """WITH fx AS (SELECT doc_id,
        |    'site' || (doc_id % 3) || '.test' AS domain,
        |    CASE WHEN doc_id % 4 < doc_id % 3 THEN 500 ELSE 200 END
        |      AS status
        |  FROM documents WHERE doc_id >= 0)
        |SELECT domain, count(*)::BIGINT AS n_fetches,
        |  sum(CASE WHEN status >= 500 THEN 1 ELSE 0 END)::BIGINT AS n_5xx,
        |  CAST(sum(CASE WHEN status >= 500 THEN 1 ELSE 0 END) AS DOUBLE)
        |    * 100.0 / CAST(count(*) AS DOUBLE) AS err_pct,
        |  (sum(CASE WHEN status >= 500 THEN 1 ELSE 0 END) * 100
        |    >= count(*) * 50) AS blocked
        |FROM fx GROUP BY 1""".stripMargin),

    // ...and the frontier gated on that health frame (broadcast,
    // zero frontier shuffle): every URL of the blocked domain flags
    Query("q393_domain_gate", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val dd = col("doc_id")
      val url = concat(lit("http://d"), dd % 8, lit(".site"), dd % 3,
        lit(".test/p/"), dd)
      val health = graft.operators.UrlOps.domainHealth(
        docs.select(url.as("url"),
          when(dd % 4 < dd % 3, 500).otherwise(200).as("status")),
        "url", "status")
      graft.operators.UrlOps.domainHealthGate(
        docs.select(dd, url.as("url")), "doc_id", "url", health)
    },
      // Gate replay: blocked iff the URL's registered domain crossed the
      // threshold (only site2's exact-50% boundary does)
      """WITH fx AS (SELECT doc_id,
        |    'http://d' || (doc_id % 8) || '.site' || (doc_id % 3)
        |      || '.test/p/' || doc_id AS url,
        |    'site' || (doc_id % 3) || '.test' AS domain,
        |    CASE WHEN doc_id % 4 < doc_id % 3 THEN 500 ELSE 200 END
        |      AS status
        |  FROM documents WHERE doc_id >= 0),
        |bl AS (SELECT domain,
        |    (sum(CASE WHEN status >= 500 THEN 1 ELSE 0 END) * 100
        |      >= count(*) * 50) AS blocked
        |  FROM fx GROUP BY 1)
        |SELECT f.doc_id, f.url, f.domain, b.blocked
        |FROM fx f JOIN bl b ON f.domain = b.domain""".stripMargin))
}
