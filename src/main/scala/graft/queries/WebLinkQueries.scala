package graft
package queries

import graft.ops._
import graft.synth.Synth
import OracleSql._

/** Web crawl and link-graph queries: URL canonicalization, host rollups,
  * link analysis (PageRank, HITS), crawl frontier and budget. */
object WebLinkQueries {

  /** Mirrored-pages fixture (q147/q149/q155): every 3rd page duplicated on
    * host m-<host>. */
  private val mirPgm =
    """pgm AS (
      |  SELECT 'https://' || source || '.example.com/doc/'
      |      || CAST(doc_id AS VARCHAR) AS url, text
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://m-' || source || '.example.com/doc/'
      |      || CAST(doc_id AS VARCHAR) AS url, text
      |  FROM documents WHERE doc_id % 3 = 0
      |)""".stripMargin

  /** Host-reputation chain over the mirrored fixture (q149/q155). */
  private val repCtes: Seq[String] = Seq(mirPgm,
    """rwd AS (
      |  SELECT split_part(url, '/', 3) AS host, ws[g.i] AS w
      |  FROM (SELECT url, string_split(text, ' ') AS ws FROM pgm)
      |  CROSS JOIN generate_series(1, 128) g(i)
      |  WHERE g.i <= len(ws)
      |)""".stripMargin,
    s"""rsc AS (
       |  SELECT host, count(*) AS n_words, sum($wordWeight) AS w_sum
       |  FROM rwd GROUP BY host
       |)""".stripMargin,
    """rhs AS (
      |  SELECT split_part(url, '/', 3) AS host, url,
      |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS hb
      |  FROM pgm
      |)""".stripMargin,
    "roc AS (SELECT hb, count(*) AS nocc FROM rhs GROUP BY hb)",
    """rdp AS (
      |  SELECT host, count(*) AS n_pages,
      |    sum(CASE WHEN o.nocc >= 2 THEN 1 ELSE 0 END) AS n_dup_pages
      |  FROM rhs h JOIN roc o ON h.hb = o.hb GROUP BY host
      |)""".stripMargin,
    """rvd AS (
      |  SELECT d.host, d.n_pages, d.n_dup_pages,
      |    d.n_dup_pages * 1000000 // d.n_pages AS dup_ppm,
      |    ((s.w_sum + 1001 * s.n_words) * 1000) // s.n_words AS score_ppk,
      |    CASE WHEN d.n_dup_pages * 1000000 // d.n_pages >= 500000
      |           THEN 'mirror-block'
      |         WHEN ((s.w_sum + 1001 * s.n_words) * 1000) // s.n_words < 1001000
      |           THEN 'low-quality'
      |         ELSE 'keep' END AS verdict
      |  FROM rdp d JOIN rsc s ON d.host = s.host
      |)""".stripMargin)

  /** Content-drift chain at host grain (q145/q155). */
  private val driftCtes: Seq[String] = Seq(
    """ftc AS (
      |  SELECT CAST(doc_id AS BIGINT) AS pid,
      |    source || '.example.com' AS host, g.f AS f
      |  FROM documents CROSS JOIN generate_series(0, 2) g(f)
      |  WHERE g.f <= doc_id % 3
      |)""".stripMargin,
    """chg AS (
      |  SELECT pid, host,
      |    CASE WHEN f = 0 THEN 0
      |         WHEN ((pid // (f + 1)) % 3) <> ((pid // f) % 3) THEN 1
      |         ELSE 0 END AS changed
      |  FROM ftc
      |)""".stripMargin,
    """pdu AS (
      |  SELECT pid, host, count(*) - 1 AS n_refetches,
      |    sum(changed) AS n_changed
      |  FROM chg GROUP BY pid, host
      |)""".stripMargin,
    """hdr AS (
      |  SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
      |    CAST(sum(n_refetches) AS BIGINT) AS n_refetches,
      |    CAST(sum(n_changed) AS BIGINT) AS n_changed
      |  FROM pdu GROUP BY host
      |)""".stripMargin,
    """bkt AS (
      |  SELECT host,
      |    CASE WHEN n_refetches > 0 AND (n_changed * 1000000) // n_refetches >= 500000 THEN 'volatile'
      |         WHEN n_refetches > 0 AND n_changed > 0 THEN 'drifting'
      |         ELSE 'static' END AS bucket
      |  FROM hdr
      |)""".stripMargin)

  // ---- shared link-graph CTEs (q140/q143/q144/q148/q153): nodes = base
  // corpus docs, edges = the 3-quadratic-residue-target synthetic graph ----
  private val lgNds = "nds AS (SELECT doc_id FROM corpus WHERE doc_id < 1000000)"
  private val lgNtot = "ntot AS (SELECT count(*) AS n FROM nds)"
  private val lgEdg =
    """edg AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT doc_id AS src, (doc_id * doc_id + g.k * 7919 + 13) % t.n AS dst
      |    FROM nds CROSS JOIN ntot t CROSS JOIN generate_series(0, 2) g(k))
      |  WHERE dst <> src
      |)""".stripMargin

  /** PageRank round `k` (q140): ranks `pr<k>` from `pr<k-1>` over the
    * out-degrees `odg`, damping 85/100, teleport 150000000 div n, every step
    * floor-divided BIGINT ppb — one round of `LinkGraph.pageRank`. */
  private def pageRankRound(k: Int): String =
    s"""pr$k AS (
       |  SELECT nd.doc_id, (150000000 // t.n) + (85 * coalesce(s.m, 0)) // 100 AS r
       |  FROM nds nd CROSS JOIN ntot t
       |  LEFT JOIN (SELECT e.dst AS doc_id, CAST(sum(p.r // o.outdeg) AS BIGINT) AS m
       |             FROM edg e JOIN odg o ON e.src = o.src
       |             JOIN pr${k - 1} p ON e.src = p.doc_id GROUP BY e.dst) s
       |    ON nd.doc_id = s.doc_id
       |)""".stripMargin

  /** One HITS half-round (q148): scores `<name>(doc_id, s)` sum the `from`
    * scores over the edges, keyed by the edge end `key` (`dst` for
    * authorities, `src` for hubs), max-normalized onto the ppm grid. */
  private def hitsHalfRound(name: String, from: String, key: String, other: String): Seq[String] = Seq(
    s"""${name}r AS (SELECT e.$key AS doc_id, CAST(sum(f.s) AS BIGINT) AS raw
       |  FROM edg e JOIN $from f ON e.$other = f.doc_id GROUP BY e.$key)""".stripMargin,
    s"${name}m AS (SELECT max(raw) AS mx FROM ${name}r)",
    s"""$name AS (SELECT nd.doc_id, coalesce(r.raw, 0) * 1000000 // m.mx AS s
       |  FROM nds nd CROSS JOIN ${name}m m LEFT JOIN ${name}r r ON nd.doc_id = r.doc_id)""".stripMargin)

  /** Canonical URLs of the fetch log, one row per (canon, host) (q74/q130). */
  private val canonUrls: Seq[String] = Seq(flog,
    """cano AS (
      |  SELECT pid, fetch_ts,
      |    lower(split_part(split_part(raw, '#', 1), '?', 1)) AS canon
      |  FROM flog
      |)""".stripMargin,
    """cu AS (
      |  SELECT canon, split_part(canon, '/', 3) AS host,
      |    count(*) AS n_fetches, max(fetch_ts) AS latest_ts, min(pid) AS first_pid
      |  FROM cano GROUP BY canon, split_part(canon, '/', 3)
      |)""".stripMargin)

  /** Page → host of the synthetic crawl (q144/q153). */
  private val pageHosts: String =
    """hst AS (
      |  SELECT CAST(doc_id AS BIGINT) AS pid,
      |    source || '.example.com' AS host
      |  FROM documents
      |)""".stripMargin

  val queries: Seq[Query] = Seq(
    // URL canonicalization + refetch collapse over the synthetic fetch log
    // (strip query/fragment, lowercase, host extraction — split_part algebra)
    Query("q74_url_canon", (s, dir) =>
      WebCuration.canonicalUrls(Synth.pages(s, dir)),
      withCtes(canonUrls: _*)(
        "SELECT canon, host, n_fetches, latest_ts, first_pid FROM cu")),

    // per-domain cap: keep top-2 canonical URLs per host
    Query("q130_domain_cap", (s, dir) => WebCuration.domainCap(Synth.pages(s, dir)),
      // per-domain cap over the canonical-URL table (q74 chain + ranked cut)
      withCtes(canonUrls :+
        """rkd AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY host ORDER BY n_fetches DESC, canon) AS rnk
          |  FROM cu
          |)""".stripMargin: _*)(
        """SELECT host, canon, n_fetches, latest_ts, first_pid, CAST(rnk AS INT) AS rnk
          |FROM rkd WHERE rnk <= 2""".stripMargin)),

    // fixed-point PageRank (3 rounds, ppb integer ranks): iterated
    // edges ⋈ ranks + one partial-aggregating exchange per round — the
    // BSP link-analysis workload as pure relational algebra
    Query("q140_pagerank", (s, dir) =>
      LinkGraph.pageRank(Synth.corpus(s, dir)),
      // fixed-point PageRank, 3 generated rounds: hash-derived 3-out-link graph
      // over the contiguous base-doc id space; damping 85/100, teleport
      // 150000000 div n, every step floor-divided BIGINT ppb
      withCtes(Seq(corpus, lgNds, lgNtot, lgEdg,
        "odg AS (SELECT src, count(*) AS outdeg FROM edg GROUP BY src)",
        "idg AS (SELECT dst, count(*) AS n_in FROM edg GROUP BY dst)",
        "pr0 AS (SELECT doc_id, 1000000000 // t.n AS r FROM nds CROSS JOIN ntot t)") ++
        (1 to 3).map(pageRankRound): _*)(
        """SELECT p.doc_id, CAST(p.r AS BIGINT) AS rank_ppb,
          |  CAST(coalesce(i.n_in, 0) AS BIGINT) AS n_in,
          |  CAST(coalesce(o.outdeg, 0) AS BIGINT) AS n_out
          |FROM pr3 p
          |LEFT JOIN idg i ON p.doc_id = i.dst
          |LEFT JOIN odg o ON p.doc_id = o.src""".stripMargin)),

    // crawl-frontier politeness schedule: per-host FIFO dealt into fetch
    // ticks at 2 requests/host/tick
    Query("q141_frontier", (s, dir) =>
      WebCuration.frontierSchedule(Synth.pages(s, dir)),
      // frontier schedule: per-host FIFO by (warc_ts, url), 2 fetches per tick
      withCtes(
        """pgu AS (
          |  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
          |    1700000000 + CAST(doc_id AS BIGINT) * 37 AS ts
          |  FROM documents
          |)""".stripMargin,
        """fsl AS (
          |  SELECT url, split_part(url, '/', 3) AS host,
          |    CAST(row_number() OVER (PARTITION BY split_part(url, '/', 3)
          |      ORDER BY ts, url) - 1 AS BIGINT) AS slot
          |  FROM pgu
          |)""".stripMargin)(
        "SELECT host, url, slot, CAST(slot // 2 AS BIGINT) AS tick FROM fsl")),

    // anchor-text aggregation: each in-link carries its source page's lead
    // terms; per target the top-3 terms by in-link frequency (one
    // partial-aggregating exchange + WindowGroupLimit top-k)
    Query("q143_anchor_text", (s, dir) =>
      LinkGraph.anchorText(Synth.corpus(s, dir)),
      // anchor-text aggregation: in-link lead-term counts per target, top-3
      // under the (n_links desc, w asc) total order — the engine's
      // WindowGroupLimit ≡ the oracle's row_number cut
      withCtes(corpus, lgNds, lgNtot, lgEdg,
        """anc AS (
          |  SELECT doc_id AS src, ws[g.i] AS w
          |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
          |        FROM corpus WHERE doc_id < 1000000)
          |  CROSS JOIN generate_series(1, 3) g(i)
          |  WHERE g.i <= len(ws)
          |)""".stripMargin,
        """acn AS (
          |  SELECT e.dst AS doc_id, a.w, count(*) AS n_links
          |  FROM edg e JOIN anc a ON e.src = a.src
          |  GROUP BY e.dst, a.w
          |)""".stripMargin,
        """ark AS (
          |  SELECT doc_id, w, n_links,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY n_links DESC, w) AS rnk
          |  FROM acn
          |)""".stripMargin)(
        """SELECT doc_id, w, CAST(n_links AS BIGINT) AS n_links,
          |  CAST(rnk AS INT) AS rnk
          |FROM ark WHERE rnk <= 3""".stripMargin)),

    // host-graph condensation: page edges collapsed to weighted host-pair
    // edges (the step that makes 10^12-page authority analytics tractable)
    Query("q144_host_graph", (s, dir) =>
      LinkGraph.hostGraph(Synth.pages(s, dir), Synth.corpus(s, dir)),
      // host-graph condensation: page edges → weighted host-pair edges,
      // self-host edges dropped
      withCtes(corpus, lgNds, lgNtot, lgEdg,
        pageHosts)(
        """SELECT sh.host AS src_host, dh.host AS dst_host,
          |  CAST(count(*) AS BIGINT) AS n_links,
          |  CAST(count(DISTINCT e.src) AS BIGINT) AS n_src_pages
          |FROM edg e
          |JOIN hst sh ON e.src = sh.pid
          |JOIN hst dh ON e.dst = dh.pid
          |WHERE sh.host <> dh.host
          |GROUP BY sh.host, dh.host""".stripMargin)),

    // refetch content-drift ranking: closed-form per-fetch change flags,
    // two partial aggs to host grain — the crawler revisit-policy signal
    Query("q145_content_drift", (s, dir) =>
      WebCuration.contentDrift(Synth.pages(s, dir)),
      // refetch content-drift: closed-form per-fetch change flags (v(f) vs
      // v(f-1), both pure functions of (pid, f)), rolled up to host grain
      withCtes(driftCtes: _*)(
        """SELECT host, n_urls, n_refetches, n_changed,
          |  CAST(CASE WHEN n_refetches = 0 THEN 0
          |       ELSE (n_changed * 1000000) // n_refetches END AS BIGINT) AS drift_ppm,
          |  bucket
          |FROM hdr JOIN bkt USING (host)""".stripMargin)),

    // host-level boilerplate removal: paragraphs on ≥50 % of a host's pages
    // are template chrome, dropped host-wide (one partial-aggregating
    // presence count + a same-key join back — no windows)
    Query("q146_host_boilerplate", (s, dir) =>
      WebCuration.hostBoilerplate(Synth.pages(s, dir)),
      // host boilerplate: paragraph present on ≥50 % of a host's pages (host
      // ≥2 pages) dropped host-wide; banner fixture = 12 'b-<host>' words
      // prepended (occupies exactly one paragraph window)
      withCtes(
        """pgb AS (
          |  SELECT CAST(doc_id AS BIGINT) AS pid,
          |    source || '.example.com' AS host,
          |    repeat('b-' || source || '.example.com' || ' ', 12) || text AS text
          |  FROM documents
          |)""".stripMargin,
        """bpr AS (
          |  SELECT pid, host, CAST((g.i - 1) // 12 AS INT) AS para_id,
          |    string_agg(ws[g.i], ' ' ORDER BY g.i) AS para
          |  FROM (SELECT pid, host, string_split(text, ' ') AS ws FROM pgb)
          |  CROSS JOIN generate_series(1, 160) g(i)
          |  WHERE g.i <= len(ws)
          |  GROUP BY pid, host, CAST((g.i - 1) // 12 AS INT)
          |)""".stripMargin,
        """bph AS (
          |  SELECT pid, host, para_id, para,
          |    CAST('0x' || substring(md5(para), 1, 15) AS BIGINT) AS h
          |  FROM bpr
          |)""".stripMargin,
        "bhp AS (SELECT host, count(*) AS h_pages FROM pgb GROUP BY host)",
        """bfl AS (
          |  SELECT f.host, f.h, 1 AS boiler
          |  FROM (SELECT host, h, count(DISTINCT pid) AS n_with
          |        FROM bph GROUP BY host, h) f
          |  JOIN bhp ON f.host = bhp.host
          |  WHERE f.n_with * 100 >= bhp.h_pages * 50 AND bhp.h_pages >= 2
          |)""".stripMargin)(
        """SELECT p.pid, p.host, CAST(count(*) AS BIGINT) AS n_paras,
          |  CAST(sum(coalesce(b.boiler, 0)) AS BIGINT) AS n_boiler,
          |  CASE WHEN count(*) > sum(coalesce(b.boiler, 0))
          |       THEN string_agg(p.para, ' | ' ORDER BY p.para_id)
          |            FILTER (WHERE b.boiler IS NULL)
          |       ELSE NULL END AS clean_text
          |FROM bph p LEFT JOIN bfl b ON p.host = b.host AND p.h = b.h
          |GROUP BY p.pid, p.host""".stripMargin)),

    // mirror-host detection: host pairs sharing ≥3 byte-identical docs,
    // hash fan-out capped before pairing (the anti-explosion guard)
    Query("q147_mirror_hosts", (s, dir) =>
      WebCuration.mirrorHosts(Synth.pages(s, dir)),
      // mirror hosts: host pairs sharing ≥3 byte-identical docs (hash fan-out
      // capped at 16 hosts before pairing); fixture mirrors every 3rd page
      // onto host m-<host>
      withCtes(mirPgm,
        """mhh AS (
          |  SELECT DISTINCT split_part(url, '/', 3) AS host,
          |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS hb
          |  FROM pgm
          |)""".stripMargin,
        "msz AS (SELECT host, count(*) AS n_docs FROM mhh GROUP BY host)",
        """mel AS (SELECT hb FROM mhh GROUP BY hb
          |  HAVING count(*) >= 2 AND count(*) <= 16)""".stripMargin,
        "meh AS (SELECT mhh.host, mhh.hb FROM mhh JOIN mel ON mhh.hb = mel.hb)",
        """mpr AS (
          |  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
          |  FROM meh a JOIN meh b ON a.hb = b.hb AND a.host < b.host
          |  GROUP BY a.host, b.host
          |  HAVING count(*) >= 3
          |)""".stripMargin)(
        """SELECT p.host_a, p.host_b, CAST(p.n_shared AS BIGINT) AS n_shared,
          |  CAST(p.n_shared * 1000000 // least(sa.n_docs, sb.n_docs) AS BIGINT)
          |    AS overlap_ppm
          |FROM mpr p
          |JOIN msz sa ON p.host_a = sa.host
          |JOIN msz sb ON p.host_b = sb.host""".stripMargin)),

    // HITS hubs & authorities, 2 mutual-reinforcement rounds on the integer
    // ppm grid (max-normalized — every intermediate exact BIGINT)
    Query("q148_hits", (s, dir) =>
      LinkGraph.hits(Synth.corpus(s, dir)),
      // HITS, 2 generated mutual-reinforcement rounds: integer ppm grid,
      // max-normalized (floor division), hubs seeded at 10^6
      withCtes(Seq(corpus, lgNds, lgNtot, lgEdg,
        "h0 AS (SELECT doc_id, 1000000 AS s FROM nds)") ++
        (1 to 2).flatMap(k => hitsHalfRound(s"a$k", s"h${k - 1}", "dst", "src") ++
          hitsHalfRound(s"h$k", s"a$k", "src", "dst")): _*)(
        """SELECT a2.doc_id, CAST(a2.s AS BIGINT) AS auth_ppm,
          |  CAST(h2.s AS BIGINT) AS hub_ppm
          |FROM a2 JOIN h2 ON a2.doc_id = h2.doc_id""".stripMargin)),

    // host-reputation rollup: dup-content share + classifier score at host
    // grain → blocklist verdict (mirror-block / low-quality / keep)
    Query("q149_host_reputation", (s, dir) =>
      WebCuration.hostReputation(Synth.pages(s, dir)),
      // host reputation: dup-content ppm + hashed-classifier score at host
      // grain → mirror-block / low-quality / keep (mirrored fixture)
      withCtes(repCtes: _*)(
        """SELECT host, CAST(n_pages AS BIGINT) AS n_pages,
          |  CAST(n_dup_pages AS BIGINT) AS n_dup_pages,
          |  CAST(dup_ppm AS BIGINT) AS dup_ppm,
          |  CAST(score_ppk AS BIGINT) AS score_ppk, verdict
          |FROM rvd""".stripMargin)),

    // reciprocal-link farm detection: above-average mutual host pairs
    // closed into components over the CONDENSED host graph
    Query("q153_link_farms", (s, dir) =>
      LinkGraph.linkFarms(Synth.pages(s, dir), Synth.corpus(s, dir)),
      // link farms: reciprocal host pairs at/above mean mutual weight,
      // closed into components (recursive reachability, min host label)
      withRecursiveCtes(corpus, lgNds, lgNtot, lgEdg,
        pageHosts,
        """hge AS (
          |  SELECT sh.host AS src_host, dh.host AS dst_host, count(*) AS n_links
          |  FROM edg e
          |  JOIN hst sh ON e.src = sh.pid
          |  JOIN hst dh ON e.dst = dh.pid
          |  WHERE sh.host <> dh.host
          |  GROUP BY sh.host, dh.host
          |)""".stripMargin,
        """rcp AS (
          |  SELECT a.src_host AS host_a, a.dst_host AS host_b,
          |    least(a.n_links, b.n_links) AS mutual
          |  FROM hge a JOIN hge b
          |    ON a.src_host = b.dst_host AND a.dst_host = b.src_host
          |  WHERE a.src_host < a.dst_host
          |)""".stripMargin,
        "rct AS (SELECT sum(mutual) AS s, count(*) AS c FROM rcp)",
        """rst AS (SELECT host_a, host_b FROM rcp CROSS JOIN rct
          |  WHERE mutual * c >= s)""".stripMargin,
        """und AS (
          |  SELECT host_a AS a, host_b AS b FROM rst
          |  UNION ALL
          |  SELECT host_b AS a, host_a AS b FROM rst
          |)""".stripMargin,
        "hns AS (SELECT DISTINCT a AS host FROM und)",
        """reach AS (
          |  SELECT host AS node, host AS r FROM hns
          |  UNION
          |  SELECT u.b AS node, reach.r AS r FROM reach JOIN und u ON u.a = reach.node
          |)""".stripMargin,
        "cmp AS (SELECT node AS host, min(r) AS farm_host FROM reach GROUP BY node)",
        "dg AS (SELECT a AS host, count(*) AS n_partners FROM und GROUP BY a)",
        "fs AS (SELECT farm_host, count(*) AS farm_size FROM cmp GROUP BY farm_host)")(
        """SELECT c.host, c.farm_host,
          |  CAST(f.farm_size AS BIGINT) AS farm_size,
          |  CAST(d.n_partners AS BIGINT) AS n_partners
          |FROM cmp c
          |JOIN fs f ON c.farm_host = f.farm_host
          |JOIN dg d ON c.host = d.host""".stripMargin)),

    // robots-style longest-prefix-match URL filtering: broadcast rule
    // table, map-only match, one max(struct) winner per URL
    Query("q154_robots_filter", (s, dir) =>
      WebCuration.robotsFilter(Synth.pages(s, dir)),
      // robots longest-prefix match: per-host rule table, winner by
      // (len desc, allow desc, prefix desc) ≡ the engine's max(struct)
      withCtes(
        """rpg AS (
          |  SELECT 'https://' || source || '.example.com/doc/'
          |      || CAST(doc_id AS VARCHAR) AS url,
          |    source || '.example.com' AS host,
          |    '/doc/' || CAST(doc_id AS VARCHAR) AS path
          |  FROM documents
          |)""".stripMargin,
        "rhx AS (SELECT DISTINCT source || '.example.com' AS host FROM documents)",
        """rrl AS (
          |  SELECT host, '/doc/' AS prefix, 0 AS allow FROM rhx
          |  UNION ALL
          |  SELECT host, '/doc/1' AS prefix, 1 AS allow FROM rhx
          |  UNION ALL
          |  SELECT host,
          |    '/doc/' || CAST(CAST('0x' || substring(md5(host), 1, 15) AS BIGINT) % 10 AS VARCHAR) AS prefix,
          |    0 AS allow
          |  FROM rhx
          |)""".stripMargin,
        """rmt AS (
          |  SELECT p.url, p.host, r.prefix, r.allow
          |  FROM rpg p JOIN rrl r
          |    ON p.host = r.host AND starts_with(p.path, r.prefix)
          |)""".stripMargin,
        """rwn AS (
          |  SELECT url, host, prefix, allow, length(prefix) AS len,
          |    row_number() OVER (PARTITION BY url
          |      ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
          |  FROM rmt
          |)""".stripMargin)(
        """SELECT url, host, CAST(len AS INT) AS rule_len,
          |  CAST(allow AS INT) AS allowed, prefix AS rule_prefix
          |FROM rwn WHERE rn = 1""".stripMargin)),

    // crawl-budget allocation: reputation verdict gates, drift bucket
    // scales — two host-grain chains composed end-to-end
    Query("q155_crawl_budget", (s, dir) =>
      WebCuration.crawlBudget(Synth.pages(s, dir)),
      // crawl budget: reputation chain ∘ drift chain, verdict-gated
      // drift-scaled fetch budget
      withCtes((repCtes ++ driftCtes): _*)(
        """SELECT v.host, CAST(v.n_pages AS BIGINT) AS n_pages, v.verdict,
          |  coalesce(b.bucket, 'static') AS bucket,
          |  CAST(v.n_pages * (CASE WHEN v.verdict <> 'keep' THEN 0
          |       WHEN coalesce(b.bucket, 'static') = 'volatile' THEN 4
          |       WHEN coalesce(b.bucket, 'static') = 'drifting' THEN 2
          |       ELSE 1 END) AS BIGINT) AS budget_fetches
          |FROM rvd v LEFT JOIN bkt b ON v.host = b.host""".stripMargin)))
}
