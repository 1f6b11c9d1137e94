package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries of the graphs family: link-graph ranking, components and
 * the crawl frontier. */
object GraphQueries {

  /** One url per document on host `<source>.example.com`, its priority
   * the document's n_chars. */
  private def sourceFrontier(d: DataFrame): DataFrame = d.select(
    concat(lit("https://"), col("source"), lit(".example.com/d/"),
      col("doc_id").cast("string")).as("url"),
    col("n_chars").cast("double").as("pri"))

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_pagerank", (s, dir) =>
      // fixed-point PageRank over a deterministic synthetic link graph on
      // the documents table (3 pseudo-links per doc); integer arithmetic
      // end-to-end so the unrolled-iteration DuckDB oracle matches exactly
      docRanks(s, dir).orderBy(col("rank_fp").desc, col("id").asc).limit(100),
      Sql(s"""$DocRanksSql
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin)),
    DriverQuery("q_hits", (s, dir) =>
      // Kleinberg hubs/authorities over the same synthetic graph, 2
      // iterations of the exact-integer recursion with the
      // (max div scale)+1 normalizer — oracle unrolls both half-steps
      graft.pipeline.Graphs.hitsFixed(docEdges(s, dir), col("src"), col("dst"),
          iterations = 2)
        .orderBy(col("auth_fp").desc, col("id").asc).limit(100),
      // three unrolled fixed-point iterations — every step integer arithmetic
      // (// is DuckDB integer division, div on the Spark side), so the hash
      // matches bit-for-bit; sums cast back to BIGINT (DuckDB sums to HUGEINT)
      Sql(s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |$DocEdgesSql
        |),
        |node AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS sc FROM node),
        |a1r AS (SELECT e.dst AS id, CAST(sum(h0.sc) AS BIGINT) AS r
        |        FROM e JOIN h0 ON h0.id = e.src GROUP BY 1),
        |a1 AS (SELECT node.id, COALESCE(a1r.r, 0)
        |         // ((SELECT max(r) FROM a1r) // 1000000000 + 1) AS sc
        |       FROM node LEFT JOIN a1r USING (id)),
        |h1r AS (SELECT e.src AS id, CAST(sum(a1.sc) AS BIGINT) AS r
        |        FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
        |h1 AS (SELECT node.id, COALESCE(h1r.r, 0)
        |         // ((SELECT max(r) FROM h1r) // 1000000000 + 1) AS sc
        |       FROM node LEFT JOIN h1r USING (id)),
        |a2r AS (SELECT e.dst AS id, CAST(sum(h1.sc) AS BIGINT) AS r
        |        FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
        |a2 AS (SELECT node.id, COALESCE(a2r.r, 0)
        |         // ((SELECT max(r) FROM a2r) // 1000000000 + 1) AS sc
        |       FROM node LEFT JOIN a2r USING (id)),
        |h2r AS (SELECT e.src AS id, CAST(sum(a2.sc) AS BIGINT) AS r
        |        FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1),
        |h2 AS (SELECT node.id, COALESCE(h2r.r, 0)
        |         // ((SELECT max(r) FROM h2r) // 1000000000 + 1) AS sc
        |       FROM node LEFT JOIN h2r USING (id))
        |SELECT node.id, h2.sc AS hub_fp, a2.sc AS auth_fp
        |FROM node JOIN h2 USING (id) JOIN a2 USING (id)
        |ORDER BY auth_fp DESC, id LIMIT 100""".stripMargin)),
    DriverQuery("q_host_rank", (s, dir) => {
      // the raw-crawl path into the rank prior: each doc becomes a page on
      // host h(doc_id%16) whose body links two deterministic neighbor
      // hosts — plus script/comment decoy links, a no-href anchor and a
      // relative link the REAL parser must skip. hostEdges runs the actual
      // link extraction + host parsing; the oracle reconstructs the same
      // edges arithmetically, so any parser bug shifts every rank.
      val id = col("doc_id")
      val host = hostOf(id)
      val d1 = hostOf(id * 7 + 1)
      val d2 = hostOf(id * 13 + 5)
      val html = concat(
        lit("<html><head><script>var x = \"<a href=\\\"https://decoy.invalid/\\\">\";" +
          "</script></head><body><p>intro <a class=\"x\" href=\"https://"),
        d1, lit("/p/"), id.cast("string"),
        lit("\">one</a> and <a href='https://"), d2,
        lit("/q'>two</a> <a name=\"anchor\">no link</a> <a href=\"/rel/path\">rel</a></p>" +
          "<!-- <a href=\"https://comment.invalid/\">c</a> --></body></html>"))
      val pages = docs(s, dir).select(
        concat(lit("https://"), host, lit("/page/"), id.cast("string")).as("url"),
        html.as("html"))
      val edges = graft.pipeline.Graphs.hostEdges(pages, col("url"), col("html"))
      graft.pipeline.Graphs.pageRankFixed(edges, col("src"), col("dst"))
        .orderBy(col("rank_fp").desc, col("id").asc)
    },
      // the expected host edges reconstructed arithmetically (the Spark side
      // gets them by REALLY parsing synthesized pages), then the same three
      // unrolled fixed-point iterations as q_pagerank, keyed by host string
      Sql(s"""WITH e AS (
        |  SELECT src, dst FROM (
        |    SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com') AS src,
        |           concat('h', CAST((doc_id * 7 + 1) % 16 AS VARCHAR), '.example.com') AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com'),
        |           concat('h', CAST((doc_id * 13 + 5) % 16 AS VARCHAR), '.example.com')
        |    FROM documents
        |  ) WHERE src <> dst
        |),
        |$EndpointRankInitSql
        |$PageRankRoundsSql
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id""".stripMargin)),
    DriverQuery("q_pagerank_lineitem", (s, dir) => {
      // a real-shaped graph at bench volume: the order→part bipartite
      // graph from lineitem (~600k edges at sf0.1; every part node dangles
      // by design — the rank loop at its intended data size, not a toy)
      val e = lineitem(s, dir).select(col("l_orderkey").as("src"),
        (col("l_partkey") + lit(10000000L)).as("dst"))
      graft.pipeline.Graphs.pageRankFixed(e, col("src"), col("dst"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    },
      // the order→part bipartite graph: same unrolled fixed-point recipe,
      // node universe from the edge endpoints (the operator's default)
      Sql(s"""WITH e AS (SELECT l_orderkey AS src, l_partkey + 10000000 AS dst FROM lineitem),
        |$EndpointRankInitSql
        |$PageRankRoundsSql
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin)),
    DriverQuery("q_crawl_schedule_robots", (s, dir) => {
      // the crawl stack composed: per-host robots bodies are REALLY parsed
      // for graftbot's crawl-delay (even-length hosts declare it in a
      // graftbot group that must beat the * group; odd-length hosts only
      // in *), the delays feed the politeness scheduler; the oracle
      // recomputes the delays arithmetically from the host-name length
      val d = docs(s, dir)
      val hosts = d.select(concat(col("source"), lit(".example.com")).as("host"))
        .distinct()
      val hlen = length(col("host"))
      val body = when(hlen % 2 === 0,
          concat(lit("User-agent: graftbot\nCrawl-delay: "),
            (hlen % 3 + 1).cast("string"),
            lit("\nUser-agent: *\nCrawl-delay: 9")))
        .otherwise(concat(lit("User-agent: *\nCrawl-delay: "),
          (hlen % 3 + 2).cast("string")))
      val delays = graft.pipeline.Robots.crawlDelaysDf(
        hosts.select(col("host"), body.as("txt")), col("host"), col("txt"),
        agent = "graftbot")
      val frontier = sourceFrontier(d)
      graft.pipeline.Frontier.crawlSchedule(frontier, col("url"), col("pri"),
        delays, col("host"), col("delay_ms"),
        defaultDelayMs = 1000L, horizonMs = 8000L)
    },
      // expected fetchability computed arithmetically: even hosts → the
      // graftbot group's /g rule is the ONLY one that applies (blocked iff
      // the /g path variant); odd hosts → the * group, where /p is blocked
      // except the longer /p…/open allow
      // delays recomputed arithmetically (even host length: graftbot group
      // (len%3+1) s beats the * group's 9 s; odd: * group (len%3+2) s),
      // then the same partitioned row_number + slot arithmetic
      Sql(s"""WITH u AS (
        |  SELECT 'https://' || source || '.example.com/d/' || doc_id AS url,
        |         source || '.example.com' AS host,
        |         CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents
        |), d AS (
        |  SELECT DISTINCT source || '.example.com' AS host,
        |    CASE WHEN length(source || '.example.com') % 2 = 0
        |         THEN (length(source || '.example.com') % 3 + 1) * 1000
        |         ELSE (length(source || '.example.com') % 3 + 2) * 1000 END AS delay_ms
        |  FROM documents
        |$CrawlSlotsSql
        |       (rk - 1) * delay_ms < 8000 AS scheduled
        |FROM r""".stripMargin)),
    DriverQuery("q_crawl_schedule", (s, dir) => {
      // politeness scheduler: per-source hosts, priority = n_chars, delay
      // config keyed off the host name length — the oracle replays the
      // partitioned row_number and the slot arithmetic
      val d = docs(s, dir)
      val frontier = sourceFrontier(d)
      val delays = d.select(concat(col("source"), lit(".example.com")).as("host"))
        .distinct()
        .withColumn("delay_ms", (length(col("host")) % 3 + 1).cast("long") * 500L)
      graft.pipeline.Frontier.crawlSchedule(frontier, col("url"), col("pri"),
        delays, col("host"), col("delay_ms"),
        defaultDelayMs = 1000L, horizonMs = 5000L)
    },
      // partitioned row_number + slot arithmetic replayed verbatim
      Sql(s"""WITH u AS (
        |  SELECT 'https://' || source || '.example.com/d/' || doc_id AS url,
        |         source || '.example.com' AS host,
        |         CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents
        |), d AS (
        |  SELECT DISTINCT source || '.example.com' AS host,
        |         (length(source || '.example.com') % 3 + 1) * 500 AS delay_ms
        |  FROM documents
        |$CrawlSlotsSql
        |       (rk - 1) * delay_ms < 5000 AS scheduled
        |FROM r""".stripMargin)),
    DriverQuery("q_robots", (s, dir) => {
      // REP end-to-end: per-host robots bodies are REALLY parsed and
      // evaluated for agent graftbot (even hosts carry a graftbot group
      // that overrides the * catch-all; odd hosts exercise longest-match
      // + allow-wins-tie); the oracle computes expected fetchability
      // arithmetically, so parser or precedence bugs flip the booleans
      val id = col("doc_id")
      // host index decoupled from the path variant (id div 4, not id % 10,
      // whose parity would track id % 4) so every variant hits both host
      // parities and both oracle branches are really exercised
      val k = (expr("doc_id div 4") % 10).cast("string")
      val hosts = docs(s, dir).select((expr("doc_id div 4") % 10).as("hk")).distinct()
      val hk = col("hk").cast("string")
      val robotsTxt = when(col("hk") % 2 === 0,
          concat(lit("User-agent: *\nDisallow: /p"), hk,
            lit("\nAllow: /p"), hk, lit("/open\nUser-agent: graftbot\nDisallow: /g"), hk))
        .otherwise(concat(lit("User-agent: *\nDisallow: /p"), hk,
          lit("\nAllow: /p"), hk, lit("/open")))
      val rules = graft.pipeline.Robots.parseDf(
        hosts.select(concat(lit("h"), hk).as("host"), robotsTxt.as("txt")),
        col("host"), col("txt"))
      val path = when(id % 4 === 0, concat(lit("/p"), k, lit("/x"), id.cast("string")))
        .when(id % 4 === 1, concat(lit("/p"), k, lit("/open/y")))
        .when(id % 4 === 2, concat(lit("/g"), k, lit("/z")))
        .otherwise(concat(lit("/ok"), id.cast("string")))
      val urls = docs(s, dir).select(concat(lit("https://h"), k, path).as("url"))
      graft.pipeline.Robots.isAllowed(rules, urls, col("url"), "GraftBot")
    },
      Sql("""SELECT DISTINCT
        |  concat('https://h', CAST((doc_id // 4) % 10 AS VARCHAR),
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN concat('/p', CAST((doc_id // 4) % 10 AS VARCHAR), '/x', CAST(doc_id AS VARCHAR))
        |      WHEN doc_id % 4 = 1 THEN concat('/p', CAST((doc_id // 4) % 10 AS VARCHAR), '/open/y')
        |      WHEN doc_id % 4 = 2 THEN concat('/g', CAST((doc_id // 4) % 10 AS VARCHAR), '/z')
        |      ELSE concat('/ok', CAST(doc_id AS VARCHAR))
        |    END) AS url,
        |  CASE WHEN ((doc_id // 4) % 10) % 2 = 0 THEN NOT (doc_id % 4 = 2)
        |       ELSE NOT (doc_id % 4 = 0) END AS allowed
        |FROM documents""".stripMargin)),
    DriverQuery("q_robots_sitemaps", (s, dir) => {
      // robots.txt Sitemap: directive discovery, REALLY parsed: mixed
      // field case, space-before-colon, trailing comment, a duplicate
      // line that must collapse, an extra directive on even hosts only;
      // the oracle reconstructs the expected (host, url) rows directly
      val hosts = docs(s, dir).select((expr("doc_id div 4") % 10).as("hk")).distinct()
      val hk = col("hk").cast("string")
      val txt = concat(
        lit("User-agent: *\nDisallow: /x\nSitemap: https://h"), hk,
        lit("/sitemap.xml # primary\n sitemap :\thttps://h"), hk,
        lit("/news-"), hk,
        lit(".xml\nSitemap: https://h"), hk, lit("/sitemap.xml\n"),
        when(col("hk") % 2 === 0,
          concat(lit("SITEMAP: https://cdn"), hk, lit(".example/idx.xml\n")))
          .otherwise(lit("")))
      graft.pipeline.Robots.sitemapsDf(
        hosts.select(concat(lit("h"), hk).as("host"), txt.as("txt")),
        col("host"), col("txt"))
    },
      Sql("""WITH hk AS (SELECT DISTINCT (doc_id // 4) % 10 AS k FROM documents)
        |SELECT concat('h', CAST(k AS VARCHAR)) AS host,
        |       concat('https://h', CAST(k AS VARCHAR), '/sitemap.xml') AS sitemap_url
        |FROM hk
        |UNION ALL
        |SELECT concat('h', CAST(k AS VARCHAR)),
        |       concat('https://h', CAST(k AS VARCHAR), '/news-', CAST(k AS VARCHAR), '.xml')
        |FROM hk
        |UNION ALL
        |SELECT concat('h', CAST(k AS VARCHAR)),
        |       concat('https://cdn', CAST(k AS VARCHAR), '.example/idx.xml')
        |FROM hk WHERE k % 2 = 0""".stripMargin)),
    DriverQuery("q_host_profile", (s, dir) => {
      // the full host quality table over REALLY-PARSED synthetic pages
      // (same construction as q_host_rank, decoys included): rank +
      // reciprocation + degrees in one frame; oracle assembles the same
      // columns from the arithmetic edge reconstruction
      val id = col("doc_id")
      val host = hostOf(id)
      val d1 = hostOf(id * 7 + 1)
      val d2 = hostOf(id * 13 + 5)
      val html = concat(
        lit("<html><head><script>var x = \"<a href=\\\"https://decoy.invalid/\\\">\";" +
          "</script></head><body><p><a href=\"https://"), d1,
        lit("/p\">one</a> <a href='https://"), d2,
        lit("/q'>two</a> <a href=\"/rel\">rel</a></p></body></html>"))
      val pages = docs(s, dir).select(
        concat(lit("https://"), host, lit("/page/"), id.cast("string")).as("url"),
        html.as("html"))
      graft.pipeline.Graphs.hostProfile(pages, col("url"), col("html"))
    },
      // rank CTEs as in q_host_rank, plus the reciprocal/degree columns the
      // profile joins — all from the same arithmetic edge reconstruction
      Sql(s"""WITH e0 AS (
        |$HostEdgesSql
        |),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |$EndpointRankInitSql
        |$PageRankRoundsSql,
        |ed AS (SELECT DISTINCT src, dst FROM e),
        |recip AS (SELECT a.src, count(*) AS reciprocal
        |          FROM ed a JOIN ed b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
        |o AS (SELECT src, count(*) AS out_hosts FROM ed GROUP BY 1),
        |il AS (SELECT dst, count(*) AS in_links FROM e GROUP BY 1)
        |SELECT r3.id AS host, r3.rank_fp,
        |       COALESCE(o.out_hosts, 0) AS out_hosts,
        |       COALESCE(recip.reciprocal, 0) AS reciprocal,
        |       COALESCE(COALESCE(recip.reciprocal, 0) * 1000000 // o.out_hosts, 0) AS ratio_ppm,
        |       COALESCE(il.in_links, 0) AS in_links
        |FROM r3 LEFT JOIN o ON r3.id = o.src
        |        LEFT JOIN recip ON r3.id = recip.src
        |        LEFT JOIN il ON r3.id = il.dst""".stripMargin)),
    DriverQuery("q_connected_components", (s, dir) => {
      // chain graph in groups of 10 (doc 0–9, 10–19, …): the operator must
      // really propagate min labels ~9 iterations; the oracle knows each
      // component is its decade's first id
      val d = docs(s, dir).select(col("doc_id"))
      val edges = d.where(col("doc_id") % 10 < 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      graft.pipeline.Graphs.connectedComponents(
        edges, col("src"), col("dst"), nodes = d, nodeIdCol = col("doc_id"))
    },
      Sql("SELECT doc_id AS id, doc_id - doc_id % 10 AS component FROM documents")),
    DriverQuery("q_sitemap", (s, dir) => {
      // urlset extraction through the real regex chain (entity-escaped
      // query loc, whitespace-padded loc without lastmod, loc-less entry
      // dropped); oracle reconstructs the expected rows directly
      val id = col("doc_id")
      val xml = concat(
        lit("<urlset><url><loc>https://s"), (id % 9).cast("string"),
        lit(".com/page?a=1&amp;b="), id.cast("string"),
        lit("</loc><lastmod>2024-0"), ((id % 9) + 1).cast("string"),
        lit("-01</lastmod></url><url><loc> https://s"), (id % 9).cast("string"),
        lit(".com/plain/"), id.cast("string"),
        lit(" </loc></url><url><priority>0.2</priority></url></urlset>"))
      docs(s, dir).select(id.as("doc_id"),
          explode(graft.pipeline.Sitemaps.entries(xml)).as("e"))
        .select(col("doc_id"), col("e.loc").as("loc"), col("e.lastmod").as("lastmod"))
    },
      Sql("""SELECT doc_id,
        |       concat('https://s', CAST(doc_id % 9 AS VARCHAR), '.com/page?a=1&b=',
        |              CAST(doc_id AS VARCHAR)) AS loc,
        |       concat('2024-0', CAST(doc_id % 9 + 1 AS VARCHAR), '-01') AS lastmod
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |       concat('https://s', CAST(doc_id % 9 AS VARCHAR), '.com/plain/',
        |              CAST(doc_id AS VARCHAR)),
        |       ''
        |FROM documents""".stripMargin)),
    DriverQuery("q_link_spam", (s, dir) => {
      // reciprocal-link (link-exchange) ratio over the synthetic host
      // graph; exact ppm ratios hash-match the SQL mirror
      val e = hostEdges(s, dir)
      graft.pipeline.Graphs.reciprocalLinkRatio(e, col("src"), col("dst"))
    },
      Sql(s"""WITH e0 AS (
        |$HostEdgesSql
        |),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |recip AS (SELECT a.src, count(*) AS reciprocal
        |          FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
        |o AS (SELECT src, count(*) AS out_hosts FROM e GROUP BY 1)
        |SELECT o.src AS host, o.out_hosts,
        |       COALESCE(r.reciprocal, 0) AS reciprocal,
        |       COALESCE(r.reciprocal, 0) * 1000000 // o.out_hosts AS ratio_ppm
        |FROM o LEFT JOIN recip r ON o.src = r.src""".stripMargin)),
    DriverQuery("q_cocitation", (s, dir) => {
      // related-hosts by co-citation over the same host graph
      val e = hostEdges(s, dir)
      graft.pipeline.Graphs.coCitations(e, col("src"), col("dst"),
        maxOutDeg = 100, minCount = 2L)
    },
      Sql(s"""WITH e0 AS (
        |$HostEdgesSql
        |),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |kept AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 100),
        |k AS (SELECT e.src, e.dst FROM e JOIN kept ON e.src = kept.src)
        |SELECT a.dst AS host_a, b.dst AS host_b, count(*) AS cocites
        |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),
    DriverQuery("q_trustrank", (s, dir) => {
      // seed-biased teleport over the same synthetic graph: every 10th doc
      // is a trusted seed; spam regions no seed path reaches score zero
      val d = docs(s, dir).select(col("doc_id"))
      graft.pipeline.Graphs.trustRankFixed(
          docEdges(s, dir), col("src"), col("dst"),
          seeds = d.where(col("doc_id") % 10 === 0), seedIdCol = col("doc_id"),
          nodes = d, nodeIdCol = col("doc_id"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    },
      // same unrolled iterations as q_pagerank, but init mass and teleport
      // are CASE-gated to the seed set (doc_id % 10 = 0)
      Sql(s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |ns AS (SELECT count(*) AS scnt FROM documents WHERE doc_id % 10 = 0),
        |e AS (
        |$DocEdgesSql
        |),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |node AS (SELECT doc_id AS id, (doc_id % 10 = 0) AS sd FROM documents),
        |init AS (SELECT 1000000000000 // scnt AS v, (15 * (1000000000000 // scnt)) // 100 AS base FROM ns),
        |r0 AS (SELECT id, sd, CASE WHEN sd THEN (SELECT v FROM init) ELSE 0 END AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, node.sd,
        |              CASE WHEN node.sd THEN (SELECT base FROM init) ELSE 0 END
        |              + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, node.sd,
        |              CASE WHEN node.sd THEN (SELECT base FROM init) ELSE 0 END
        |              + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id,
        |              CASE WHEN node.sd THEN (SELECT base FROM init) ELSE 0 END
        |              + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id)
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin)),
    DriverQuery("q_pagerank_weighted", (s, dir) => {
      // edge-weighted rank over the doc graph, weights (src·7+dst)%5+1 —
      // DuckDB unrolls the 3 iterations with the same overflow-safe
      // ⌊r·w/W⌋ = (r//W)·w + ((r%W)·w)//W integer arithmetic
      val e = docEdges(s, dir)
        .withColumn("w", (col("src") * 7 + col("dst")) % 5 + 1)
      graft.pipeline.Graphs.pageRankWeighted(
          e, col("src"), col("dst"), col("w"),
          nodes = docs(s, dir).select(col("doc_id")), nodeIdCol = col("doc_id"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    },
      Sql("""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |  SELECT src, dst, (src * 7 + dst) % 5 + 1 AS w FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM e GROUP BY 1),
        |node AS (SELECT doc_id AS id FROM documents),
        |init AS (SELECT 1000000000000 // cnt AS v,
        |                (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |r0 AS (SELECT id, (SELECT v FROM init) AS r FROM node),
        |c1 AS (SELECT e.dst AS id,
        |              CAST(sum((r0.r // s.ws) * e.w + ((r0.r % s.ws) * e.w) // s.ws) AS BIGINT) AS c
        |       FROM e JOIN wsum s ON e.src = s.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.c, 0)) // 100 AS r
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id,
        |              CAST(sum((r1.r // s.ws) * e.w + ((r1.r % s.ws) * e.w) // s.ws) AS BIGINT) AS c
        |       FROM e JOIN wsum s ON e.src = s.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.c, 0)) // 100 AS r
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id,
        |              CAST(sum((r2.r // s.ws) * e.w + ((r2.r % s.ws) * e.w) // s.ws) AS BIGINT) AS c
        |       FROM e JOIN wsum s ON e.src = s.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id,
        |              CAST((SELECT base FROM init) + (85 * COALESCE(c3.c, 0)) // 100 AS BIGINT) AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id)
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin)),
    DriverQuery("q_kcore", (s, dir) => {
      // rows-only (unbounded peel iterations are not SQL-expressible;
      // GraphsSpec pins exact membership on known graphs): a K12 clique
      // planted on the sparse doc graph — the 9-core peel cascades the
      // random fringe away and the clique neighborhood survives
      val d = docs(s, dir).select(col("doc_id"))
      val small = d.where(col("doc_id") < 12)
      val clique = small.select(col("doc_id").as("src"))
        .crossJoin(small.select(col("doc_id").as("dst")))
        .where(col("src") < col("dst"))
      graft.pipeline.Graphs.kCore(
        docEdges(s, dir).unionAll(clique), col("src"), col("dst"), k = 9)
    },
      RowsOnly("unbounded peel iterations are not SQL-expressible", "graft.pipeline.GraphsSpec")),
    DriverQuery("q_clustering", (s, dir) => {
      // local clustering coefficients over the ringed doc graph — exact
      // integer ppm against C(degree, 2)
      graft.pipeline.Graphs.clusteringCoefficients(
        ringedDocEdges(s, dir), col("src"), col("dst"))
    },
      Sql(s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |$UndirectedRingGraphSql
        |deg AS (
        |  SELECT id, count(*) AS degree
        |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1
        |),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |),
        |tc AS (
        |  SELECT id, count(*) AS triangles
        |  FROM (SELECT unnest([u, v, w]) AS id FROM tri) GROUP BY 1
        |)
        |SELECT deg.id, deg.degree, coalesce(tc.triangles, 0) AS triangles,
        |       coalesce(CAST(coalesce(tc.triangles, 0) * 2000000
        |                     // nullif(deg.degree * (deg.degree - 1), 0) AS BIGINT), 0)
        |         AS coeff_ppm
        |FROM deg LEFT JOIN tc ON deg.id = tc.id""".stripMargin)),
    DriverQuery("q_triangles", (s, dir) => {
      // exact per-node triangle counts: the doc graph plus ring edges
      // (i, i+1) and (i, i+2) so every consecutive triple closes a
      // triangle; the oracle runs the canonical u<v<w three-way join
      graft.pipeline.Graphs.triangleCounts(
        ringedDocEdges(s, dir), col("src"), col("dst"))
    },
      Sql(s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |$UndirectedRingGraphSql
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT id, count(*) AS triangles
        |FROM (SELECT unnest([u, v, w]) AS id FROM tri)
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_seed_distance", (s, dir) => {
      // BFS layers from the trusted core: exact min hop counts over the
      // synthetic doc graph, capped at 6 — DuckDB replays with a
      // recursive CTE
      val d = docs(s, dir).select(col("doc_id"))
      graft.pipeline.Graphs.seedDistances(
        docEdges(s, dir), col("src"), col("dst"),
        seeds = d.where(col("doc_id") % 100 === 0), seedIdCol = col("doc_id"),
        maxHops = 6)
    },
      Sql(s"""WITH RECURSIVE nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |$DocEdgesSql
        |),
        |bfs AS (
        |  SELECT doc_id AS id, 0 AS dist FROM documents WHERE doc_id % 100 = 0
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.dist < 6
        |)
        |SELECT id, CAST(min(dist) AS INT) AS dist FROM bfs GROUP BY 1""".stripMargin)),
    DriverQuery("q_anchor_text", (s, dir) => {
      // anchor-term profile per target host: the REAL parser captures the
      // visible anchor text (entity decode, nested inline tags, collapse)
      // from synthesized pages; the oracle reconstructs the expected terms
      // arithmetically, so capture bugs shift the counts
      val id = col("doc_id")
      val d1 = concat(lit("h"), ((id * 7 + 1) % 16).cast("string"), lit(".example.com"))
      val d2 = concat(lit("h"), ((id * 13 + 5) % 16).cast("string"), lit(".example.com"))
      val html = concat(
        lit("<div><a href=\"https://"), d1, lit("/\">Data &amp; tools vol "),
        (id % 5).cast("string"),
        lit("</a><p><a href='https://"), d2,
        lit("/x'>fast <b>search</b></a> trailing text</p></div>"))
      graft.pipeline.Graphs.anchorTerms(
        docs(s, dir).select(html.as("html")), col("html"))
    },
      // the anchor texts the parser should capture, reconstructed directly:
      // entity already decoded ('&'), inline <b> gone, lowercased terms
      Sql("""WITH a AS (
        |  SELECT concat('h', CAST((doc_id * 7 + 1) % 16 AS VARCHAR), '.example.com') AS host,
        |         concat('data & tools vol ', CAST(doc_id % 5 AS VARCHAR)) AS txt
        |  FROM documents
        |  UNION ALL
        |  SELECT concat('h', CAST((doc_id * 13 + 5) % 16 AS VARCHAR), '.example.com'),
        |         'fast search'
        |  FROM documents
        |), t AS (
        |  SELECT host, unnest(string_split(txt, ' ')) AS term FROM a
        |)
        |SELECT host, term, count(*) AS cnt FROM t GROUP BY 1, 2""".stripMargin)))
}
