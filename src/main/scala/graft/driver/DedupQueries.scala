package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._

/** Driver queries of the dedup family: exact, near-duplicate and span dedup,
 * clustering, and decontamination. */
object DedupQueries {
  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_cdc_dedup", (s, dir) => {
      // storage-level dedup: every 10th doc gets a prefix-shifted twin;
      // content-defined boundaries resynchronize after the insertion so
      // the pair shares most chunks (fixed blocks would share none) —
      // rows-only (gear rolling hash is not SQL-expressible; CdcSpec pins
      // tiling, clamps, resync and determinism)
      val d = docs(s, dir)
      val corpus = d.select(col("doc_id"), col("text").cast("binary").as("data"))
        .unionAll(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("PREFIX-SHIFT-"), col("text")).cast("binary").as("data")))
      graft.pipeline.Cdc.sharedPairs(corpus, col("doc_id"), col("data"),
        minShared = 2, minSize = 16, avgBits = 6, maxSize = 256)
    },
      RowsOnly("the gear rolling hash is not SQL-expressible", "graft.pipeline.CdcSpec")),
    DriverQuery("q_dedup_preferring", (s, dir) => {
      // rank-aware canonical selection: originals carry priority 1,
      // mutated copies 0 — each near-dup cluster keeps its original even
      // though the copy has the higher id
      val c = nearDupCorpus(s, dir)
        .withColumn("graft_prio",
          when(col("doc_id") < 10000, lit(1L)).otherwise(lit(0L)))
      graft.pipeline.Dedup.dropNearDupsPreferring(
          c, col("doc_id"), col("text"), col("graft_prio"))
        .select(col("doc_id"))
    },
      Sql(PreferringSql)),
    DriverQuery("q_dedup_keep_largest_cc", (s, dir) => {
      // CLUSTER-TRUE keep-most-complete near-dedup: each
      // connected near-dup family elects its single largest member by
      // token count (ties → lowest id), unlike the pairwise
      // dropNearDupsKeepLargest whose survivors depend on which pairs LSH
      // verifies. The oracle forms families via recursive min-label
      // closure over TRUE all-pairs jaccard and elects max-tok per family.
      val c = nearDupCorpus(s, dir)
      graft.pipeline.Dedup.dropNearDupsKeepLargestCC(
          c, col("doc_id"), col("text"),
          graft.pipeline.Text.tokenCount(col("text")))
        .select(col("doc_id"))
    },
      Sql(KeepLargestCcSql)),
    DriverQuery("q_dedup_eval", (s, dir) => {
      // score the simhash detector against exact trigram-jaccard truth:
      // tp/fp/fn + exact-ppm precision/recall/F1 in one report row. Truth
      // comes from the inverted shingle join (no sketch), predictions
      // from the banded simhash operator — the oracle replays BOTH.
      val c = nearDupCorpus(s, dir)
      val pred = graft.pipeline.Dedup.simhashNearDups(
          c, col("doc_id"), col("text"), shingleSize = 3, maxHamming = 8)
        .select(col("id_a"), col("id_b"))
      val sh = c.select(col("doc_id").as("id"),
          graft.pipeline.Text.shingles(col("text"), 3).as("graft_shs"))
        .select(col("id"), size(col("graft_shs")).as("graft_n"),
          explode(col("graft_shs")).as("graft_g"))
        .select(col("id"), col("graft_n"), xxhash64(col("graft_g")).as("graft_h"))
      val truth = sh.as("a")
        .join(sh.as("b"), col("a.graft_h") === col("b.graft_h") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.graft_n").as("graft_na"), col("b.graft_n").as("graft_nb"))
        .agg(count(lit(1)).as("graft_sh"))
        .where(col("graft_sh").cast("double") /
          (col("graft_na") + col("graft_nb") - col("graft_sh")).cast("double") >= 0.7)
        .select(col("id_a"), col("id_b"))
      graft.pipeline.Dedup.evalPairs(
        pred, col("id_a"), col("id_b"), truth, col("id_a"), col("id_b"))
    },
      Sql(DedupEvalSql)),
    DriverQuery("q_dedup_canonical", (s, dir) => {
      // canonical-family collapse over the q_html_canonical page set: 500
      // variants → the lowest doc_id of each of 100 article families
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><link rel=\"canonical\" href=\"https://a.com/article/"),
        expr("doc_id div 5").cast("string"),
        lit("\"></head><body><p>variant "), id.cast("string"),
        lit("</p></body></html>"))
      val pages = docs(s, dir).select(id.as("doc_id"),
        concat(lit("https://a.com/v/"), id.cast("string")).as("url"), html.as("html"))
      graft.pipeline.Dedup.dropCanonicalDups(
          pages, col("doc_id"), col("url"), col("html"))
        .select(col("doc_id"))
    },
      Sql("SELECT min(doc_id) AS doc_id FROM documents GROUP BY doc_id // 5")),
    DriverQuery("q_dedup_confusables", (s, dir) => {
      // homoglyph-spoofed copies (Latin→Cyrillic swap on 5 common letters
      // for every 9th doc, id + 20000) must collapse onto their originals
      // under confusable-skeleton dedup; survivors = min id per skeleton
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.where(col("doc_id") % 9 === 0).select(
        (col("doc_id") + 20000).as("doc_id"),
        translate(col("text"), "aeopc", "аеорс").as("text")))
      corpus
        .select(col("doc_id"),
          graft.pipeline.Text.confusableSkeleton(col("text")).as("graft_sk"))
        .groupBy(col("graft_sk")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
    },
      Sql(("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, translate(text, 'aeopc', 'аеорс')
        |  FROM documents WHERE doc_id % 9 = 0
        |), sk AS (
        |  SELECT doc_id,
        |         translate(regexp_replace(lower(text),
        |           '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}]', '', 'g'),
        |           '""" + graft.pipeline.Text.ConfusablesFrom + """',
        |           '""" + graft.pipeline.Text.ConfusablesTo + """') AS s
        |  FROM corpus
        |)
        |SELECT min(doc_id) AS doc_id FROM sk GROUP BY s""").stripMargin)),
    DriverQuery("q_mirror_hosts", (s, dir) => {
      // site-level mirror detection: hosts 0-9 get a full mirror (same
      // text set → Jaccard 1, every LSH band collides), hosts 10-19 a
      // one-third partial mirror that must stay below the 0.8 gate; the
      // oracle computes TRUE host-pair Jaccard over distinct text sets
      val d = docs(s, dir)
      val hostOf = (p: String) => concat(lit(p), (col("doc_id") % 40).cast("string"))
      val corpus = d.select(hostOf("h").as("host"), col("text"))
        .unionAll(d.where(col("doc_id") % 40 < 10)
          .select(hostOf("m").as("host"), col("text")))
        .unionAll(d.where(col("doc_id") % 40 >= 10 && col("doc_id") % 40 < 20 &&
            col("doc_id") % 3 === 0)
          .select(hostOf("p").as("host"), col("text")))
      graft.pipeline.Dedup.hostMirrors(corpus, col("host"), col("text"),
        threshold = 0.8)
    },
      Sql("""WITH corpus AS (
        |  SELECT 'h' || (doc_id % 40) AS host, text FROM documents
        |  UNION ALL
        |  SELECT 'm' || (doc_id % 40), text FROM documents WHERE doc_id % 40 < 10
        |  UNION ALL
        |  SELECT 'p' || (doc_id % 40), text FROM documents
        |  WHERE doc_id % 40 >= 10 AND doc_id % 40 < 20 AND doc_id % 3 = 0
        |), sets AS (SELECT DISTINCT host, text FROM corpus),
        |sizes AS (SELECT host, count(*) AS n FROM sets GROUP BY host),
        |inter AS (
        |  SELECT a.host AS host_a, b.host AS host_b, count(*) AS i
        |  FROM sets a JOIN sets b ON a.text = b.text AND a.host < b.host
        |  GROUP BY 1, 2
        |)
        |SELECT host_a, host_b,
        |       CAST(i * 1000000 // (sa.n + sb.n - i) AS BIGINT) AS jaccard_ppm
        |FROM inter
        |JOIN sizes sa ON sa.host = inter.host_a
        |JOIN sizes sb ON sb.host = inter.host_b
        |WHERE i * 1000000 // (sa.n + sb.n - i) >= 800000""".stripMargin)),
    DriverQuery("q_dedup_exact", (s, dir) => {
      val d = docs(s, dir)
      val corpus = d.unionAll(
        d.where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      graft.pipeline.Dedup.exact(corpus, col("doc_id"), col("text"))
        .select(col("doc_id"))
    },
      Sql("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0
        |) SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text""".stripMargin)),
    DriverQuery("q_dedup_minhash", (s, dir) => {
      graft.pipeline.Dedup.minhashNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
    },
      // exact all-pairs trigram jaccard over the same constructed corpus —
      // the testdata also contains organic planted near-dups the LSH must find
      Sql(JaccardPairsSql)),
    DriverQuery("q_similarity_join", (s, dir) => {
      // EXACT trigram-shingle Jaccard pairs via prefix filtering (AllPairs)
      // over the planted near-dup corpus — the same ≥ 0.7 pair universe the
      // minhash LSH finds probabilistically, here with zero misses by
      // construction; DuckDB computes true all-pairs, so a single missed
      // candidate (prefix too short) or extra pair fails hash
      graft.pipeline.PrefixJoin.similarityJoin(
        nearDupCorpus(s, dir), col("doc_id"),
        graft.pipeline.Text.shingles(col("text"), 3), threshold = 0.7)
    },
      Sql(s"""WITH corpus AS (
        |$NearDupCorpusSql
        |), s AS (
        |  SELECT doc_id AS id,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        for i in range(1, len(w) - 1)]) AS ts
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
        |        FROM corpus)
        |), n AS (SELECT id, ts, len(ts) AS sz FROM s WHERE len(ts) >= 1)
        |SELECT id_a, id_b, overlap, jaccard FROM (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         CAST(len(list_intersect(a.ts, b.ts)) AS INT) AS overlap,
        |         CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        |           / (a.sz + b.sz - len(list_intersect(a.ts, b.ts))) AS jaccard
        |  FROM n a, n b WHERE a.id < b.id
        |) WHERE overlap > 0 AND jaccard >= 0.7""".stripMargin)),
    DriverQuery("q_similarity_crosscorpus", (s, dir) => {
      // EXACT A x B shingle-set Jaccard attribution (the zero-miss twin of
      // q_dedup_crosscorpus's LSH): mutated slice vs frozen reference
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val mutated = nearDupCopies(d)
      graft.pipeline.PrefixJoin.similarityJoinBetween(
        d, col("doc_id"), graft.pipeline.Text.shingles(col("text"), 3),
        mutated, col("doc_id"), graft.pipeline.Text.shingles(col("text"), 3),
        threshold = 0.7)
    },
      Sql("""WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        for i in range(1, len(w) - 1)]) AS ts
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
        |        FROM documents)
        |), l AS (SELECT doc_id AS id, ts, len(ts) AS sz FROM sh WHERE len(ts) >= 1),
        |r0 AS (
        |  SELECT doc_id + 10000 AS doc_id, array_to_string(w[1:len(w)-2], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), shr AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        for i in range(1, len(w) - 1)]) AS ts
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM r0)
        |), r AS (SELECT doc_id AS id, ts, len(ts) AS sz FROM shr WHERE len(ts) >= 1)
        |SELECT id_a, id_b, overlap, jaccard FROM (
        |  SELECT l.id AS id_a, r.id AS id_b,
        |         CAST(len(list_intersect(l.ts, r.ts)) AS INT) AS overlap,
        |         CAST(len(list_intersect(l.ts, r.ts)) AS DOUBLE)
        |           / (l.sz + r.sz - len(list_intersect(l.ts, r.ts))) AS jaccard
        |  FROM l, r
        |) WHERE overlap > 0 AND jaccard >= 0.7""".stripMargin)),
    DriverQuery("q_dedup_crosscorpus", (s, dir) => {
      // new-crawl-vs-reference attribution: the mutated slice plays the
      // incoming batch, full documents the frozen reference; LSH band join
      // across the two corpora must surface exactly the true >= 0.7 pairs
      // (DuckDB computes TRUE all-pairs A x B Jaccard)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val mutated = nearDupCopies(d)
      graft.pipeline.Dedup.minhashNearDupJoin(
          d, col("doc_id"), col("text"),
          mutated, col("doc_id"), col("text"), shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
    },
      Sql("""WITH m AS (
        |  SELECT doc_id + 10000 AS doc_id, array_to_string(w[1:len(w)-2], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), sha AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM documents)
        |), shb AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM m)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sha a, shb b
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7""".stripMargin)),
    DriverQuery("q_dedup_weighted_drop", (s, dir) => {
      // curation face of the weighted tier: transitive weighted-near-dup
      // families keep min id; the oracle closes the true >= 0.8 pair set
      // with a recursive CTE and recomputes the survivors
      graft.pipeline.Wminhash.dropWeightedNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), threshold = 0.8)
        .select(col("id"))
    },
      Sql(s"""WITH RECURSIVE corpus AS (
        |$NearDupBagOverlapSql
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN lens la ON inter.id_a = la.id
        |  JOIN lens lb ON inter.id_b = lb.id
        |  WHERE CAST(smin AS DOUBLE) / (la.lw + lb.lw - smin) >= 0.8
        |), edges AS (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), node AS (SELECT DISTINCT s AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM node
        |  UNION
        |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
        |), comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
        |SELECT doc_id AS id FROM corpus
        |WHERE doc_id NOT IN (SELECT id FROM comp)
        |UNION ALL
        |SELECT id FROM comp WHERE id = c""".stripMargin)),
    DriverQuery("q_dedup_weighted", (s, dir) => {
      // ICWS weighted minhash over trigram-shingle tf: true all-pairs
      // weighted Jaccard >= 0.8 in DuckDB (every qualifying pair sits
      // >= 0.875, so the 16-band/4-row S-curve miss odds are ~7e-7 per
      // pair — a missed candidate or a verification slip fails hash)
      graft.pipeline.Wminhash.weightedNearDups(
        nearDupCorpus(s, dir), col("doc_id"), col("text"), threshold = 0.8)
    },
      Sql(s"""WITH corpus AS (
        |$NearDupBagOverlapSql
        |)
        |SELECT id_a, id_b,
        |       CAST(smin AS DOUBLE) / (la.lw + lb.lw - smin) AS w_jaccard
        |FROM inter
        |JOIN lens la ON inter.id_a = la.id
        |JOIN lens lb ON inter.id_b = lb.id
        |WHERE CAST(smin AS DOUBLE) / (la.lw + lb.lw - smin) >= 0.8""".stripMargin)),
    DriverQuery("q_dedup_simhash", (s, dir) => {
      graft.pipeline.Dedup.simhashNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), shingleSize = 3, maxHamming = 8)
        .select(col("id_a"), col("id_b"))
    },
      Sql(SimhashPairsSql)),
    DriverQuery("q_ngram_jaccard", (s, dir) => {
      // rows-only: exact pair-level jaccard on the constructed near-dups
      val c = nearDupCorpus(s, dir)
      val a = c.where(col("doc_id") < 10000).as("a")
      val b = c.where(col("doc_id") >= 10000).as("b")
      a.join(b, col("a.doc_id") + 10000 === col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          graft.pipeline.Dedup.ngramJaccard(col("a.text"), col("b.text")).as("jaccard"))
    },
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |pairs AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b,
        |         string_split(trim(lower(array_to_string(w, ' '))), ' ') AS wa,
        |         string_split(trim(lower(array_to_string(w[1:len(w)-2], ' '))), ' ') AS wb
        |  FROM d),
        |sh AS (
        |  SELECT id_a, id_b,
        |         list_distinct([array_to_string(wa[i:i+2], ' ') for i in range(1, len(wa) - 1)]) AS sa,
        |         list_distinct([array_to_string(wb[i:i+2], ' ') for i in range(1, len(wb) - 1)]) AS sb
        |  FROM pairs)
        |SELECT id_a, id_b,
        |       len(list_intersect(sa, sb))::DOUBLE
        |       / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
        |FROM sh""".stripMargin)),
    DriverQuery("q_curate", (s, dir) => {
      // end-to-end curation: near-dedup (keep lowest id) + quality gates
      val kept = graft.pipeline.Dedup.dropNearDups(
        nearDupCorpus(s, dir), col("doc_id"), col("text"))
      kept
        .where(graft.pipeline.Text.tokenCount(col("text")) >= 50)
        .where(graft.pipeline.Text.langId(col("text")) === "en")
        .select(col("doc_id"))
    },
      Sql(raw"""WITH corpus AS (
        |$NearDupCorpusSql
        |), sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM corpus)
        |), losers AS (
        |  SELECT DISTINCT b.doc_id AS d
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |), h AS (
        |  SELECT doc_id, text,
        |         len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |         len(regexp_extract_all(lower(text), '\b(der|die|das|und)\b')) AS de,
        |         len(regexp_extract_all(lower(text), '\b(el|la|los|que)\b')) AS es,
        |         len(regexp_extract_all(lower(text), '\b(le|les|et|est)\b')) AS fr
        |  FROM corpus WHERE doc_id NOT IN (SELECT d FROM losers)
        |)
        |SELECT doc_id FROM h
        |WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 50
        |  AND CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
        |           WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
        |           WHEN es > 0 AND es >= fr THEN 'es'
        |           WHEN fr > 0 THEN 'fr' ELSE 'und' END = 'en'""".stripMargin)),
    DriverQuery("q_dedup_clusters", (s, dir) => {
      // connected components over the verified near-dup graph
      graft.pipeline.Dedup.nearDupClusters(
        nearDupCorpus(s, dir), col("doc_id"), col("text"))
    },
      Sql(s"""$NearDupReachSql
        |)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin)),
    DriverQuery("q_curate_crawl", (s, dir) => {
      // the full crawl front door end to end: HTML extraction → mojibake
      // repair → URL canonicalization → exact URL dedup (crawlers re-fetch
      // the same page under tracking-param/port/case variants; lowest id
      // wins) → token + language gates. Every step is the ingest tier
      // chained the way a real pipeline runs it; the oracle computes each
      // step's expected output directly.
      val id = col("doc_id").cast("string")
      val moji = "Don\u00E2\u0080\u0099t \u00E2\u0080\u009Cquote\u00E2\u0080\u009D caf\u00C3\u00A9 "
      val html = concat(
        lit("<html><head><script>var x = \"<p>no</p>\";</script><style>.x{}</style>" +
          "</head><body><div class=\"nav\"><a href=\"/\">Home</a></div><h1>Doc "), id,
        lit("</h1><p>"), lit(moji), col("text"),
        lit("</p><div class=\"footer\"><a href=\"/a\">About</a></div></body></html>"))
      val pg = (col("doc_id") % 250).cast("string")
      val messyUrl = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/page"), pg, lit("/?utm_source=x&id="), pg, lit("#frag"))
      val t = graft.pipeline.Text.fixEncoding(
        graft.pipeline.Text.extractHtml(html, maxLinkDensity = 0.5))
      val front = docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.urlCanonicalize(messyUrl).as("url"), t.as("t"))
      graft.pipeline.Dedup.exact(front, col("doc_id"), col("url"))
        .where(graft.pipeline.Text.tokenCount(col("t")) >= 50)
        .where(graft.pipeline.Text.langId(col("t")) === "en")
        .select(col("doc_id"), col("url"))
    },
      // each front-door step's expected output computed directly: extracted
      // text (h1 + repaired paragraph), canonical URL, then URL keep-first
      // dedup and the token/language gates
      Sql("""WITH front AS (
        |  SELECT doc_id,
        |         'https://www.example' || (doc_id % 5) || '.com/page' || (doc_id % 250)
        |           || '?id=' || (doc_id % 250) AS url,
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text AS t
        |  FROM documents
        |), kept AS (
        |  SELECT f.doc_id, f.url, f.t
        |  FROM front f
        |  JOIN (SELECT url, min(doc_id) AS keep FROM front GROUP BY 1) k
        |    ON f.url = k.url AND f.doc_id = k.keep
        |), h AS (
        |  SELECT doc_id, url, t,
        |         len(regexp_extract_all(lower(t), '\b(the|and|of|is)\b')) AS en,
        |         len(regexp_extract_all(lower(t), '\b(der|die|das|und)\b')) AS de,
        |         len(regexp_extract_all(lower(t), '\b(el|la|los|que)\b')) AS es,
        |         len(regexp_extract_all(lower(t), '\b(le|les|et|est)\b')) AS fr
        |  FROM kept
        |)
        |SELECT doc_id, url FROM h
        |WHERE len(regexp_split_to_array(trim(t), '\s+')) >= 50
        |  AND CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
        |           WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
        |           WHEN es > 0 AND es >= fr THEN 'es'
        |           WHEN fr > 0 THEN 'fr' ELSE 'und' END = 'en'""".stripMargin)),
    DriverQuery("q_leakage_split", (s, dir) =>
      // cluster-keyed split over the near-dup corpus: families move whole,
      // singletons hash on their own id — the oracle replays clustering
      // (recursive reachability over true all-pairs jaccard) + the md5 split
      graft.pipeline.Curation.leakageSafeSplit(
          nearDupCorpus(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("split")),
      // q_dedup_clusters' recursive reachability + q_split_hash's md5 recipe,
      // keyed on the cluster id
      Sql(s"""$NearDupReachSql
        |), cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             CAST(concat('0x', substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |      FROM cl)""".stripMargin)),
    DriverQuery("q_decontaminate", (s, dir) => {
      // benchmark decontamination: corpus docs sharing 8-gram(s) with the
      // "benchmark" slice (docs with id % 25 == 0)
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminate(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("text"))
    },
      Sql(raw"""$SharedSevenGramsSql""".stripMargin)),
    DriverQuery("q_decontaminate_containment", (s, dir) => {
      // ASYMMETRIC contamination: "benchmark" items are 36-word slices of
      // every 10th doc — Jaccard vs their full-length source docs sits far
      // below any near-dup threshold (LSH never buckets them), but shingle
      // containment is ~1.0. Exact inverted-shingle join, no sketch; the
      // oracle replays the identical set math.
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 10 === 0).select(
        col("doc_id").as("bench_id"),
        concat_ws(" ", slice(split(col("text"), " "), 5, 36)).as("bench_text"))
      graft.pipeline.Dedup.containmentJoin(
          bench, col("bench_id"), col("bench_text"),
          d, col("doc_id"), col("text"),
          shingleSize = 5, threshold = 0.6)
        .select(col("id_q").as("bench_id"), col("id_c").as("doc_id"),
          round(col("containment"), 6).as("containment"))
    },
      Sql(raw"""$ContainmentGramsSql
        |)
        |SELECT bs.bench_id, cs.doc_id, round(count(*) / any_value(bs.nq), 6) AS containment
        |FROM bs JOIN cs USING (g)
        |GROUP BY bs.bench_id, cs.doc_id
        |HAVING count(*) / any_value(bs.nq) >= 0.6""".stripMargin)),
    DriverQuery("q_containment_gate", (s, dir) => {
      // row-local containment decontamination via the BROADCAST index —
      // the streaming gate's probe expression run batch-side (the
      // containment join's stateless live twin). Same fixture as
      // q_decontaminate_containment: benchmark items are 36-word slices
      // of every 10th doc; per doc the expression reports the MAX
      // containment over all items and the gate verdict at 0.6. The
      // oracle replays the identical set math per (doc, item) and takes
      // the max. Materialize-then-unregister: the index broadcast must
      // not outlive the query in a long-lived driver.
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 10 === 0).select(
        concat_ws(" ", slice(split(col("text"), " "), 5, 36)).as("bench_text"))
      graft.lookups.Lookups.registerContainmentFrom(
        s, "graft_q_contain", bench, col("bench_text"), shingleSize = 5)
      val out = d.select(col("doc_id"),
          round(graft.lookups.Lookups.containmentIn(
            col("text"), "graft_q_contain", 5), 6).as("containment"))
        .withColumn("kept", col("containment") < 0.6)
        .localCheckpoint()
      graft.lookups.Lookups.unregisterContainment("graft_q_contain")
      out
    },
      // max containment per doc over all benchmark items, same set math
      // as q_decontaminate_containment, then the 0.6 gate verdict
      Sql(raw"""$ContainmentGramsSql
        |), per AS (
        |  SELECT cs.doc_id, bs.bench_id, count(*) / any_value(bs.nq) AS cont
        |  FROM bs JOIN cs USING (g)
        |  GROUP BY 1, 2
        |), mx AS (
        |  SELECT doc_id, max(cont) AS m FROM per GROUP BY 1
        |)
        |SELECT d.doc_id, round(coalesce(mx.m, 0.0), 6) AS containment,
        |       coalesce(mx.m, 0.0) < 0.6 AS kept
        |FROM documents d LEFT JOIN mx USING (doc_id)""".stripMargin)),
    DriverQuery("q_decontaminate_spans", (s, dir) => {
      // exact-substring decontamination with REMOVAL: a 24-word benchmark
      // passage planted into doc_id % 6 == 0 docs is excised verbatim
      // (20-word windows, overlaps merged), docs rebuild around the hole
      val passage = "the following question appeared in the held out evaluation " +
        "benchmark suite and must never leak into any training corpus shard " +
        "under penalty of overfitting"
      val planted = docs(s, dir).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" " + passage)).otherwise(lit(""))).as("t"))
      val bench = s.range(1).select(
        lit("evaluation context " + passage + " end of item").as("btext"))
      graft.pipeline.Dedup.decontaminateSpans(
        planted, col("doc_id"), col("t"), bench, col("btext"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql(raw"""WITH d AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 6 = 0
        |    THEN ' the following question appeared in the held out evaluation benchmark suite and must never leak into any training corpus shard under penalty of overfitting'
        |    ELSE '' END AS t
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws FROM d
        |), win AS (
        |  SELECT doc_id, unnest(range(1, greatest(len(ws) - 20 + 2, 1))) AS i, ws FROM w
        |), g AS (
        |  SELECT doc_id, i, array_to_string(ws[i:i+19], ' ') AS gram FROM win
        |), b AS (
        |  SELECT list_filter(string_split_regex(
        |    'evaluation context the following question appeared in the held out evaluation benchmark suite and must never leak into any training corpus shard under penalty of overfitting end of item',
        |    '\s+'), x -> x <> '') AS bw
        |), bwin AS (
        |  SELECT unnest(range(1, greatest(len(bw) - 20 + 2, 1))) AS i, bw FROM b
        |), bg AS (
        |  SELECT DISTINCT array_to_string(bw[i:i+19], ' ') AS gram FROM bwin
        |), f AS (
        |  SELECT g.doc_id, g.i FROM g JOIN bg USING (gram)
        |$SpanRemovalSql""".stripMargin)),
    DriverQuery("q_decontaminate_attr", (s, dir) => {
      // attribution variant: WHICH benchmark doc leaked (most shared
      // 8-grams, ties to the lowest bench id)
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminateAttributed(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("doc_id"), col("text"))
    },
      Sql(raw"""$SevenGramsSql
        |  SELECT DISTINCT doc_id AS bid, unnest(s) AS ng FROM sh WHERE doc_id % 25 = 0
        |), doc_ng AS (
        |  SELECT doc_id, unnest(s) AS ng FROM sh
        |), pairs AS (
        |  SELECT d.doc_id AS id, b.bid, count(*) AS c
        |  FROM doc_ng d JOIN bench b USING (ng)
        |  GROUP BY 1, 2 HAVING count(*) >= 1
        |)
        |SELECT id, bid AS bench_id, c AS shared_ngrams FROM pairs
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, bid) = 1""".stripMargin)),
    DriverQuery("q_decontaminate_bloom", (s, dir) => {
      // bloom-screen variant of q_decontaminate: at fpp=0.001 over this
      // benchmark set the screen is exact (verified), so the exact-overlap
      // oracle applies; probes are deterministic, so that holds run to run
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminateBloom(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("text"),
        expectedNgrams = 500000L, fpp = 0.001, bloomName = "graft_decontam_q")
    },
      Sql(raw"""$SharedSevenGramsSql""".stripMargin)),
    DriverQuery("q_dedup_skew", (s, dir) => {
      // planted skew: 10k exact copies of doc 1's text — the exact-content
      // pre-collapse keeps the LSH bucket join bounded (one representative)
      // while curation still drops every copy
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val one = d.where(col("doc_id") === 1).select(col("text").as("t1"))
      val copies = s.range(10000).crossJoin(one)
        .select((col("id") + 100000).as("doc_id"), col("t1").as("text"))
      graft.pipeline.Dedup.dropNearDups(d.unionAll(copies), col("doc_id"), col("text"))
        .select(col("doc_id"))
    },
      // skew oracle mirrors the exact-collapse semantics: reps = min doc_id per
      // distinct text, then near-dup losers among reps only (cheap all-pairs
      // over ~500 distinct texts, never the 10k copies)
      Sql("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 100000 + r.range AS doc_id,
        |         (SELECT text FROM documents WHERE doc_id = 1) AS text
        |  FROM range(10000) r
        |), reps AS (
        |  SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text
        |), sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM reps)
        |), losers AS (
        |  SELECT DISTINCT b.doc_id AS d
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |)
        |SELECT doc_id FROM reps WHERE doc_id NOT IN (SELECT d FROM losers)""".stripMargin)),
    DriverQuery("q_dedup_lines", (s, dir) => {
      // wrap every document in shared chrome (nav header, copyright footer);
      // line dedup must strip the chrome everywhere and keep original text
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("NAV MENU HOME ABOUT\n"), col("text"),
          lit("\nCopyright 2026 Example Corp")).as("t"))
      graft.pipeline.Dedup.dedupLines(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         'NAV MENU HOME ABOUT' || chr(10) || text || chr(10) || 'Copyright 2026 Example Corp' AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(string_split(t, chr(10))) AS line,
        |         unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
        |  FROM d
        |), dup AS (
        |  SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        |), keep AS (
        |  SELECT l.doc_id, l.line, l.pos FROM l ANTI JOIN dup USING (line)
        |), r AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin)),
    DriverQuery("q_dedup_sentences", (s, dir) => {
      // boilerplate that shares a line with content: every doc gets a
      // subscribe pitch PREPENDED to its own text on one line — line dedup
      // can't fire (the full line differs per doc), sentence dedup strips
      // the pitch corpus-wide and keeps each doc's own sentences
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("Subscribe to our newsletter today! "), col("text"),
          lit(" Visit example dot com for more.")).as("t"))
      graft.pipeline.Dedup.dedupSentences(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         'Subscribe to our newsletter today! ' || text || ' Visit example dot com for more.' AS t
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |         list_filter(
        |           list_transform(regexp_extract_all(t, '[^.!?]+(?:[.!?]+|$)'),
        |             x -> regexp_replace(x, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g')),
        |           x -> regexp_matches(x, '[\p{L}\p{N}]')) AS units
        |  FROM d
        |), l AS (
        |  SELECT doc_id, unnest(units) AS sent,
        |         unnest(range(1, len(units) + 1)) AS pos
        |  FROM u
        |), dup AS (
        |  SELECT sent FROM l GROUP BY sent HAVING count(DISTINCT doc_id) >= 2
        |), keep AS (
        |  SELECT l.doc_id, l.sent, l.pos FROM l ANTI JOIN dup USING (sent)
        |), r AS (
        |  SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS text
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin)),
    DriverQuery("q_dedup_prioritized", (s, dir) => {
      // multi-source assembly: every doc exists as a crawl copy (trust
      // weight 1) and every third also as a curated copy (trust weight 2,
      // id+50000); identical content must keep the CURATED copy, not the
      // lower id — priority is a weight, HIGHER wins (the one convention
      // shared with dropNearDupsPreferring)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val crawl = d.select(col("doc_id"), col("text"), lit(1).as("prio"))
      val curated = d.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 50000).as("doc_id"), col("text"), lit(2).as("prio"))
      graft.pipeline.Dedup.exactPreferring(
          crawl.unionAll(curated), col("doc_id"), col("prio"), col("text"))
        .select(col("doc_id"), col("prio"))
    },
      Sql("""WITH u AS (
        |  SELECT doc_id, text, 1 AS prio FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000, text, 2 FROM documents WHERE doc_id % 3 = 0
        |), k AS (
        |  SELECT text, min(struct_pack(p := -prio, i := doc_id)) AS keep
        |  FROM u GROUP BY 1
        |)
        |SELECT u.doc_id, u.prio
        |FROM u JOIN k ON u.text = k.text
        |WHERE -u.prio = k.keep.p AND u.doc_id = k.keep.i""".stripMargin)),
    DriverQuery("q_corpus_diff", (s, dir) => {
      // release diff: v2 drops doc_id % 7 == 0, appends " v2" to
      // doc_id % 5 == 0, and adds fresh ids above 90000
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(v1.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 90000).as("doc_id"), col("text")))
      graft.pipeline.Curation.corpusDiff(v1, v2, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 90000, text FROM documents WHERE doc_id % 11 = 0
        |)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.doc_id IS NULL THEN 'added'
        |            WHEN b.doc_id IS NULL THEN 'removed'
        |            WHEN a.text = b.text THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM documents a FULL OUTER JOIN v2 b USING (doc_id)""".stripMargin)),
    DriverQuery("q_dedup_withindoc", (s, dir) => {
      // nav chrome stamped at the top AND bottom of the SAME page (plus
      // sentence-per-line body): within-doc dedup keeps first occurrences
      // only — no cross-doc count involved, and no shuffle in the plan
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("NAV MENU\n"), regexp_replace(col("text"), "\\. ", ".\n"),
          lit("\nNAV MENU\n\nCopyright 2026")).as("t"))
      graft.pipeline.Dedup.dedupLinesWithinDoc(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    },
      // empty lines are STRUCTURE (paragraph boundaries), kept verbatim;
      // only non-empty lines census to their first occurrence
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         'NAV MENU' || chr(10) || regexp_replace(text, '\. ', '.' || chr(10), 'g')
        |           || chr(10) || 'NAV MENU' || chr(10) || chr(10) || 'Copyright 2026' AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(string_split(t, chr(10))) AS line,
        |         unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
        |  FROM d
        |), keep AS (
        |  SELECT doc_id, pos, line FROM l WHERE line = ''
        |  UNION ALL
        |  SELECT doc_id, min(pos) AS pos, line FROM l WHERE line <> '' GROUP BY doc_id, line
        |)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM keep GROUP BY doc_id""".stripMargin)),
    DriverQuery("q_dedup_paragraphs", (s, dir) => {
      // shared consent paragraph on every doc + a per-doc unique paragraph:
      // paragraph dedup strips the chrome everywhere, keeps the unique one
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("We use cookies to improve your experience.\n\n"), col("text"),
          lit("\n\nSubscribe to our newsletter for updates.")).as("t"))
      graft.pipeline.Dedup.dedupParagraphs(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         'We use cookies to improve your experience.' || chr(10) || chr(10) || text
        |           || chr(10) || chr(10) || 'Subscribe to our newsletter for updates.' AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(t, '\n\n+')) AS para,
        |         unnest(range(1, len(regexp_split_to_array(t, '\n\n+')) + 1)) AS pos
        |  FROM d
        |), dup AS (
        |  SELECT para FROM l GROUP BY para HAVING count(DISTINCT doc_id) >= 2
        |), keep AS (
        |  SELECT l.doc_id, l.para, l.pos FROM l ANTI JOIN dup USING (para)
        |), r AS (
        |  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin)),
    DriverQuery("q_dedup_spans", (s, dir) => {
      // plant a shared 27-word syndication notice on every 4th doc: its
      // 20-word windows are corpus-duplicated, so every planted doc except
      // the first keeps its own text but loses the notice span
      val framed = docs(s, dir).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 4 === 0,
          lit(" this article was syndicated from the example news network and" +
            " may not be reproduced without permission from the original" +
            " publisher all rights reserved worldwide in every region"))
          .otherwise(lit(""))).as("t"))
      graft.pipeline.Dedup.dedupSpans(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql(raw"""WITH d AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 4 = 0
        |    THEN ' this article was syndicated from the example news network and may not be reproduced without permission from the original publisher all rights reserved worldwide in every region'
        |    ELSE '' END AS t
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws FROM d
        |), win AS (
        |  SELECT doc_id, unnest(range(1, greatest(len(ws) - 20 + 2, 1))) AS i, ws FROM w
        |), g AS (
        |  SELECT doc_id, i, array_to_string(ws[i:i+19], ' ') AS gram FROM win
        |), f AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |           row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
        |    FROM g
        |  ) WHERE rn > 1
        |$SpanRemovalSql""".stripMargin)),
    DriverQuery("q_span_lengths", (s, dir) => {
      // the Lee et al. span-dedup AUDIT artifact: the MERGED
      // duplicated-span length distribution per source. Same fixture as
      // q_dedup_spans — the 27-word syndication notice planted on every
      // 4th doc must surface as 27-word merged spans on every occurrence
      // except the corpus-first; the oracle replays window duplication by
      // STRING, the (id, pos) first-occurrence ranking and the
      // gaps-and-islands merge with window functions
      val framed = docs(s, dir).select(col("doc_id"), col("source"),
        concat(col("text"), when(col("doc_id") % 4 === 0,
          lit(" this article was syndicated from the example news network and" +
            " may not be reproduced without permission from the original" +
            " publisher all rights reserved worldwide in every region"))
          .otherwise(lit(""))).as("t"))
      graft.pipeline.Dedup.spanLengthReport(
          framed, col("doc_id"), col("t"), col("source"))
        .withColumnRenamed("group", "source")
    },
      // duplicated windows by STRING, (doc_id, pos) first-occurrence
      // ranking, then gaps-and-islands over flagged positions: a window at
      // p covers [p, p+20), adjacent-or-overlapping islands merge, length
      // = max(end) - min(start)
      Sql("""WITH d AS (
        |  SELECT doc_id, source, text || CASE WHEN doc_id % 4 = 0
        |    THEN ' this article was syndicated from the example news network and may not be reproduced without permission from the original publisher all rights reserved worldwide in every region'
        |    ELSE '' END AS t
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws
        |  FROM d
        |), win AS (
        |  SELECT doc_id, source, unnest(range(1, greatest(len(ws) - 20 + 2, 1))) AS i, ws
        |  FROM w
        |), g AS (
        |  SELECT doc_id, source, i, array_to_string(ws[i:i+19], ' ') AS gram FROM win
        |), f AS (
        |  SELECT gram, count(*) AS c, min(doc_id * 1000000 + i) AS firstkey
        |  FROM g GROUP BY 1
        |), fl AS (
        |  SELECT g.doc_id, g.source, g.i FROM g JOIN f USING (gram)
        |  WHERE f.c > 1 AND g.doc_id * 1000000 + g.i <> f.firstkey
        |), ord AS (
        |  SELECT doc_id, source, i,
        |         max(i + 20) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM fl
        |), isl AS (
        |  SELECT *, sum(CASE WHEN prevmax IS NULL OR i > prevmax THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM ord
        |), sp AS (
        |  SELECT doc_id, any_value(source) AS source,
        |         max(i + 20) - min(i) AS span_words
        |  FROM isl GROUP BY doc_id, island
        |)
        |SELECT source, CAST(span_words AS INT) AS span_words,
        |       count(*) AS n_spans
        |FROM sp GROUP BY 1, 2""".stripMargin)))
}
