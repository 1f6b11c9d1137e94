package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._

/** Driver queries of the text/tokenizers family: normalization, HTML and URL
 * parsing, PII, code, SFT and tokenizers. */
object TextQueries {
  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_bitext_align", (s, dir) => {
      // Gale-Church beads over planted bitext: each doc aligned against a
      // twin with every 5th sentence dropped — rows-only (the DP is not
      // SQL-expressible; BitextSpec pins optimality vs enumeration), but
      // deterministic: beads follow the length model exactly. The
      // synthetic corpus has no sentence punctuation, so 8-word chunks
      // play the sentences
      val words = split(col("text"), " ")
      val nChunks = ceil(size(words) / lit(8.0)).cast("int")
      val d = docs(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          transform(sequence(lit(0), nChunks - 1),
            i => array_join(slice(words, i * 8 + 1, lit(8)), " ")).as("sa"))
        .where(size(col("sa")) >= 4)
      val pairs = d.withColumn("sb",
        filter(col("sa"), (x, i) => i % 5 =!= 4))
      graft.pipeline.Bitext.galeChurchAlign(pairs,
        col("doc_id"), col("sa"), col("sb"))
    },
      RowsOnly("the Gale-Church DP is not SQL-expressible", "graft.pipeline.BitextSpec")),
    DriverQuery("q_stopword_candidates", (s, dir) =>
      // data-driven per-lang stopword mining: terms in >= 30% of the
      // language's docs, top 40 by document frequency
      graft.pipeline.Curation.stopwordCandidates(docs(s, dir),
        col("doc_id"), col("text"), col("lang"),
        minDfPpm = 300000L, maxTerms = 40),
      Sql("""WITH totals AS (
        |  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS lang_docs
        |  FROM documents GROUP BY lang
        |), terms AS (
        |  SELECT lang, term, CAST(count(*) AS BIGINT) AS n_docs FROM (
        |    SELECT lang, doc_id, unnest(list_distinct(
        |      regexp_split_to_array(trim(lower(text)), '\s+'))) AS term
        |    FROM documents)
        |  WHERE term <> '' GROUP BY lang, term
        |), ranked AS (
        |  SELECT t.lang, t.term, t.n_docs, x.lang_docs,
        |         t.n_docs * 1000000 // x.lang_docs AS df_ppm
        |  FROM terms t JOIN totals x USING (lang)
        |  WHERE t.n_docs * 1000000 // x.lang_docs >= 300000
        |)
        |SELECT lang, term, n_docs, lang_docs, df_ppm FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY df_ppm DESC, term) AS rk
        |  FROM ranked) WHERE rk <= 40""".stripMargin)),
    DriverQuery("q_vocab_coverage", (s, dir) =>
      // tokenizer-budget diagnostic: the top-20 words' share of all
      // running tokens (the synthetic corpus has ~31 distinct words, so
      // the cut is real); DuckDB replays the deterministic top-k cut
      graft.pipeline.Curation.vocabCoverage(
        docs(s, dir), col("text"), vocabSize = 20),
      Sql("""WITH c AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                              t -> t != '')) AS w
        |    FROM documents) GROUP BY 1
        |), v AS (
        |  SELECT w, c FROM c ORDER BY c DESC, w LIMIT 20
        |)
        |SELECT (SELECT CAST(sum(c) AS BIGINT) FROM c) AS total_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab_words,
        |       CAST(sum(c) AS BIGINT) AS covered_tokens,
        |       CAST(sum(c) * 1000000 // (SELECT sum(c) FROM c) AS BIGINT)
        |         AS coverage_ppm
        |FROM v""".stripMargin)),
    DriverQuery("q_readability", (s, dir) =>
      // Flesch reading ease over the corpus — vowel-group syllables,
      // sentence units and word counts all mirrored in the oracle
      docs(s, dir).select(col("doc_id"),
          graft.pipeline.Text.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.words").cast("long").as("words"),
          col("r.sentences").cast("long").as("sentences"),
          col("r.syllables").cast("long").as("syllables"),
          col("r.flesch").as("flesch")),
      Sql("""WITH c AS (
        |  SELECT doc_id,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS words,
        |         len(list_filter(
        |           list_transform(regexp_extract_all(text, '[^.!?]+(?:[.!?]+|$)'),
        |             x -> regexp_replace(x, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g')),
        |           x -> regexp_matches(x, '[\p{L}\p{N}]'))) AS sentences,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        |  FROM documents
        |)
        |SELECT doc_id, words, sentences, syllables,
        |       CASE WHEN words > 0 AND sentences > 0 THEN
        |         round(206.835
        |           - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |           - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)), 6)
        |       END AS flesch
        |FROM c""".stripMargin)),
    DriverQuery("q_registrable_domain", (s, dir) => {
      // eTLD+1 over a host mix: multi-part suffix, plain .com, deep
      // subdomain, dotless — the oracle mirrors the regex + CASE logic
      val id = col("doc_id")
      val host = when(id % 4 === 0,
          concat(lit("a"), (id % 7).cast("string"), lit(".shop"),
            (id % 20).cast("string"), lit(".co.uk")))
        .when(id % 4 === 1,
          concat(lit("www.site"), (id % 20).cast("string"), lit(".com")))
        .when(id % 4 === 2,
          concat(lit("deep.sub.mart"), (id % 10).cast("string"), lit(".com.au")))
        .otherwise(lit("localhost"))
      val url = concat(lit("https://"), host, lit("/p/"), id.cast("string"))
      docs(s, dir).select(id.as("doc_id"),
        graft.pipeline.Text.registrableDomain(url).as("domain"))
    },
      Sql("""WITH u AS (
        |  SELECT doc_id,
        |         CASE
        |           WHEN doc_id % 4 = 0 THEN concat('a', CAST(doc_id % 7 AS VARCHAR),
        |                '.shop', CAST(doc_id % 20 AS VARCHAR), '.co.uk')
        |           WHEN doc_id % 4 = 1 THEN concat('www.site', CAST(doc_id % 20 AS VARCHAR), '.com')
        |           WHEN doc_id % 4 = 2 THEN concat('deep.sub.mart', CAST(doc_id % 10 AS VARCHAR), '.com.au')
        |           ELSE 'localhost'
        |         END AS host
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, host,
        |         regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS l2,
        |         regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) AS l3
        |  FROM u
        |)
        |SELECT doc_id,
        |       CASE WHEN l2 = '' THEN host
        |            WHEN l2 IN ('co.uk', 'com.au') AND l3 <> '' THEN l3
        |            ELSE l2 END AS domain
        |FROM d""".stripMargin)),
    DriverQuery("q_html_jsonld", (s, dir) => {
      // schema.org structured data through the real extractor (a plain
      // script sits ahead as a decoy) and from_json; oracle reconstructs
      // the parsed fields arithmetically
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><script>var x=1;</script>" +
          "<script type=\"application/ld+json\">{\"@type\":\"Article\",\"headline\":\"Doc "),
        id.cast("string"),
        lit("\",\"wordCount\":"), (id * 31 % 1000).cast("string"),
        lit("}</script></head><body><p>b</p></body></html>"))
      docs(s, dir).select(id.as("doc_id"),
          explode(graft.pipeline.Text.htmlJsonLd(html)).as("graft_j"))
        .select(col("doc_id"),
          from_json(col("graft_j"), org.apache.spark.sql.types.StructType
            .fromDDL("headline STRING, wordCount BIGINT")).as("graft_m"))
        .select(col("doc_id"), col("graft_m.headline").as("headline"),
          col("graft_m.wordCount").as("word_count"))
    },
      Sql("""SELECT doc_id,
        |       concat('Doc ', CAST(doc_id AS VARCHAR)) AS headline,
        |       (doc_id * 31) % 1000 AS word_count
        |FROM documents""".stripMargin)),
    DriverQuery("q_translation_pairs", (s, dir) => {
      // hreflang-mined bitext candidates: each article family (doc_id
      // div 5) has five language versions that all declare each other
      // (plus themselves — the self-link must drop); the REAL parser and
      // reciprocity filter reconstruct every unordered cross-language
      // pair exactly once
      val id = col("doc_id")
      val langs = Seq("en", "de", "es", "fr", "zh")
      val fam = expr("doc_id div 5")
      val myLang = element_at(array(langs.map(lit): _*), (id % 5).cast("int") + 1)
      def urlOf(l: org.apache.spark.sql.Column) = concat(lit("https://site.com/"), l,
        lit("/art/"), fam.cast("string"))
      val linkTags = langs.map(l =>
        concat(lit(s"""<link rel="alternate" hreflang="$l" href="""),
          lit("\""), urlOf(lit(l)), lit("\">"))).reduce(concat(_, _))
      val html = concat(lit("<html><head>"), linkTags,
        lit("</head><body><p>article</p></body></html>"))
      val pages = docs(s, dir).select(urlOf(myLang).as("url"), html.as("html"))
      graft.pipeline.Curation.translationPairs(pages, col("url"), col("html"))
    },
      Sql("""WITH l(i, lang) AS (VALUES (0, 'en'), (1, 'de'), (2, 'es'), (3, 'fr'), (4, 'zh')),
        |fam AS (SELECT DISTINCT doc_id // 5 AS f FROM documents),
        |p AS (
        |  SELECT concat('https://site.com/', a.lang, '/art/', CAST(f.f AS VARCHAR)) AS ua,
        |         a.lang AS la,
        |         concat('https://site.com/', b.lang, '/art/', CAST(f.f AS VARCHAR)) AS ub,
        |         b.lang AS lb
        |  FROM fam f, l a, l b WHERE a.i <> b.i
        |)
        |SELECT ua AS url_a, la AS lang_a, ub AS url_b, lb AS lang_b
        |FROM p WHERE ua < ub""".stripMargin)),
    DriverQuery("q_html_canonical", (s, dir) => {
      // canonical-URL dedup: every doc's page points at a shared canonical
      // (doc_id div 5 — AMP/print variants of one article); grouping by
      // the REALLY-PARSED canonical collapses each family to 5 variants
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><script>var l='<link rel=\"canonical\" href=\"https://decoy.invalid/\">';"
          + "</script><link rel=\"stylesheet\" href=\"/s.css\">"
          + "<link rel=\"canonical\" href=\"https://a.com/article/"),
        expr("doc_id div 5").cast("string"),
        lit("\"></head><body><p>variant "), id.cast("string"),
        lit("</p></body></html>"))
      docs(s, dir).select(
          graft.pipeline.Text.htmlCanonical(html).as("canonical"))
        .groupBy(col("canonical")).agg(count(lit(1)).as("variants"))
    },
      Sql("""SELECT concat('https://a.com/article/', CAST(doc_id // 5 AS VARCHAR)) AS canonical,
        |       CAST(count(*) AS BIGINT) AS variants
        |FROM documents GROUP BY 1""".stripMargin)),
    DriverQuery("q_html_robots", (s, dir) => {
      // page-level robots directives: five planted variants (generic tag,
      // none, agent-specific, absent, uppercase) keyed on doc_id % 5; the
      // oracle recomputes both flags from the arithmetic
      val id = col("doc_id")
      val tag = element_at(array(
        lit("<meta name=\"robots\" content=\"noindex, follow\">"),
        lit("<meta name=\"robots\" content=\"none\">"),
        lit("<meta name=\"googlebot\" content=\"nofollow\">"),
        lit(""),
        lit("<meta name=\"ROBOTS\" content=\" NOFOLLOW \">")),
        (id % 5 + 1).cast("int"))
      val html = concat(lit("<html><head><title>t</title>"), tag,
        lit("</head><body><p>x</p></body></html>"))
      docs(s, dir).select(id.as("doc_id"),
          graft.pipeline.Text.htmlRobotsDirectives(html, agent = "googlebot").as("d"))
        .select(col("doc_id"), col("d.noindex").as("noindex"),
          col("d.nofollow").as("nofollow"))
    },
      Sql("""SELECT doc_id,
        |       doc_id % 5 IN (0, 1) AS noindex,
        |       doc_id % 5 IN (1, 2, 4) AS nofollow
        |FROM documents""".stripMargin)),
    DriverQuery("q_html_meta", (s, dir) => {
      // title + meta extraction through the real one-pass parser (script
      // decoy title, entity in the real title, charset meta without a key
      // must drop); oracle reconstructs the expected rows directly
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><script>var t=\"<title>decoy</title>\";</script>" +
          "<title>Doc &amp; Page "), id.cast("string"),
        lit("</title><meta name=\"Description\" content=\"summary "),
        (id % 7).cast("string"),
        lit("\"><meta property='og:type' content='article'>" +
          "<meta charset=\"utf-8\"></head><body><p>x</p></body></html>"))
      docs(s, dir).select(id.as("doc_id"), graft.pipeline.Text.htmlMeta(html).as("m"))
        .select(col("doc_id"), col("m.title").as("title"), explode(col("m.metas")).as("mt"))
        .select(col("doc_id"), col("title"),
          col("mt.name").as("name"), col("mt.content").as("content"))
    },
      Sql("""SELECT doc_id,
        |       concat('Doc & Page ', CAST(doc_id AS VARCHAR)) AS title,
        |       'description' AS name,
        |       concat('summary ', CAST(doc_id % 7 AS VARCHAR)) AS content
        |FROM documents
        |UNION ALL
        |SELECT doc_id, concat('Doc & Page ', CAST(doc_id AS VARCHAR)),
        |       'og:type', 'article'
        |FROM documents""".stripMargin)),
    DriverQuery("q_badwords", (s, dir) => {
      // C4-style blocklist gate: one alternation regex over the list,
      // word-boundary, multi-word phrases across whitespace
      graft.pipeline.Curation.blocklistGate(
        docs(s, dir).select(col("doc_id"), col("text")), col("text"),
        Seq("slow", "hash value", "broken pipe"))
        .select(col("doc_id"), col("n_blocklist_hits"), col("blocked"))
    },
      Sql("""SELECT doc_id,
        |       len(regexp_extract_all(lower(text),
        |         '(?:\bslow\b|\bhash\s+value\b|\bbroken\s+pipe\b)')) AS n_blocklist_hits,
        |       len(regexp_extract_all(lower(text),
        |         '(?:\bslow\b|\bhash\s+value\b|\bbroken\s+pipe\b)')) > 0 AS blocked
        |FROM documents""".stripMargin)),
    DriverQuery("q_redact_ac", (s, dir) => {
      // automaton scrub-list redaction (merged spans). The phrase pair has
      // no cross- or self-overlaps and '#' can't create new matches, so
      // sequential literal replace is provably identical — the oracle
      val ac = graft.pipeline.MultiMatch.compile(Seq("slow", "hash value"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.MultiMatch.acRedact(col("text"), ac, "#").as("red"))
    },
      Sql("""SELECT doc_id, replace(replace(text, 'slow', '#'), 'hash value', '#') AS red
        |FROM documents""".stripMargin)),
    DriverQuery("q_blocklist_ac", (s, dir) => {
      // the same gate through the Aho–Corasick scale path: automaton scan,
      // O(text + matches) per row independent of dictionary size; counts
      // ALL (phrase, position) occurrences (overlaps included)
      graft.pipeline.Curation.blocklistGateAc(
        docs(s, dir).select(col("doc_id"), col("text")), col("text"),
        Seq("slow", "hash value", "broken pipe"))
        .select(col("doc_id"), col("n_blocklist_hits"), col("blocked"))
    },
      Sql("""WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id,
        |    len([i for i in range(1, greatest(len(t) - len(p) + 2, 1))
        |         if substr(t, i, len(p)) = p
        |            AND (i = 1 OR NOT regexp_matches(substr(t, i - 1, 1), '[a-z0-9_]'))
        |            AND (i + len(p) = len(t) + 1
        |                 OR NOT regexp_matches(substr(t, i + len(p), 1), '[a-z0-9_]'))]) AS c
        |  FROM norm, (VALUES ('slow'), ('hash value'), ('broken pipe')) pp(p)
        |)
        |SELECT doc_id, CAST(sum(c) AS INT) AS n_blocklist_hits, sum(c) > 0 AS blocked
        |FROM hits GROUP BY doc_id""".stripMargin)),
    DriverQuery("q_chunk_docs", (s, dir) => {
      // word-aligned 40-word chunks with 8-word overlap (stride 32)
      graft.pipeline.Curation.chunkDocs(
          docs(s, dir), col("doc_id"), col("text"), maxWords = 40, overlapWords = 8)
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ws,
        |         unnest(range(0, ((greatest(len(ws) - 40, 0) + 31) // 32) + 1)) AS chunk
        |  FROM w
        |)
        |SELECT doc_id, CAST(chunk AS INTEGER) AS chunk,
        |       len(ws[chunk*32+1 : chunk*32+40]) AS n_words,
        |       array_to_string(ws[chunk*32+1 : chunk*32+40], ' ') AS text
        |FROM c""".stripMargin)),
    DriverQuery("q_text_tokens", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")).as("n_tokens"),
        graft.pipeline.Text.bpeTokenEstimate(col("text")).as("n_bpe"),
        graft.pipeline.Text.bpeTokenCount(col("text")).as("n_bpe_regex"))
    },
      Sql("""SELECT doc_id,
        |       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |       CAST(ceil(length(text) / 4.0) AS INT) AS n_bpe,
        |       len(regexp_extract_all(text,
        |         '(''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+)')) AS n_bpe_regex
        |FROM documents""".stripMargin)),
    DriverQuery("q_bpe_tokens", (s, dir) => {
      // rows-only: learn a 150-merge BPE table from the corpus word counts
      // (driver-side merge loop over the bounded dictionary, the standard
      // trainer shape) and emit exact subword token counts per doc
      val d = docs(s, dir)
      val model = graft.pipeline.Bpe.learnMerges(
        d, col("text"), numMerges = 150, minCount = 5L)
      d.select(col("doc_id"),
        graft.pipeline.Bpe.tokenCount(model, col("text")).as("n_bpe_exact"),
        graft.pipeline.Text.tokenCount(col("text")).as("n_words"))
    },
      RowsOnly("the driver-side BPE merge loop is not SQL-expressible", "graft.pipeline.BpeSpec")),
    DriverQuery("q_bpe_gpt2", (s, dir) => {
      // rows-only (merge semantics are not SQL-expressible; GptBpeSpec pins
      // them by hand-derivation): import a GPT-2-format merges.txt/vocab.json
      // pair and emit exact pretrained token counts — the byte-level
      // alphabet is closed, so n_oov_ids counts vocab gaps, never misses
      val dir0 = java.nio.file.Files.createTempDirectory("graft_q_gptbpe")
      java.nio.file.Files.writeString(dir0.resolve("merges.txt"),
        "#version: 0.2\nt h\nth e\nĠ t\nĠt he\ni n\ne r\no n\na n\nan d\n" +
          "Ġ a\nĠ s\nĠ w\no r\nr e\na t\ne n\no u\ni t\ni s\nĠa nd\n")
      java.nio.file.Files.writeString(dir0.resolve("vocab.json"),
        """{"Ġthe": 262, "Ġand": 290, "the": 1169, "and": 392, "in": 259, "er": 263}""")
      val model = graft.pipeline.GptBpe.load(
        s, dir0.resolve("merges.txt").toString, dir0.resolve("vocab.json").toString)
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.GptBpe.tokenCount(model, col("text")).as("n_gpt2_tokens"),
        graft.pipeline.Text.tokenCount(col("text")).as("n_words"),
        size(filter(graft.pipeline.GptBpe.tokenIds(model, col("text")),
          i => i === -1)).as("n_oov_ids"))
    },
      RowsOnly("byte-level BPE merge semantics are not SQL-expressible",
        "graft.pipeline.GptBpeSpec")),
    DriverQuery("q_unigram_tokens", (s, dir) => {
      // rows-only (EM training isn't SQL-expressible; UnigramSpec pins
      // round-trip coverage, EM monotonicity, partition invariance):
      // SentencePiece-style unigram-LM tokenizer trained on the corpus
      // word-frequency table (cached per process), exact ML token counts
      val model = unigramModelFor(s, dir)
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Unigram.tokenCount(model, col("text")).as("n_tokens"))
    },
      RowsOnly("unigram EM training is not SQL-expressible", "graft.pipeline.UnigramSpec")),
    DriverQuery("q_compression_ratio", (s, dir) => {
      // rows-only (DuckDB has no zlib surface): per-doc deflate ratio, the
      // information-density gate — CompressionSpec pins the band semantics
      docs(s, dir).select(col("doc_id"),
        round(graft.pipeline.Text.compressionRatio(col("text")), 6).as("zratio"))
    },
      RowsOnly("DuckDB has no zlib surface", "graft.pipeline.CompressionSpec")),
    DriverQuery("q_pii", (s, dir) => {
      // plant deterministic PII spans in a slice of documents, then detect
      // and redact; counts and redacted text both oracle-checked
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call +1 (555) 123-4567")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ssn 123-45-6789")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          graft.pipeline.Pii.piiSignals(col("t")).as("p"),
          graft.pipeline.Pii.redactPii(col("t")).as("redacted"))
        .select(col("doc_id"), col("p.emails").as("emails"), col("p.ipv4s").as("ipv4s"),
          col("p.ssns").as("ssns"), col("p.phones").as("phones"),
          col("p.has_pii").as("has_pii"), col("redacted"))
    },
      Sql("""WITH p AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 123-4567' ELSE '' END
        |         || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
        |         || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, t,
        |         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+')) AS emails,
        |         len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ipv4s,
        |         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS ssns,
        |         len(regexp_extract_all(t, '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b')) AS phones
        |  FROM p
        |)
        |SELECT doc_id, emails, ipv4s, ssns, phones,
        |       (emails + ipv4s + ssns + phones) > 0 AS has_pii,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
        |             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |         '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM m""".stripMargin)),
    DriverQuery("q_url_parse", (s, dir) => {
      // deterministic fake URLs from documents; parse host/path/tld
      val url = concat(lit("https://"), col("source"), lit(".example.co.uk:8080/docs/"),
        col("doc_id").cast("string"), lit("?ref=x"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.urlHost(url).as("host"),
        graft.pipeline.Text.urlPath(url).as("path"),
        graft.pipeline.Text.urlTld(url).as("tld"))
    },
      Sql("""WITH u AS (
        |  SELECT doc_id,
        |         concat('https://', source, '.example.co.uk:8080/docs/',
        |                CAST(doc_id AS VARCHAR), '?ref=x') AS url
        |  FROM documents
        |)
        |SELECT doc_id,
        |       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1) AS host,
        |       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |       regexp_extract(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1),
        |                      '\.([^.]+)$', 1) AS tld
        |FROM u""".stripMargin)),
    DriverQuery("q_pii_iban", (s, dir) => {
      // mod-97-verified IBANs: a valid DE and GB pair per doc, a
      // checksum-broken sibling, and (every 4th doc) a lowercase decoy
      // the uppercase-structural regex must skip
      val id = col("doc_id")
      val text = concat(lit("wire "), id.cast("string"),
        lit(" to DE89370400440532013000 or GB82WEST12345698765432"),
        lit(" never DE89370400440532013001"),
        when(id % 4 === 0, lit(" decoy de89370400440532013000")).otherwise(lit("")))
      docs(s, dir).select(id.as("doc_id"),
        graft.pipeline.Pii.ibanCount(text).cast("long").as("ibans"))
    },
      Sql("""WITH t AS (
        |  SELECT doc_id,
        |         concat('wire ', CAST(doc_id AS VARCHAR),
        |                ' to DE89370400440532013000 or GB82WEST12345698765432',
        |                ' never DE89370400440532013001',
        |                CASE WHEN doc_id % 4 = 0 THEN ' decoy de89370400440532013000' ELSE '' END) AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len([c for c in regexp_extract_all(s, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b')
        |       if list_reduce(
        |            regexp_extract_all('0' || substr(c, 5) || substr(c, 1, 4), '[A-Z0-9]'),
        |            (a, ch) -> CAST(CASE WHEN ascii(ch) BETWEEN 48 AND 57
        |                            THEN (CAST(a AS BIGINT) * 10 + (ascii(ch) - 48)) % 97
        |                            ELSE (CAST(a AS BIGINT) * 100 + (ascii(ch) - 55)) % 97
        |                       END AS VARCHAR)) = '1']) AS BIGINT) AS ibans
        |FROM t""".stripMargin)),
    DriverQuery("q_pii_cards", (s, dir) => {
      // Luhn-verified card detection: every doc carries one valid visa and
      // one check-digit-broken sibling; every third adds a valid
      // mastercard — the oracle REPLAYS the digit fold, so both engines'
      // Luhn implementations gate each other
      val id = col("doc_id")
      val text = concat(lit("invoice "), id.cast("string"),
        lit(" card 4111 1111 1111 1111 backup 4111-1111-1111-1112"),
        when(id % 3 === 0, lit(" alt 5500 0000 0000 0004")).otherwise(lit("")),
        lit(" ref "), (id * 7919).cast("string"))
      docs(s, dir).select(id.as("doc_id"),
        graft.pipeline.Pii.creditCardCount(text).cast("long").as("cards"))
    },
      Sql("""WITH t AS (
        |  SELECT doc_id,
        |         concat('invoice ', CAST(doc_id AS VARCHAR),
        |                ' card 4111 1111 1111 1111 backup 4111-1111-1111-1112',
        |                CASE WHEN doc_id % 3 = 0 THEN ' alt 5500 0000 0000 0004' ELSE '' END,
        |                ' ref ', CAST(doc_id * 7919 AS VARCHAR)) AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len([c for c in regexp_extract_all(s, '\b(?:\d[ -]?){12,18}\d\b')
        |       if len(regexp_extract_all(c, '\d')) BETWEEN 13 AND 19
        |       AND list_sum([
        |         CASE WHEN (i - 1) % 2 = 1 THEN
        |           CASE WHEN CAST(list_reverse(regexp_extract_all(c, '\d'))[i] AS INT) * 2 > 9
        |                THEN CAST(list_reverse(regexp_extract_all(c, '\d'))[i] AS INT) * 2 - 9
        |                ELSE CAST(list_reverse(regexp_extract_all(c, '\d'))[i] AS INT) * 2 END
        |         ELSE CAST(list_reverse(regexp_extract_all(c, '\d'))[i] AS INT) END
        |         for i in range(1, len(regexp_extract_all(c, '\d')) + 1)
        |       ]) % 10 = 0]) AS BIGINT) AS cards
        |FROM t""".stripMargin)),
    DriverQuery("q_pseudonymize", (s, dir) =>
      // keyed pseudonyms over a synthetic user column: deterministic,
      // joinable, and byte-identical to DuckDB's sha256 hex
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Pii.pseudonymize(
          concat(lit("user"), (col("doc_id") % 37).cast("string")), "k2024")
          .as("user_pseudo")),
      Sql("""SELECT doc_id,
        |       sha256(concat('k2024:user', CAST(doc_id % 37 AS VARCHAR))) AS user_pseudo
        |FROM documents""".stripMargin)),
    DriverQuery("q_domain_blocklist", (s, dir) => {
      // domain kill list with subdomain matching: tracker.com and all its
      // subdomains drop; example.com (and its subdomains) survive
      val host = when(col("doc_id") % 4 === 0, lit("ads.Tracker.com"))
        .when(col("doc_id") % 4 === 1, lit("tracker.com"))
        .when(col("doc_id") % 4 === 2, lit("example.com"))
        .otherwise(lit("sub.example.com"))
      val url = concat(lit("https://"), host, lit("/p"), col("doc_id").cast("string"))
      graft.pipeline.Curation.filterBlockedDomains(
          docs(s, dir).select(col("doc_id"), url.as("url")),
          col("url"), Seq("tracker.com"))
    },
      Sql("""SELECT doc_id,
        |       'https://' || CASE WHEN doc_id % 4 = 0 THEN 'ads.Tracker.com'
        |                          WHEN doc_id % 4 = 1 THEN 'tracker.com'
        |                          WHEN doc_id % 4 = 2 THEN 'example.com'
        |                          ELSE 'sub.example.com' END
        |         || '/p' || doc_id AS url
        |FROM documents
        |WHERE doc_id % 4 NOT IN (0, 1)""".stripMargin)),
    DriverQuery("q_url_canonicalize", (s, dir) => {
      // messy-but-deterministic URL per doc: uppercase scheme/host, default
      // https port, tracking params around a kept one, fragment, trailing
      // slash — canonicalization must normalize all of it (oracle computes
      // the expected canonical form directly)
      val id = col("doc_id").cast("string")
      val messy = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/Docs/Page"), id, lit("/?utm_source=feed&id="), id,
        lit("&utm_campaign=x&gclid=abc#sec"), id)
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.urlCanonicalize(messy).as("canon_url"))
    },
      // the EXPECTED canonical form computed directly: scheme/host lowered,
      // :443 gone, tracking params and fragment gone, kept param preserved,
      // trailing slash dropped
      Sql("""SELECT doc_id,
        |       'https://www.example' || (doc_id % 5) || '.com/Docs/Page' || doc_id
        |         || '?id=' || doc_id AS canon_url
        |FROM documents""".stripMargin)),
    DriverQuery("q_unicode_normalize", (s, dir) => {
      // NFC normalization of planted decomposed text: e + combining acute
      // must collapse to the composed form (DuckDB nfc_normalize oracle)
      val planted = concat(lit("cafe\u0301 nai\u0308ve "), col("text"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.normalizeUnicode(planted).as("norm"))
    },
      // nfc_normalize of the decomposed plant == Spark's NFC output
      Sql("""SELECT doc_id,
        |       nfc_normalize('cafe' || chr(769) || ' nai' || chr(776) || 've ' || text) AS norm
        |FROM documents""".stripMargin)),
    DriverQuery("q_fix_encoding", (s, dir) => {
      // planted mojibake shell: latin-1 AND cp1252 double-decode sequences,
      // raw smart punctuation, an accented-letter repair — the oracle
      // computes the expected repaired text straight from the text column
      val moji = "Don\u00E2\u0080\u0099t \u00E2\u0080\u009Cquote\u00E2\u0080\u009D " +
        "caf\u00C3\u00A9 \u00E2\u20AC\u2122ok\u00E2\u20AC\u2122 \u2014 fin\u2026 "
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.fixEncoding(concat(lit(moji), col("text"))).as("fixed"))
    },
      // the EXPECTED repaired text computed directly from the text column
      Sql("""SELECT doc_id,
        |       'Don''t "quote" café ''ok'' - fin... ' || text AS fixed
        |FROM documents""".stripMargin)),
    DriverQuery("q_text_gopher", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), graft.pipeline.Text.gopherQuality(col("text"), minWords = 20).as("g"))
        .select(col("doc_id"), col("g.word_count"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.alpha_word_ratio"), col("g.stopword_hits"), col("g.pass"))
    },
      Sql(raw"""WITH m AS (
        |  SELECT doc_id,
        |$GopherStatsSql
        |)
        |SELECT doc_id, word_count, mean_word_len,
        |       hash_ratio + ellipsis_ratio AS symbol_ratio,
        |       alpha_word_ratio, stopword_hits,
        |       (word_count >= 20 AND word_count <= 100000
        |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |        AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        |        AND alpha_word_ratio >= 0.8
        |        AND stopword_hits >= 2) AS pass
        |FROM m""".stripMargin)),
    DriverQuery("q_code_language", (s, dir) => {
      // code-corpus routing fixture (pipeline/Code.scala): extension
      // classes 0-3, extensionless + python shebang (4), unmapped extension
      // with no shebang (5); the oracle replays the CASE from the residue
      val m = col("doc_id") % 6
      val id = col("doc_id").cast("string")
      val path = concat(
        when(m === 4, lit("bin/tool")).when(m === 5, lit("data/notes"))
          .otherwise(lit("src/f")), id,
        when(m === 0, lit(".py")).when(m === 1, lit(".scala"))
          .when(m === 2, lit(".js")).when(m === 3, lit(".c"))
          .when(m === 5, lit(".xyz")).otherwise(lit("")))
      val ctext = when(m === 4,
        concat(lit("#!/usr/bin/env python\n"), col("text"))).otherwise(col("text"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Code.codeLanguage(path, ctext).as("language"))
    },
      Sql("""SELECT doc_id,
        |       CASE doc_id % 6 WHEN 0 THEN 'python' WHEN 1 THEN 'scala'
        |            WHEN 2 THEN 'javascript' WHEN 3 THEN 'c'
        |            WHEN 4 THEN 'python' ELSE 'unknown' END AS language
        |FROM documents""".stripMargin)),
    DriverQuery("q_license_detect", (s, dir) => {
      // planted license headers, one per residue class: MIT phrase, SPDX
      // Apache tag, BSD phrase, GPL phrase, SPDX GPL tag, LGPL phrase (the
      // substring-ordering trap), none — license + the permissive cut
      val lc = col("doc_id") % 7
      val header = when(lc === 0,
          lit("/* Permission is hereby granted, free of charge, to any person */\n"))
        .when(lc === 1, lit("// SPDX-License-Identifier: Apache-2.0\n"))
        .when(lc === 2,
          lit("# Redistribution and use in source and binary forms, with or without\n"))
        .when(lc === 3,
          lit("// This program is free software: see the GNU General Public License\n"))
        .when(lc === 4, lit("// SPDX-License-Identifier: GPL-3.0-only\n"))
        .when(lc === 5, lit("// GNU Lesser General Public License applies\n"))
        .otherwise(lit(""))
      docs(s, dir).select(col("doc_id"),
          graft.pipeline.Code.detectLicense(concat(header, col("text"))).as("l"))
        .select(col("doc_id"), col("l.license").as("license"),
          col("l.permissive").as("permissive"))
    },
      Sql("""SELECT doc_id,
        |       CASE doc_id % 7 WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
        |            WHEN 2 THEN 'BSD-3-Clause' WHEN 3 THEN 'GPL-3.0-only'
        |            WHEN 4 THEN 'GPL-3.0-only' WHEN 5 THEN 'LGPL-3.0-only'
        |            ELSE 'none' END AS license,
        |       (doc_id % 7) IN (0, 1, 2) AS permissive
        |FROM documents""".stripMargin)),
    DriverQuery("q_strip_comments", (s, dir) => {
      // three comment families around the sanitized doc text: the oracle
      // constructs the EXPECTED stripped source from the same parts, so a
      // state-machine bug (string safety, block spans, newline handling)
      // breaks the hash on every row of the family it touches
      val san = regexp_replace(col("text"), "[\"'\\\\#/*-]", "")
      val m = col("doc_id") % 3
      val codeTxt = when(m === 0, concat(
          lit("// header\nint n = 1; /* block\nspan */ int m = 2;\nchar* s = \""),
          san, lit(" // not\"; // tail\n// trailer")))
        .when(m === 1, concat(
          lit("# header\nx = 1  # trailing\ns = 'a # not'\nprint(s)\n"), san))
        .otherwise(concat(
          lit("-- header\nSELECT 1, /* block\ncomment */ 2 AS x\n" +
            "FROM t WHERE s = 'a -- not' -- tail\n"), san))
      val langCol = when(m === 0, lit("c")).when(m === 1, lit("python"))
        .otherwise(lit("sql"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Code.stripComments(codeTxt, langCol).as("stripped"))
    },
      // the EXPECTED stripped source, built from the same sanitized parts
      // the engine's fixture used — never by re-parsing comments in SQL
      Sql("""WITH d AS (
        |  SELECT doc_id, regexp_replace(text, '["''\\#/*-]', '', 'g') AS san
        |  FROM documents)
        |SELECT doc_id,
        |       CASE doc_id % 3
        |         WHEN 0 THEN chr(10) || 'int n = 1;  int m = 2;' || chr(10)
        |           || 'char* s = "' || san || ' // not"; ' || chr(10)
        |         WHEN 1 THEN chr(10) || 'x = 1  ' || chr(10) || 's = ''a # not'''
        |           || chr(10) || 'print(s)' || chr(10) || san
        |         ELSE chr(10) || 'SELECT 1,  2 AS x' || chr(10)
        |           || 'FROM t WHERE s = ''a -- not'' ' || chr(10) || san
        |       END AS stripped
        |FROM d""".stripMargin)),
    DriverQuery("q_code_stats", (s, dir) => {
      // line-shape quality signals over a constructed source layout:
      // optional autogen header, the doc text as one long line, its
      // 120-char prefix, and a variable-length x-run (exercises the >100
      // long-line cut); the oracle rebuilds the line list and the ratios
      val header = when(col("doc_id") % 4 === 0,
        lit("# Generated by graft tooling. Do not edit.\n")).otherwise(lit(""))
      val codeTxt = concat(header, col("text"), lit("\n"),
        substring(col("text"), 1, 120), lit("\n"),
        expr("repeat('x', CAST(doc_id % 150 AS INT))"))
      docs(s, dir).select(col("doc_id"),
          graft.pipeline.Code.codeStats(codeTxt).as("s"))
        .select(col("doc_id"), col("s.n_lines"), col("s.max_line_len"),
          col("s.mean_line_len"), col("s.frac_long_lines"),
          col("s.alnum_ratio"), col("s.autogen"))
    },
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0
        |              THEN ['# Generated by graft tooling. Do not edit.']
        |              ELSE [] END
        |           || [text, text[1:120], repeat('x', CAST(doc_id % 150 AS INT))]
        |           AS lines
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, lines,
        |         list_transform(lines, x -> length(x)) AS lens,
        |         array_to_string(lines, chr(10)) AS fulltxt
        |  FROM d)
        |SELECT doc_id,
        |       len(lines) AS n_lines,
        |       list_max(lens) AS max_line_len,
        |       CAST(list_sum(lens) AS DOUBLE) / len(lines) AS mean_line_len,
        |       CAST(len(list_filter(lens, x -> x > 100)) AS DOUBLE)
        |         / len(lines) AS frac_long_lines,
        |       CAST(length(regexp_replace(fulltxt, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
        |         / length(fulltxt) AS alnum_ratio,
        |       doc_id % 4 = 0 AS autogen
        |FROM l""".stripMargin)),
    DriverQuery("q_sft_validate", (s, dir) => {
      // conversation structural gate over the planted-variant fixture
      sftMessages(docs(s, dir), variants = true)
        .select(col("doc_id"),
          graft.pipeline.Sft.validateChat(col("messages")).as("v"))
        .select(col("doc_id"), col("v.valid"), col("v.n_turns"), col("v.reason"))
    },
      Sql("""SELECT doc_id,
        |       doc_id % 5 = 0 AS valid,
        |       CASE doc_id % 5 WHEN 1 THEN 6 WHEN 3 THEN 4 ELSE 5 END AS n_turns,
        |       CASE doc_id % 5 WHEN 0 THEN 'ok' WHEN 1 THEN 'empty_content'
        |            WHEN 2 THEN 'order' WHEN 3 THEN 'order'
        |            ELSE 'bad_role' END AS reason
        |FROM documents""".stripMargin)),
    DriverQuery("q_sft_flatten", (s, dir) => {
      // pinned chat-template flattening — the oracle rebuilds every
      // variant's flattened string from the same word slices
      sftMessages(docs(s, dir), variants = true).select(col("doc_id"),
        graft.pipeline.Sft.flattenChat(col("messages")).as("flat"))
    },
      Sql("""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  '<|system|>You are helpful.<|end|>' || chr(10) AS t0,
        |  '<|user|>' || array_to_string(ws[1:3], ' ') || '<|end|>' || chr(10) AS t1,
        |  '<|assistant|>' || array_to_string(ws[4:6], ' ') || '<|end|>' || chr(10) AS t2,
        |  '<|user|>' || array_to_string(ws[7:8], ' ') || '<|end|>' || chr(10) AS t3,
        |  '<|assistant|>' || array_to_string(ws[9:10], ' ') || '<|end|>' || chr(10) AS t4,
        |  '<|assistant|>' || array_to_string(ws[7:8], ' ') || '<|end|>' || chr(10) AS t3a,
        |  '<|tool|>' || array_to_string(ws[1:3], ' ') || '<|end|>' || chr(10) AS t1t
        |  FROM w)
        |SELECT doc_id,
        |       CASE doc_id % 5
        |         WHEN 1 THEN t0 || t1 || t2 || t3 || t4 || '<|user|><|end|>' || chr(10)
        |         WHEN 2 THEN t0 || t1 || t2 || t3a || t4
        |         WHEN 3 THEN t0 || t1 || t2 || t3
        |         WHEN 4 THEN t0 || t1t || t2 || t3 || t4
        |         ELSE t0 || t1 || t2 || t3 || t4
        |       END AS flat
        |FROM p""".stripMargin)),
    DriverQuery("q_sft_spans", (s, dir) => {
      // loss-mask spans on the BASE conversation (variant layouts are
      // spec-covered): the oracle replays the character-offset arithmetic
      // from the slice lengths — two assistant turns per doc
      sftMessages(docs(s, dir), variants = false)
        .select(col("doc_id"),
          explode(graft.pipeline.Sft.assistantSpans(col("messages"))).as("e"))
        .select(col("doc_id"), col("e.turn"), col("e.start"), col("e.end"))
    },
      // offsets: per message the template adds 2+len(role)+2 before the
      // content and 8 after ('<|end|>' + newline); the system turn spans
      // [10,26), so turn 1 starts at 42 and the arithmetic below follows
      Sql("""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  length(array_to_string(ws[1:3], ' ')) AS lu1,
        |  length(array_to_string(ws[4:6], ' ')) AS la1,
        |  length(array_to_string(ws[7:8], ' ')) AS lu2,
        |  length(array_to_string(ws[9:10], ' ')) AS la2
        |  FROM w)
        |SELECT doc_id, 2 AS turn, 63 + lu1 AS "start", 63 + lu1 + la1 AS "end"
        |FROM p
        |UNION ALL
        |SELECT doc_id, 4, 100 + lu1 + la1 + lu2, 100 + lu1 + la1 + lu2 + la2
        |FROM p""".stripMargin)),
    DriverQuery("q_text_quality", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.qualityScore(col("text")).as("q"))
    },
      Sql("""SELECT doc_id,
        |       (CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |       + (1.0 - (CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE))) AS q
        |FROM documents""".stripMargin)),
    DriverQuery("q_text_repetition", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.repetitionRatio(col("text")).as("rep"))
    },
      Sql("""SELECT doc_id,
        |       1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE)
        |             / CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS rep
        |FROM documents""".stripMargin)),
    DriverQuery("q_text_repsignals", (s, dir) => {
      // sentence-per-line framing + a planted duplicate boilerplate line so
      // the line-dup and top-ngram signals fire; oracle covers the
      // SQL-expressible subset (line fracs + top {2,3,4}-gram char fracs),
      // the coverage metrics (dup 5-10 gram) are spec-verified
      val t = concat(regexp_replace(col("text"), "\\. ", ".\n"),
        lit("\nshare this post\nshare this post"))
      docs(s, dir)
        .select(col("doc_id"), graft.pipeline.Text.repetitionSignals(t).as("r"))
        .select(col("doc_id"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.dup_line_char_frac").as("dup_line_char_frac"),
          col("r.top_2gram_char_frac").as("top_2gram_char_frac"),
          col("r.top_3gram_char_frac").as("top_3gram_char_frac"),
          col("r.top_4gram_char_frac").as("top_4gram_char_frac"))
    },
      Sql("""WITH t AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '\. ', '.' || chr(10), 'g')
        |           || chr(10) || 'share this post' || chr(10) || 'share this post' AS txt
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, unnest(string_split(txt, chr(10))) AS line FROM t
        |), lc AS (
        |  SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2
        |), lm AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |           / CAST(sum(c) AS DOUBLE) AS dup_line_frac,
        |         CASE WHEN sum(c * len(line)) = 0 THEN 0.0
        |              ELSE CAST(sum(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END) AS DOUBLE)
        |                   / CAST(sum(c * len(line)) AS DOUBLE) END AS dup_line_char_frac
        |  FROM lc GROUP BY 1
        |), w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(txt), '\s+'), x -> x <> '') AS ws
        |  FROM t
        |), wt AS (
        |  SELECT doc_id, ws, len(array_to_string(ws, '')) AS totc FROM w
        |), pos AS (
        |  SELECT doc_id, n, totc, ws,
        |         unnest(range(1, greatest(len(ws) - n + 2, 1))) AS i
        |  FROM wt CROSS JOIN (VALUES (2), (3), (4)) AS ns(n)
        |), grams AS (
        |  SELECT doc_id, n, totc,
        |         array_to_string(ws[i:i+n-1], ' ') AS g,
        |         len(array_to_string(ws[i:i+n-1], '')) AS gl
        |  FROM pos
        |), gc AS (
        |  SELECT doc_id, n, totc, g, gl, count(*) AS c FROM grams GROUP BY 1, 2, 3, 4, 5
        |), ranked AS (
        |  SELECT doc_id, n,
        |         CAST(c AS DOUBLE) * CAST(gl AS DOUBLE) / CAST(totc AS DOUBLE) AS frac,
        |         row_number() OVER (PARTITION BY doc_id, n
        |                            ORDER BY c DESC, gl DESC, g ASC) AS rn
        |  FROM gc
        |), tg AS (
        |  SELECT doc_id,
        |         max(CASE WHEN n = 2 THEN frac END) AS t2,
        |         max(CASE WHEN n = 3 THEN frac END) AS t3,
        |         max(CASE WHEN n = 4 THEN frac END) AS t4
        |  FROM ranked WHERE rn = 1 GROUP BY 1
        |)
        |SELECT lm.doc_id, dup_line_frac, dup_line_char_frac,
        |       coalesce(t2, 0.0) AS top_2gram_char_frac,
        |       coalesce(t3, 0.0) AS top_3gram_char_frac,
        |       coalesce(t4, 0.0) AS top_4gram_char_frac
        |FROM lm LEFT JOIN tg ON lm.doc_id = tg.doc_id""".stripMargin)),
    DriverQuery("q_text_clean", (s, dir) => {
      // plant control chars, tab runs, ragged spacing and blank-line floods;
      // cleaning must normalize all of it (oracle replicates byte-for-byte)
      val messy = concat(lit("  \u0007head\t\t"), col("text"),
        lit("   \nline  \n\n\n\ntail  "))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.cleanText(messy).as("clean"))
    },
      Sql("""SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         '  ' || chr(7) || 'head' || chr(9) || chr(9) || text
        |           || '   ' || chr(10) || 'line  ' || repeat(chr(10), 4) || 'tail  ',
        |         '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |         '[ \t]+', ' ', 'g'),
        |         ' *\n *', chr(10), 'g'),
        |         '\n{3,}', chr(10) || chr(10), 'g'),
        |         '^\s+|\s+$', '', 'g') AS clean
        |FROM documents""".stripMargin)),
    DriverQuery("q_html_extract", (s, dir) => {
      // wrap every document in a planted crawl-page shell: head with a
      // script (containing decoy markup) + style, a comment, an all-link nav
      // div and footer (boilerplate the 0.5 link-density cut must drop), and
      // entity-encoded punctuation. The oracle computes the EXPECTED visible
      // text directly from the raw text column, so a state-machine bug
      // anywhere (raw-text skip, entity decode, block boundaries, link
      // density) breaks the hash match on all 500 docs.
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><script type=\"text/javascript\">var s = \"<p>not text</p>\";</script>" +
          "<style>.x{color:red}</style></head><body><!-- boilerplate -->" +
          "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/more\">More</a></div><h1>Doc "), id,
        lit("</h1><p>"), col("text"),
        lit("</p><p>Tom &amp; Jerry &lt;3 &#65;&#x42;C</p>" +
          "<div class=\"footer\"><a href=\"/about\">About</a></div></body></html>"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.extractHtml(html, maxLinkDensity = 0.5).as("extracted"))
    },
      // the EXPECTED extraction, computed from the raw text column: title and
      // h1 blocks, the document body, the entity-decoded paragraph; the
      // all-link nav/footer blocks are dropped by the 0.5 link-density cut
      Sql("""SELECT doc_id,
        |       'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10)
        |         || text || chr(10) || 'Tom & Jerry <3 ABC' AS extracted
        |FROM documents""".stripMargin)),
    DriverQuery("q_text_langid", (s, dir) => {
      // breadth corpus built deterministically in SQL (so DuckDB rebuilds it
      // byte-identically): every 20th-residue class swaps in a snippet of a
      // different language/script; ELSE rows keep the English-ish doc text.
      // lang_guess stays the pinned 4-language langId over the ORIGINAL text.
      val m = col("doc_id") % 20
      val txt = when(m === 0, lit("这是一个中文的测试文本内容"))
        .when(m === 1, lit("これはテスト用の日本語の文章です"))
        .when(m === 2, lit("이것은 한국어 테스트 문장입니다"))
        .when(m === 3, lit("это тестовый текст на русском языке"))
        .when(m === 4, lit("هذا نص تجريبي باللغة العربية"))
        .when(m === 5, lit("यह हिंदी में परीक्षण पाठ है"))
        .when(m === 6, lit("αυτό είναι ένα ελληνικό κείμενο"))
        .when(m === 7, lit("זהו טקסט בדיקה בעברית"))
        .when(m === 8, lit("นี่คือข้อความทดสอบภาษาไทย"))
        .when(m === 9, lit("uma frase para testar com mais palavras"))
        .when(m === 10, lit("di prova che serve il testo per noi"))
        .when(m === 11, lit("het is een tekst voor niet veel"))
        .when(m === 12, lit("to jest nie tekst w probie"))
        .when(m === 13, lit("och att det som en test"))
        .when(m === 14, lit("bir ve bu metin ile deneme"))
        .when(m === 15, lit("este cu din pentru un test"))
        .when(m === 16, lit("yang dan untuk ini teks uji"))
        .when(m === 17, lit("der die das und ein test"))
        .when(m === 18, lit("le les et est un texte"))
        .otherwise(col("text"))
      docs(s, dir).select(col("doc_id"),
          graft.pipeline.Text.langId(col("text")).as("lang_guess"),
          graft.pipeline.Text.langIdFull(txt).as("graft_lid"))
        .select(col("doc_id"), col("lang_guess"),
          col("graft_lid.lang").as("lang"),
          col("graft_lid.script").as("script"),
          col("graft_lid.confidence").as("confidence"))
    },
      Sql("""WITH c AS (
        |  SELECT doc_id, text,
        |         CASE doc_id % 20
        |           WHEN 0 THEN '这是一个中文的测试文本内容'
        |           WHEN 1 THEN 'これはテスト用の日本語の文章です'
        |           WHEN 2 THEN '이것은 한국어 테스트 문장입니다'
        |           WHEN 3 THEN 'это тестовый текст на русском языке'
        |           WHEN 4 THEN 'هذا نص تجريبي باللغة العربية'
        |           WHEN 5 THEN 'यह हिंदी में परीक्षण पाठ है'
        |           WHEN 6 THEN 'αυτό είναι ένα ελληνικό κείμενο'
        |           WHEN 7 THEN 'זהו טקסט בדיקה בעברית'
        |           WHEN 8 THEN 'นี่คือข้อความทดสอบภาษาไทย'
        |           WHEN 9 THEN 'uma frase para testar com mais palavras'
        |           WHEN 10 THEN 'di prova che serve il testo per noi'
        |           WHEN 11 THEN 'het is een tekst voor niet veel'
        |           WHEN 12 THEN 'to jest nie tekst w probie'
        |           WHEN 13 THEN 'och att det som en test'
        |           WHEN 14 THEN 'bir ve bu metin ile deneme'
        |           WHEN 15 THEN 'este cu din pentru un test'
        |           WHEN 16 THEN 'yang dan untuk ini teks uji'
        |           WHEN 17 THEN 'der die das und ein test'
        |           WHEN 18 THEN 'le les et est un texte'
        |           ELSE text END AS txt
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS g_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und)\b')) AS g_de,
        |    len(regexp_extract_all(lower(text), '\b(el|la|los|que)\b')) AS g_es,
        |    len(regexp_extract_all(lower(text), '\b(le|les|et|est)\b')) AS g_fr,
        |    len(regexp_extract_all(txt, '[A-Za-zÀ-ÖØ-öø-ÿĀ-ɏ]')) AS s_latin,
        |    len(regexp_extract_all(txt, '[\x{4E00}-\x{9FFF}]')) AS s_han,
        |    len(regexp_extract_all(txt, '[\x{3040}-\x{309F}]')) AS s_hira,
        |    len(regexp_extract_all(txt, '[\x{30A0}-\x{30FF}]')) AS s_kata,
        |    len(regexp_extract_all(txt, '[\x{AC00}-\x{D7A3}]')) AS s_hang,
        |    len(regexp_extract_all(txt, '[\x{0400}-\x{04FF}]')) AS s_cyr,
        |    len(regexp_extract_all(txt, '[\x{0600}-\x{06FF}]')) AS s_arab,
        |    len(regexp_extract_all(txt, '[\x{0900}-\x{097F}]')) AS s_deva,
        |    len(regexp_extract_all(txt, '[\x{0370}-\x{03FF}]')) AS s_greek,
        |    len(regexp_extract_all(txt, '[\x{0590}-\x{05FF}]')) AS s_heb,
        |    len(regexp_extract_all(txt, '[\x{0E00}-\x{0E7F}]')) AS s_thai,
        |    len(regexp_extract_all(lower(txt), '\b(the|and|of|is)\b')) AS h_en,
        |    len(regexp_extract_all(lower(txt), '\b(der|die|das|und)\b')) AS h_de,
        |    len(regexp_extract_all(lower(txt), '\b(el|la|los|que)\b')) AS h_es,
        |    len(regexp_extract_all(lower(txt), '\b(le|les|et|est)\b')) AS h_fr,
        |    len(regexp_extract_all(lower(txt), '\b(uma|para|com|mais)\b')) AS h_pt,
        |    len(regexp_extract_all(lower(txt), '\b(di|che|il|per)\b')) AS h_it,
        |    len(regexp_extract_all(lower(txt), '\b(het|een|voor|niet)\b')) AS h_nl,
        |    len(regexp_extract_all(lower(txt), '\b(jest|nie|to|w)\b')) AS h_pl,
        |    len(regexp_extract_all(lower(txt), '\b(och|att|som|det)\b')) AS h_sv,
        |    len(regexp_extract_all(lower(txt), '\b(bir|ve|bu|ile)\b')) AS h_tr,
        |    len(regexp_extract_all(lower(txt), '\b(cu|din|este|pentru)\b')) AS h_ro,
        |    len(regexp_extract_all(lower(txt), '\b(yang|dan|untuk|ini)\b')) AS h_id
        |  FROM c
        |), agg AS (
        |  SELECT *,
        |    s_latin+s_han+s_hira+s_kata+s_hang+s_cyr+s_arab+s_deva+s_greek+s_heb+s_thai AS s_total,
        |    greatest(s_latin,s_han,s_hira,s_kata,s_hang,s_cyr,s_arab,s_deva,s_greek,s_heb,s_thai) AS s_best,
        |    h_en+h_de+h_es+h_fr+h_pt+h_it+h_nl+h_pl+h_sv+h_tr+h_ro+h_id AS h_total,
        |    greatest(h_en,h_de,h_es,h_fr,h_pt,h_it,h_nl,h_pl,h_sv,h_tr,h_ro,h_id) AS h_best
        |  FROM sc
        |), scr AS (
        |  SELECT *,
        |    CASE WHEN s_total = 0 THEN 'none'
        |         WHEN s_latin = s_best THEN 'latin'
        |         WHEN s_han = s_best THEN 'han'
        |         WHEN s_hira = s_best THEN 'hiragana'
        |         WHEN s_kata = s_best THEN 'katakana'
        |         WHEN s_hang = s_best THEN 'hangul'
        |         WHEN s_cyr = s_best THEN 'cyrillic'
        |         WHEN s_arab = s_best THEN 'arabic'
        |         WHEN s_deva = s_best THEN 'devanagari'
        |         WHEN s_greek = s_best THEN 'greek'
        |         WHEN s_heb = s_best THEN 'hebrew'
        |         ELSE 'thai' END AS script
        |  FROM agg
        |)
        |SELECT doc_id,
        |  CASE WHEN g_en > 0 AND g_en >= g_de AND g_en >= g_es AND g_en >= g_fr THEN 'en'
        |       WHEN g_de > 0 AND g_de >= g_es AND g_de >= g_fr THEN 'de'
        |       WHEN g_es > 0 AND g_es >= g_fr THEN 'es'
        |       WHEN g_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess,
        |  CASE WHEN script = 'none' THEN 'und'
        |       WHEN script = 'latin' THEN
        |         CASE WHEN h_total = 0 THEN 'und'
        |              WHEN h_en = h_best THEN 'en' WHEN h_de = h_best THEN 'de'
        |              WHEN h_es = h_best THEN 'es' WHEN h_fr = h_best THEN 'fr'
        |              WHEN h_pt = h_best THEN 'pt' WHEN h_it = h_best THEN 'it'
        |              WHEN h_nl = h_best THEN 'nl' WHEN h_pl = h_best THEN 'pl'
        |              WHEN h_sv = h_best THEN 'sv' WHEN h_tr = h_best THEN 'tr'
        |              WHEN h_ro = h_best THEN 'ro' ELSE 'id' END
        |       WHEN script = 'han' AND s_hira + s_kata > 0 THEN 'ja'
        |       WHEN script = 'han' THEN 'zh'
        |       WHEN script IN ('hiragana','katakana') THEN 'ja'
        |       WHEN script = 'hangul' THEN 'ko'
        |       WHEN script = 'cyrillic' THEN 'ru'
        |       WHEN script = 'arabic' THEN 'ar'
        |       WHEN script = 'devanagari' THEN 'hi'
        |       WHEN script = 'greek' THEN 'el'
        |       WHEN script = 'hebrew' THEN 'he'
        |       ELSE 'th' END AS lang,
        |  script,
        |  CASE WHEN s_total = 0 THEN 0.0
        |       WHEN script = 'latin' THEN
        |         CASE WHEN h_total = 0 THEN 0.0
        |              ELSE CAST(h_best AS DOUBLE) / h_total END
        |       ELSE CAST(s_best AS DOUBLE) / s_total END AS confidence
        |FROM scr""".stripMargin)),
    DriverQuery("q_text_fingerprint", (s, dir) => {
      // winnowing fingerprints, VALUE-exact: the oracle replays the FNV-1a
      // 64-bit rolling hash in DuckDB (HUGEINT mod-2^64 arithmetic, xor on
      // the low 16 bits, signed window minima) — every selected hash must
      // agree bit-for-bit, not just the count
      docs(s, dir).select(col("doc_id"),
        explode(graft.pipeline.Text.fingerprint(col("text"))).as("fp"))
    },
      // winnowing replayed exactly: FNV-1a 64-bit over each lowercased
      // 9-gram (wrap-around multiply = HUGEINT mod 2^64; the xor touches
      // only the low 16 bits for BMP chars), SIGNED window-of-4 minima,
      // distinct — unnested to one row per selected hash
      Sql("""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    [ CAST(list_reduce(
        |        list_prepend(CAST('14695981039346656037' AS HUGEINT), range(i, i + 9)),
        |        (acc, j) -> ((acc - (acc % 65536) +
        |                      xor(CAST(acc % 65536 AS BIGINT),
        |                          unicode(substr(s, CAST(j AS BIGINT), 1))))
        |                     * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
        |        AS HUGEINT)
        |      for i in range(1, greatest(len(s) - 8, 0) + 1) ] AS hs
        |  FROM t
        |),
        |sh AS (
        |  SELECT doc_id,
        |    [ CAST(CASE WHEN x >= CAST('9223372036854775808' AS HUGEINT)
        |                THEN x - CAST('18446744073709551616' AS HUGEINT) ELSE x END AS BIGINT)
        |      for x in hs ] AS hsig
        |  FROM h
        |),
        |mins AS (
        |  SELECT doc_id,
        |    [ list_min(hsig[i : least(i + 3, len(hsig))])
        |      for i in range(1, greatest(len(hsig) - 4, 0) + 2) ] AS mn
        |  FROM sh
        |)
        |SELECT doc_id, unnest(list_distinct(mn)) AS fp FROM mins""".stripMargin)))
}
