package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries of the retrieval family: BM25 and positional indexes,
 * search, snippets and rank fusion. */
object RetrievalQueries {

  /** The query documents `ids` as `qid` with their lowercased word tokens
   * `graft_ts`. */
  private def queryTokens(s: SparkSession, dir: String, ids: Long*): DataFrame =
    docs(s, dir).where(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("qid"),
        filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= lit("")).as("graft_ts"))

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_hybrid_rrf", (s, dir) => {
      // hybrid retrieval: BM25 text relevance fused with the PageRank
      // static quality prior by reciprocal-rank fusion — ranks only, so
      // the incomparable score scales never need calibrating; fixed-point
      // contributions keep the fused score oracle-exact
      val bm = graft.pipeline.Curation.bm25(
        docs(s, dir), col("doc_id"), col("text"), Seq("join", "vector", "stream"))
      val listA = graft.pipeline.Retrieval.rrfRank(
        bm.withColumn("query_id", lit(0L)), col("query_id"), col("id"), col("bm25"))
      val listB = graft.pipeline.Retrieval.rrfRank(
        docRanks(s, dir).withColumn("query_id", lit(0L)),
        col("query_id"), col("id"), col("rank_fp"))
      graft.pipeline.Retrieval.rrfFuse(Seq(listA, listB))
        .select(col("id"), col("rrf_fp"), col("n_lists"))
        .orderBy(col("rrf_fp").desc, col("id").asc).limit(50)
    },
      // BM25 list + PageRank static-prior list fused by reciprocal rank:
      // ranks via row_number with id tie-breaks, contributions in integer
      // fixed-point, so the fused score is bit-exact across engines
      Sql(raw"""$DocRanksSql,
        |base AS (
        |$HybridTermStatsSql
        |), bm AS (
        |  SELECT id,
        |       round(
        |         ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS bm25
        |  FROM tf, stats
        |),
        |ra AS (SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS rnk FROM bm),
        |rb AS (SELECT id, row_number() OVER (ORDER BY rank_fp DESC, id) AS rnk FROM r3),
        |f AS (
        |  SELECT id, 1000000000000 // (60 + rnk) AS c FROM ra
        |  UNION ALL SELECT id, 1000000000000 // (60 + rnk) FROM rb
        |)
        |SELECT id, CAST(sum(c) AS BIGINT) AS rrf_fp, count(*) AS n_lists
        |FROM f GROUP BY id ORDER BY rrf_fp DESC, id LIMIT 50""".stripMargin)),
    DriverQuery("q_best_snippet", (s, dir) => {
      // snippet selection: 3 spread query terms (tokens 1/5/9), window 8 —
      // the oracle enumerates candidate starts and replays the
      // (max matched, min start) argmax per (query, doc)
      val idx = posIndexFor(s, dir)
      val queries = queryTokens(s, dir, 5L, 23L)
        .where(size(col("graft_ts")) >= 9)
        .select(col("qid"), concat_ws(" ",
          element_at(col("graft_ts"), 1), element_at(col("graft_ts"), 5),
          element_at(col("graft_ts"), 9)).as("t"))
      graft.pipeline.Retrieval.bestSnippets(s, idx, queries, "qid", "t", window = 8)
    },
      Sql("""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     t -> t != '') AS ws
        |  FROM documents
        |), q AS (
        |  SELECT doc_id AS query_id,
        |         list_distinct([ws[1], ws[5], ws[9]]) AS ts
        |  FROM w WHERE doc_id IN (5, 23) AND len(ws) >= 9
        |), m AS (
        |  SELECT q.query_id, d.doc_id AS id, q.ts,
        |         [[i - 1 for i in range(1, len(d.ws) + 1) if d.ws[i] = t]
        |          for t in q.ts] AS pls
        |  FROM q, w d
        |), nz AS (
        |  SELECT query_id, id, ts,
        |         [pl for pl in pls if len(pl) > 0] AS pls
        |  FROM m WHERE len(flatten(pls)) > 0
        |), sc AS (
        |  SELECT query_id, id, s,
        |         len([pl for pl in pls
        |              if len([p for p in pl if p >= s and p < s + 8]) > 0]) AS mt
        |  FROM (SELECT query_id, id, pls, unnest(list_distinct(flatten(pls))) AS s
        |        FROM nz)
        |)
        |SELECT query_id, id, CAST(s AS INT) AS snippet_start,
        |       CAST(mt AS INT) AS matched_terms
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id, id
        |                                   ORDER BY mt DESC, s) AS rn FROM sc)
        |WHERE rn = 1""".stripMargin)),
    DriverQuery("q_prefix_search", (s, dir) => {
      // trailing-wildcard search ("spark*") with the StartsWith predicate
      // pushed into the sorted postings scan; oracle rescans raw tokens
      graft.pipeline.Retrieval.prefixSearch(s, posIndexFor(s, dir), "spar")
    },
      Sql("""WITH t AS (
        |  SELECT doc_id AS id,
        |         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                            t -> t != '')) AS term
        |  FROM documents
        |)
        |SELECT id, count(DISTINCT term) AS matched_terms,
        |       count(*) AS occurrences
        |FROM t WHERE term LIKE 'spar%' GROUP BY 1""".stripMargin)),
    DriverQuery("q_spell_correct", (s, dir) => {
      // did-you-mean over the index's own vocabulary: one insertion typo
      // and one deletion typo per query doc; DuckDB brute-forces
      // levenshtein over the whole vocabulary with the same df ranking
      val idx = posIndexFor(s, dir)
      val queries = queryTokens(s, dir, 5L, 23L)
        .where(size(col("graft_ts")) >= 3)
        .select(col("qid"), concat_ws(" ",
          concat(element_at(col("graft_ts"), 1), lit("q")),
          expr("substr(element_at(graft_ts, 3), 2)")).as("t"))
      graft.pipeline.Retrieval.spellCorrections(s, idx, queries, "qid", "t")
    },
      Sql("""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     t -> t != '') AS ws
        |  FROM documents
        |), vocab AS (
        |  SELECT t AS term, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(ws)) AS t FROM w) GROUP BY 1
        |), q AS (
        |  SELECT doc_id AS query_id, unnest([ws[1] || 'q', ws[3][2:]]) AS term
        |  FROM w WHERE doc_id IN (5, 23) AND len(ws) >= 3
        |), oov AS (
        |  SELECT DISTINCT q.query_id, q.term FROM q
        |  WHERE q.term NOT IN (SELECT term FROM vocab)
        |)
        |SELECT query_id, term, suggestion, suggestion_df, rank FROM (
        |  SELECT o.query_id, o.term, v.term AS suggestion,
        |         CAST(v.df AS BIGINT) AS suggestion_df,
        |         CAST(row_number() OVER (PARTITION BY o.query_id, o.term
        |           ORDER BY v.df DESC, v.term) AS INT) AS rank
        |  FROM oov o JOIN vocab v ON levenshtein(o.term, v.term) <= 1
        |) WHERE rank <= 3""".stripMargin)),
    DriverQuery("q_phrase_search", (s, dir) => {
      // exact-phrase retrieval over the positional index: queries are the
      // first 3 tokens of docs 3/17/29; the oracle scans every doc's token
      // array for verbatim adjacency, overlaps included
      val idx = posIndexFor(s, dir)
      val queries = queryTokens(s, dir, 3L, 17L, 29L)
        .where(size(col("graft_ts")) >= 3)
        .select(col("qid"), concat_ws(" ", slice(col("graft_ts"), 1, 3)).as("p"))
      graft.pipeline.Retrieval.phraseSearch(s, idx, queries, "qid", "p")
    },
      Sql("""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     t -> t != '') AS w
        |  FROM documents
        |), q AS (
        |  SELECT doc_id AS query_id, w[1:3] AS p FROM w
        |  WHERE doc_id IN (3, 17, 29) AND len(w) >= 3
        |), m AS (
        |  SELECT q.query_id, w.doc_id AS id,
        |         CAST(len([i for i in range(1, len(w.w) - 1)
        |                   if w.w[i:i+2] = q.p]) AS INT) AS occurrences
        |  FROM q, w
        |)
        |SELECT query_id, id, occurrences FROM m WHERE occurrences > 0""".stripMargin)),
    DriverQuery("q_proximity_search", (s, dir) => {
      // NEAR/slop retrieval: each query pairs a doc's 1st and 5th token,
      // slop 8 around the anchor; the oracle enumerates both terms'
      // positions per doc and counts witnessing anchors
      val idx = posIndexFor(s, dir)
      val queries = queryTokens(s, dir, 5L, 23L)
        .where(size(col("graft_ts")) >= 5)
        .select(col("qid"),
          concat_ws(" ", element_at(col("graft_ts"), 1),
            element_at(col("graft_ts"), 5)).as("p"))
      graft.pipeline.Retrieval.proximitySearch(s, idx, queries, "qid", "p", slop = 8)
    },
      Sql("""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     t -> t != '') AS w
        |  FROM documents
        |), q AS (
        |  SELECT doc_id AS query_id, w[1] AS t0, w[5] AS t1 FROM w
        |  WHERE doc_id IN (5, 23) AND len(w) >= 5
        |), m AS (
        |  SELECT q.query_id, d.doc_id AS id, q.t0, q.t1,
        |         [i for i in range(1, len(d.w) + 1) if d.w[i] = q.t0] AS ps0,
        |         [j for j in range(1, len(d.w) + 1) if d.w[j] = q.t1] AS ps1
        |  FROM q, w d
        |), c AS (
        |  SELECT query_id, id,
        |         CAST(CASE WHEN t0 = t1 THEN len(ps0)
        |              ELSE len([p0 for p0 in ps0
        |                        if len([pj for pj in ps1
        |                                if abs(pj - p0) <= 8]) > 0]) END AS INT)
        |           AS anchors
        |  FROM m
        |)
        |SELECT query_id, id, anchors FROM c WHERE anchors > 0""".stripMargin)),
    DriverQuery("q_bm25", (s, dir) => {
      // BM25 relevance vs a fixed query-term list; one corpus-stats row
      // broadcast back, scoring pass is narrow
      graft.pipeline.Curation.bm25(
        docs(s, dir), col("doc_id"), col("text"), Seq("join", "vector", "stream"))
    },
      Sql(raw"""WITH base AS (
        |$HybridTermStatsSql
        |)
        |SELECT id,
        |       round(
        |         ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS bm25
        |FROM tf, stats""".stripMargin)),
    DriverQuery("q_bm25_index_build", (s, dir) => {
      // the once-per-corpus inverted-index build cost measured on its own
      // (the q_ann_ivfpq_build pattern): a FRESH build every call, so the
      // bench times tokenize + postings aggregate + skew-salted write; the
      // dfs table is the deterministic, oracle-checkable build artifact
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q_bm25_b").toString
      graft.pipeline.Retrieval.buildIndex(d, "doc_id", "text", path)
      s.read.parquet(s"$path/dfs")
    },
      Sql("""WITH base AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |)
        |SELECT term, CAST(count(*) AS BIGINT) AS df
        |FROM (SELECT DISTINCT id, unnest(toks) AS term FROM base)
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_bm25_search", (s, dir) => {
      // steady-state batch retrieval against the PREBUILT per-process index
      // (built once per (process, sf dir) — a production search tier never
      // rebuilds per query batch): every 50th doc as a query, top-5 by
      // fixed-point BM25, rank ties by id. Index layout + pruning are
      // RetrievalSpec's job; values + ranks hash-match the DuckDB
      // replication.
      val d = docs(s, dir)
      val queries = d.where(col("doc_id") % 50 === 0)
      graft.pipeline.Retrieval.searchTopK(
        s, bm25IndexFor(s, dir), queries, "doc_id", "text", k = 5)
    },
      Sql(raw"""$Bm25IndexSql
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs WHERE id % 50 = 0
        |$Bm25RankSql""".stripMargin)),
    DriverQuery("q_bm25_search_steady", (s, dir) => {
      // the production search-tier shape: a FIXED 100-query batch (ids
      // 0,5,...,495 — corpus-size-INDEPENDENT, unlike q_bm25_search's
      // every-50th slice that grows with the corpus) against the prebuilt
      // index, so the gated time scales linearly in corpus size per query
      // — the steady-state QPS regime a perf regression would actually hit
      val d = docs(s, dir)
      val queries = d.where(col("doc_id") % 5 === 0 && col("doc_id") < 500)
      graft.pipeline.Retrieval.searchTopK(
        s, bm25IndexFor(s, dir), queries, "doc_id", "text", k = 5)
    },
      // identical BM25 math as q_bm25_search on the FIXED 100-query batch
      Sql(raw"""$Bm25IndexSql
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs
        |  WHERE id % 5 = 0 AND id < 500
        |$Bm25RankSql""".stripMargin)),
    DriverQuery("q_bm25_append", (s, dir) => {
      // incremental ingest for the retrieval tier: base index over the even
      // half (built once per process), the odd half arrives as an append
      // batch — O(batch) staged-then-committed, so reps after the first
      // exercise the idempotent-retry no-op path. append==rebuild equality
      // (RetrievalSpec) makes the oracle the same whole-corpus BM25 math
      // as q_bm25_search, on a different query slice.
      val d = docs(s, dir)
      // half-corpus base index (the other half appends)
      val path = fixtureDir("bm25_app", dir) {
        graft.pipeline.Retrieval.buildIndex(d.where(col("doc_id") % 2 === 0), "doc_id", "text", _)
      }
      graft.pipeline.Retrieval.appendToIndex(
        d.where(col("doc_id") % 2 =!= 0), "doc_id", "text", path)
      graft.pipeline.Retrieval.searchTopK(
        s, path, d.where(col("doc_id") % 70 === 0), "doc_id", "text", k = 5)
    },
      // identical whole-corpus BM25 math as q_bm25_search (append==rebuild is
      // the property under test), on the % 70 query slice
      Sql(raw"""$Bm25IndexSql
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs WHERE id % 70 = 0
        |$Bm25RankSql""".stripMargin)),
    DriverQuery("q_top_ngrams", (s, dir) => {
      // corpus boilerplate report: top-100 trigrams by doc frequency,
      // deterministic (count desc, ngram asc) — distributed top-k shape
      graft.pipeline.Curation.topNgrams(docs(s, dir), col("text"), n = 3, k = 100)
    },
      Sql("""WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+2], ' ') for i in range(1, greatest(len(ws) - 2, 1) + 1)])) AS ngram
        |  FROM w
        |)
        |SELECT ngram, COUNT(*) AS doc_freq
        |FROM sh GROUP BY ngram
        |ORDER BY doc_freq DESC, ngram ASC
        |LIMIT 100""".stripMargin)),
    DriverQuery("q_tfidf", (s, dir) => {
      // per-doc top-5 tf-idf keywords (6-dp rounded scores, term-asc ties)
      val (kw, releaseTf) = graft.pipeline.Curation.tfidfKeywordsHandle(
        docs(s, dir), col("doc_id"), col("text"), topK = 5)
      val out = kw.withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release
      releaseTf()
      out
    },
      Sql("""WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(ws) AS w FROM w
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2
        |), dfq AS (
        |  SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) >= 2
        |), n AS (
        |  SELECT count(*) AS n FROM w
        |), s AS (
        |  SELECT doc_id, w AS term,
        |         round(CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dfq USING (w) CROSS JOIN n
        |)
        |SELECT doc_id, term, score,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        |FROM s
        |QUALIFY rank <= 5""".stripMargin)))
}
