package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries of the pipeline/wds/ingest family: the composed chain,
 * sampling, packing, shards and the source readers. */
object PipelineQueries {

  /** The chain's funnel, once its run has quarantined exactly the 4
   * planted raw regions. */
  private def funnelOf(res: graft.pipeline.BatchConfig.BatchResult): DataFrame = {
    require(res.quarantined == 4,
      s"expected exactly 4 quarantined raw regions, got ${res.quarantined}")
    res.funnel
  }

  /** Writes the documents as 8 WebDataset shards in a new temp dir named
   * after `tmp`, reads them back, and reports per shard the docs, the
   * token mass and an order-independent hash of the re-ingested key and
   * text. */
  private def wdsRoundTrip(s: SparkSession, dir: String, tmp: String,
      compress: Boolean): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory(tmp).toString
    graft.sources.Wds.write(
      docs(s, dir).select(col("doc_id"), col("text")),
      col("doc_id"), col("text"),
      graft.pipeline.Text.tokenCount(col("text")), path, 8, compress = compress)
    val (rows, bad) = graft.sources.Wds.read(s, path)
    require(bad.isEmpty, "re-ingest quarantined a written shard")
    rows.groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"),
        sum(graft.pipeline.Text.tokenCount(col("text"))).as("tokens"),
        sum(conv(substring(md5(concat(col("key"), col("text"))
          .cast("binary")), 1, 8), 16, 10).cast("long")).as("member_hash"))
  }

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_pipeline_batch", (s, dir) => {
      // the COMPOSED batch pipeline, hash-gated at COMPOSITION scope:
      // run the production chain — WARC/JSONL
      // quarantining front doors → extract/repair/canonicalize → three
      // dedup tiers → token/langid/gopher/PII gates → decontamination →
      // sample → shards — as the exact config twin BatchPipeline.run
      // executes, and return the whole-chain token-weighted retention
      // funnel (the written parquet, read back). Every
      // planted fixture (%37 URL variants, %41 mirrors, %43 near-copies,
      // %53 PII, %97 benchmark leaks) has a closed-form expected drop, so
      // the oracle replays the ENTIRE funnel in SQL: extraction closed
      // form + all-pairs shingle Jaccard for the near tier + the
      // langid/gopher/pii/decontamination gate replicas. The quarantine
      // count is require-pinned here (quarantined raw regions never reach
      // the funnel frame, so the funnel can't see them). Fixture staging
      // is cached per JVM — the reps re-run the pipeline, not the writer.
      val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_q_pipe").toString
      val res = BatchPipeline.configTwin(dir, warcDir, jsonlDir).run(s, work)
      funnelOf(res)
    },
      Sql(PipelineFunnelOracleSql)),
    DriverQuery("q_pipeline_yaml", (s, dir) => {
      // the composed pipeline's YAML face, hash-gated per round: the
      // chain's config twin (BatchPipeline.configTwin) rendered to YAML,
      // parsed back and run through BatchConfig.run; the oracle is the
      // SAME whole-funnel replay as q_pipeline_batch, so a field the YAML
      // round trip loses or mangles trips the per-round gate.
      // Funnel-only face: sampling/shard legs are covered by
      // q_pipeline_batch and the specs.
      val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, dir)
      val spec = BatchPipeline.configTwin(dir, warcDir, jsonlDir)
        .copy(sample = None, shards = None)
      val parsed = graft.pipeline.BatchConfig.fromYaml(spec.toYaml)
      val work = java.nio.file.Files.createTempDirectory("graft_q_pyaml").toString
      val res = parsed.run(s, work)
      funnelOf(res)
    },
      // q_pipeline_yaml replays the CONFIG execution of the same chain —
      // identical funnel contract, identical oracle
      Sql(PipelineFunnelOracleSql)),
    DriverQuery("q_pipeline_redact", (s, dir) => {
      // the composed chain under the REDACT-AND-KEEP PII policy,
      // exercised through the CONFIG path: the pii
      // stanza keeps every row, scrubs the spans in place, re-derives tok
      // from the scrubbed text, and the STAGED funnel charges the
      // scrubbed-away token mass to the pii stage (raw weight through
      // pii, redacted weight after — conservation is part of the oracle).
      // Decontamination sees the scrubbed text, so the %53∩%97 docs still
      // leak-gate on their bodies. BatchPipeline.run under the same
      // policy is spec-pinned to the same funnel (BatchPipelineSpec).
      val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, dir)
      val spec = BatchPipeline.configTwin(dir, warcDir, jsonlDir,
          piiPolicy = "redact")
        .copy(sample = None, shards = None)
      val parsed = graft.pipeline.BatchConfig.fromYaml(spec.toYaml)
      val work = java.nio.file.Files.createTempDirectory("graft_q_predact").toString
      val res = parsed.run(s, work)
      funnelOf(res)
    },
      // q_pipeline_redact replays the chain under the redact-and-keep PII
      // policy: rows survive the pii stage with scrubbed text; the staged
      // funnel charges the scrubbed token mass to pii and re-weights the
      // decontamination stage with the redacted counts
      Sql(PipelineRedactOracleSql)),
    DriverQuery("q_pipeline_mixture", (s, dir) => {
      // the mix: stanza end-to-end through the CONFIG path:
      // documents as a jsonl front door, a token gate, then the
      // "2.5 epochs wiki + 0.375 crawl" pretraining mixture ahead of the
      // export. The whole-funnel oracle replays the gate AND the
      // content-addressed fractional keep rule (the id expr is doc_id
      // itself, so DuckDB hashes the same decimal strings) and checks
      // the mix row charges oversampled copies as GAINED mass (negative
      // dropped) with conservation intact. Funnel-only face: the shard
      // leg of a mixed config is pinned bit-identical to the hand-coded
      // mixCorpora chain by BatchConfigSpec.
      import graft.pipeline.BatchConfig
      val srcDir = mixtureJsonlOnce(s, dir)
      val spec = BatchConfig.BatchSpec(
        version = 1, name = "mixture_batch",
        sources = Seq(BatchConfig.Source("jsonl", srcDir,
          schemaDdl = Some("doc_id BIGINT, text STRING"))),
        idName = "did", idExpr = "doc_id",
        prepare = Seq("tok" -> "token_count(text)"),
        select = Seq("text", "tok"),
        dedup = Nil, gates = Seq("tokens" -> "tok >= 20"),
        decontaminate = None, weight = Some("tok"),
        sample = None, shards = None,
        mix = Some(BatchConfig.MixSpec("pretrain_mix", Seq(
          BatchConfig.MixSource("wiki", Some("did % 3 = 0"), 2.5),
          BatchConfig.MixSource("cc", Some("did % 3 <> 0"), 0.375)))))
      val work = java.nio.file.Files.createTempDirectory("graft_q_pmix").toString
      BatchConfig.fromYaml(spec.toYaml).run(s, work).funnel
    },
      // q_pipeline_mixture replays the CONFIG-declared pretraining mix:
      // the token gate plus the mix stage's gained-mass accounting, with
      // the fractional copy's content-addressed keep rule recomputed from
      // the same md5 the engine hashes (0.5/0.375 are exact binary
      // fractions, so the threshold compare agrees bit-for-bit)
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(tok) AS BIGINT) AS w FROM d),
        |surv AS (SELECT * FROM d WHERE tok >= 20),
        |sagg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS w FROM surv),
        |src AS (
        |  SELECT 'wiki' AS s, 2.5 AS w, doc_id, tok FROM surv WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'cc' AS s, 0.375 AS w, doc_id, tok FROM surv WHERE doc_id % 3 <> 0),
        |copies AS (SELECT 0 AS copy UNION ALL SELECT 1 UNION ALL SELECT 2),
        |kept AS (
        |  SELECT s, copy, doc_id, tok
        |  FROM src CROSS JOIN copies
        |  WHERE copy < floor(w)
        |     OR (copy < ceiling(w) AND
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#mix#' || s || '#c' || CAST(copy AS VARCHAR)), 1, 8)) AS BIGINT) < (w - floor(w)) * 4294967296)),
        |magg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS w FROM kept)
        |SELECT CAST(1 AS INT) AS stage, 'tokens' AS gate,
        |       tot.n AS rows_in, tot.n - sagg.n AS rows_dropped, sagg.n AS rows_out,
        |       tot.w AS weight_in, tot.w - sagg.w AS weight_dropped, sagg.w AS weight_out
        |FROM tot, sagg
        |UNION ALL
        |SELECT CAST(2 AS INT), 'pretrain_mix',
        |       sagg.n, sagg.n - magg.n, magg.n,
        |       sagg.w, sagg.w - magg.w, magg.w
        |FROM sagg, magg""".stripMargin)),
    DriverQuery("q_split_hash", (s, dir) => {
      // deterministic content-addressed train/val/test split
      graft.pipeline.Curation.splitByHash(
        docs(s, dir).select(col("doc_id")), col("doc_id"))
    },
      Sql("""SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |      FROM documents)""".stripMargin)),
    DriverQuery("q_domain_cap", (s, dir) => {
      // at most 40 docs per source, lowest doc_ids win (deterministic)
      graft.pipeline.Curation.capPerKey(
        docs(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), 40)
    },
      Sql("""SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 40""".stripMargin)),
    DriverQuery("q_sample_budget", (s, dir) => {
      // deterministic domain-mix sampling: src0 capped, others kept whole
      graft.pipeline.Curation.sampleToTokenBudget(
        docs(s, dir), col("doc_id"), col("source"),
        graft.pipeline.Text.tokenCount(col("text")),
        Map("src0" -> 2000L, "src1" -> 1000L))
        .select(col("doc_id"), col("source"))
    },
      Sql("""WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), fr AS (
        |  SELECT source,
        |         CASE source
        |           WHEN 'src0' THEN LEAST(1.0, 2000.0 / SUM(tokens))
        |           WHEN 'src1' THEN LEAST(1.0, 1000.0 / SUM(tokens))
        |           ELSE 1.0 END AS frac
        |  FROM base GROUP BY source
        |)
        |SELECT b.doc_id, b.source
        |FROM base b JOIN fr USING (source)
        |WHERE (CAST(concat('0x', substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |       / 4294967296.0) < fr.frac""".stripMargin)),
    DriverQuery("q_length_quantiles", (s, dir) => {
      // per-source doc-length distribution as a mergeable log-histogram,
      // built per half-corpus batch and rolled up (the cross-batch
      // telemetry shape), quantiles read from the merged map; estimates
      // rounded to 6 dp (the q_collocations libm contract) so DuckDB's
      // replay of bucket walk + pow hash-matches
      docs(s, dir)
        .select(col("source"), (col("doc_id") % 2).as("graft_b"), col("n_chars"))
        .groupBy(col("source"), col("graft_b"))
        .agg(graft.functions.dsl.log_histogram(col("n_chars"), 20).as("graft_h"))
        .groupBy(col("source"))
        .agg(graft.functions.dsl.histogram_merge(col("graft_h")).as("graft_m"))
        .select(col("source"),
          round(graft.functions.dsl.histogram_quantile(col("graft_m"), lit(0.5), 20), 6).as("p50_est"),
          round(graft.functions.dsl.histogram_quantile(col("graft_m"), lit(0.9), 20), 6).as("p90_est"))
    },
      Sql("""WITH b AS (
        |  SELECT source,
        |         CASE WHEN n_chars <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(CAST(n_chars AS DOUBLE)) * 20 + 0.000000001) AS INT)
        |         END AS bucket,
        |         count(*) AS c
        |  FROM documents
        |  WHERE n_chars IS NOT NULL
        |  GROUP BY 1, 2
        |), t AS (
        |  SELECT source, sum(c) AS n FROM b GROUP BY 1
        |), cum AS (
        |  SELECT b.source, b.bucket,
        |         sum(c) OVER (PARTITION BY b.source ORDER BY b.bucket) AS cum, t.n
        |  FROM b JOIN t USING (source)
        |)
        |SELECT source,
        |  round(min(CASE WHEN cum >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |            THEN (CASE WHEN bucket = -2147483648 THEN 0.0
        |                       ELSE pow(10.0, (bucket + 0.5) / 20.0) END) END), 6) AS p50_est,
        |  round(min(CASE WHEN cum >= greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
        |            THEN (CASE WHEN bucket = -2147483648 THEN 0.0
        |                       ELSE pow(10.0, (bucket + 0.5) / 20.0) END) END), 6) AS p90_est
        |FROM cum GROUP BY 1""".stripMargin)),
    DriverQuery("q_weighted_sample", (s, dir) => {
      // per-source weighted sample without replacement (exponential
      // clocks): longer docs proportionally likelier; the draw is a pure
      // function of (doc_id, n_chars) so DuckDB replays it row-for-row
      graft.pipeline.Curation.weightedSamplePerKey(
          docs(s, dir), col("source"), col("doc_id"), col("n_chars"), k = 20)
        .select(col("doc_id"), col("source"))
    },
      Sql("""WITH c AS (
        |  SELECT doc_id, source,
        |         -ln((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
        |             / 4294967296.0) / CAST(n_chars AS DOUBLE) AS clock
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0
        |), r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY clock, doc_id) AS rn
        |  FROM c
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin)),
    DriverQuery("q_pack_sequences", (s, dir) => {
      // concat-then-chunk sequence packing of the documents token stream
      graft.pipeline.Curation.packSequences(
        docs(s, dir), col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")), contextLen = 512, numBuckets = 16)
    },
      Sql("""WITH base AS (
        |  SELECT doc_id AS id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS bucket
        |  FROM documents
        |), c AS (
        |  SELECT id, bucket, tokens,
        |         CAST(COALESCE(SUM(tokens) OVER (PARTITION BY bucket ORDER BY id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM base
        |)
        |SELECT id, bucket, s // 512 AS seq_start, s % 512 AS offset,
        |       (s + GREATEST(tokens - 1, 0)) // 512 AS seq_end, tokens
        |FROM c""".stripMargin)),
    DriverQuery("q_pack_greedy", (s, dir) => {
      // doc-atomic greedy first-fit packing; DuckDB replays the greedy
      // recurrence with a recursive CTE
      graft.pipeline.Curation.packGreedy(
        docs(s, dir), col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")), budget = 512, numBuckets = 16)
    },
      Sql("""WITH RECURSIVE base AS (
        |  SELECT doc_id AS id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
        |         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS INT) AS bucket
        |  FROM documents
        |), numbered AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM base
        |), packed AS (
        |  SELECT bucket, rn, id, tokens, CAST(0 AS BIGINT) AS seq, tokens AS fill
        |  FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT n.bucket, n.rn, n.id, n.tokens,
        |         CASE WHEN p.fill > 0 AND p.fill + n.tokens > 512 THEN p.seq + 1 ELSE p.seq END,
        |         CASE WHEN p.fill > 0 AND p.fill + n.tokens > 512 THEN n.tokens ELSE p.fill + n.tokens END
        |  FROM numbered n JOIN packed p ON n.bucket = p.bucket AND n.rn = p.rn + 1
        |)
        |SELECT id, bucket, seq, fill - tokens AS "offset", tokens,
        |       (tokens > 512) AS oversize
        |FROM packed""".stripMargin)),
    DriverQuery("q_pipeline_config", (s, dir) => {
      // curation-as-config: the whole gate+dedup chain parsed from YAML
      // and applied — same operators as the code path, now auditable data
      val p = graft.pipeline.PipelineConfig.fromYaml(
        """version: 1
          |name: driver_curation
          |steps:
          |  - {kind: with_column, name: toks, column: toks, expr: "token_count(text)"}
          |  - {kind: filter, name: min_tokens, where: "toks >= 40"}
          |  - {kind: blocklist, name: badwords, column: text, phrases: [slow]}
          |  - {kind: dedup_exact, name: exact, id: doc_id, content: ["lower(text)"]}
          |  - {kind: drop_columns, name: cleanup, columns: [toks]}
          |""".stripMargin)
      p(docs(s, dir).select(col("doc_id"), col("text")))
    },
      Sql("""WITH gated AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 40
        |    AND len(regexp_extract_all(lower(text), '(?:\bslow\b)')) = 0
        |), kept AS (
        |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY lower(text)
        |)
        |SELECT g.doc_id, g.text FROM gated g JOIN kept USING (doc_id)""".stripMargin)),
    DriverQuery("q_funnel", (s, dir) => {
      // retention funnel: rows + token mass in/dropped/out per curation
      // gate, each row charged to the FIRST gate it fails — one
      // aggregation pass, no per-gate scans
      val w = graft.pipeline.Text.tokenCount(col("text"))
      graft.pipeline.Curation.retentionFunnel(
        docs(s, dir).select(col("text")),
        Seq(
          "min_len" -> (length(col("text")) >= 200),
          "no_slow" -> !lower(col("text")).contains("slow"),
          "min_tokens" -> (w >= 40)),
        w)
    },
      Sql("""WITH d AS (
        |  SELECT len(text) >= 200 AS g1,
        |         NOT contains(lower(text), 'slow') AS g2,
        |         len(regexp_split_to_array(trim(text), '\s+')) >= 40 AS g3,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |)
        |SELECT CAST(1 AS INT) AS stage, 'min_len' AS gate,
        |       count(*) AS rows_in,
        |       count(*) FILTER (WHERE NOT g1) AS rows_dropped,
        |       count(*) FILTER (WHERE g1) AS rows_out,
        |       CAST(coalesce(sum(w), 0) AS BIGINT) AS weight_in,
        |       CAST(coalesce(sum(w) FILTER (WHERE NOT g1), 0) AS BIGINT) AS weight_dropped,
        |       CAST(coalesce(sum(w) FILTER (WHERE g1), 0) AS BIGINT) AS weight_out
        |FROM d
        |UNION ALL
        |SELECT CAST(2 AS INT), 'no_slow',
        |       count(*) FILTER (WHERE g1),
        |       count(*) FILTER (WHERE g1 AND NOT g2),
        |       count(*) FILTER (WHERE g1 AND g2),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1), 0) AS BIGINT),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1 AND NOT g2), 0) AS BIGINT),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1 AND g2), 0) AS BIGINT)
        |FROM d
        |UNION ALL
        |SELECT CAST(3 AS INT), 'min_tokens',
        |       count(*) FILTER (WHERE g1 AND g2),
        |       count(*) FILTER (WHERE g1 AND g2 AND NOT g3),
        |       count(*) FILTER (WHERE g1 AND g2 AND g3),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1 AND g2), 0) AS BIGINT),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1 AND g2 AND NOT g3), 0) AS BIGINT),
        |       CAST(coalesce(sum(w) FILTER (WHERE g1 AND g2 AND g3), 0) AS BIGINT)
        |FROM d""".stripMargin)),
    DriverQuery("q_corpus_report", (s, dir) => {
      // one-pass per-source observability report; quality mass in exact
      // 1e-9 fixed point so the aggregate hash-matches the oracle
      graft.pipeline.Curation.corpusReport(
        docs(s, dir), col("text"), col("source"), gopherMinWords = 20)
    },
      Sql("""WITH m AS (
        |  SELECT source AS domain,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS tok,
        |         (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+'))
        |          + len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        |          + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |          + len(regexp_extract_all(text, '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b'))) > 0 AS has_pii,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE (CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |                   + (1.0 - (CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |                             / CAST(length(text) AS DOUBLE))) END AS q,
        |         (len(regexp_split_to_array(trim(text), '\s+')) >= 20
        |          AND len(regexp_split_to_array(trim(text), '\s+')) <= 100000
        |          AND (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |               / len(regexp_split_to_array(trim(text), '\s+'))) >= 3.0
        |          AND (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |               / len(regexp_split_to_array(trim(text), '\s+'))) <= 10.0
        |          AND (CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        |               / len(regexp_split_to_array(trim(text), '\s+'))) <= 0.1
        |          AND (CAST(len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |               / len(regexp_split_to_array(trim(text), '\s+'))) <= 0.1
        |          AND (CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                                    w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |               / len(regexp_split_to_array(trim(text), '\s+'))) >= 0.8
        |          AND len(regexp_extract_all(lower(text), '\b(the|be|to|of|and|that|have|with)\b')) >= 2) AS gpass
        |  FROM documents
        |)
        |SELECT domain, count(*) AS n_docs,
        |       CAST(sum(tok) AS BIGINT) AS n_tokens,
        |       count(CASE WHEN has_pii THEN 1 END) AS pii_docs,
        |       count(CASE WHEN gpass THEN 1 END) AS gopher_pass_docs,
        |       CAST(sum(CAST(floor(q * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_quality_e9
        |FROM m GROUP BY 1""".stripMargin)),
    DriverQuery("q_temperature_sample", (s, dir) => {
      // alpha=0.5 temperature rebalancing across sources to a 20k-token
      // budget; selection content-addressed, oracle hash-matches row-for-row
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        graft.pipeline.Text.tokenCount(col("text")).as("toks"))
      graft.pipeline.Curation.temperatureSample(
          d, col("doc_id"), col("source"), col("toks"),
          totalBudget = 20000L, alpha = 0.5)
        .select(col("doc_id"), col("source"))
    },
      Sql("""WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents
        |), dom AS (
        |  SELECT source, sum(toks) AS tot,
        |         CAST(floor(pow(CAST(sum(toks) AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS w
        |  FROM base GROUP BY 1
        |), sw AS (
        |  SELECT sum(w) AS sumw FROM dom
        |), fr AS (
        |  SELECT source,
        |         CASE WHEN tot IS NULL OR tot <= 0 THEN 1.0
        |              ELSE LEAST(1.0, 20000.0 * CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE)
        |                              / CAST(tot AS DOUBLE))
        |         END AS frac
        |  FROM dom CROSS JOIN sw
        |)
        |SELECT b.doc_id, b.source
        |FROM base b JOIN fr ON b.source IS NOT DISTINCT FROM fr.source
        |WHERE (CAST(concat('0x', substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |       / 4294967296.0) < fr.frac""".stripMargin)),
    DriverQuery("q_shards", (s, dir) => {
      // deterministic shard export + manifest: content-addressed shard and
      // within-shard order; the oracle replicates the manifest from the
      // same md5 recipe and the whitespace token count
      val path = java.nio.file.Files.createTempDirectory("graft_q_shards").toString
      graft.pipeline.Curation.writeShards(
        docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), graft.pipeline.Text.tokenCount(col("text")), path, 8)
    },
      Sql("""SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_wds_roundtrip", (s, dir) => {
      // WebDataset tar-shard export + re-ingest: write
      // documents as byte-deterministic ustar shards (same md5 shard
      // recipe as writeShards; key = %020d of the id), read them BACK,
      // and report per-shard docs / token mass / an order-independent
      // membership hash computed from the RE-INGESTED key+text — any
      // loss, duplication or corruption in the tar round-trip breaks the
      // hash. The oracle recomputes all three straight from documents.
      wdsRoundTrip(s, dir, "graft_q_wds", compress = false)
    },
      // q_wds_roundtrip's expected values come straight from documents: the
      // Spark side computes them from the RE-INGESTED tar shards, so a
      // byte-level round-trip fault surfaces as a hash mismatch here
      Sql(WdsShardsSql)),
    DriverQuery("q_wds_epoch", (s, dir) => {
      // Epoch-aware within-shard reshuffle: export the
      // corpus twice with different epoch seeds, re-ingest, and report
      // per (epoch, shard) the docs, an order-INDEPENDENT membership
      // hash and an order-DEPENDENT hash (parse position × key hash).
      // The oracle replays the seeded ordering in SQL — identical
      // membership across epochs, different order — so both the
      // epoch-salt recipe and the ingest's `pos` column are hash-gated.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      Seq(1, 2).map { e =>
        val path = java.nio.file.Files
          .createTempDirectory(s"graft_q_wds_e$e").toString
        graft.sources.Wds.write(d, col("doc_id"), col("text"),
          graft.pipeline.Text.tokenCount(col("text")), path, 4, epoch = e)
        val (rows, bad) = graft.sources.Wds.read(s, path)
        require(bad.isEmpty, "re-ingest quarantined a written shard")
        rows.withColumn("epoch", lit(e))
      }.reduce(_ unionByName _)
        .withColumn("key_hash",
          conv(substring(md5(col("key").cast("binary")), 1, 8), 16, 10).cast("long"))
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(col("key_hash")).as("member_hash"),
          sum((col("pos") + 1) * col("key_hash")).as("order_hash"))
    },
      // q_wds_epoch: the oracle REPLAYS the epoch-salted pseudo-shuffle —
      // row_number over md5(id || '#ord#e<epoch>') must equal the parse
      // position the tar ingest reports, so membership AND order are pinned
      Sql("""WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2),
        |b AS (
        |  SELECT e.epoch,
        |         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
        |         doc_id,
        |         CAST(concat('0x', substring(md5(printf('%020d', doc_id)), 1, 8)) AS BIGINT) AS key_hash,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#ord#e' || CAST(e.epoch AS VARCHAR)), 1, 8)) AS BIGINT) AS ordh
        |  FROM documents CROSS JOIN e),
        |r AS (
        |  SELECT epoch, shard, key_hash,
        |         row_number() OVER (PARTITION BY epoch, shard ORDER BY ordh, doc_id) AS rn
        |  FROM b)
        |SELECT epoch, shard, count(*) AS docs,
        |       CAST(sum(key_hash) AS BIGINT) AS member_hash,
        |       CAST(sum(rn * key_hash) AS BIGINT) AS order_hash
        |FROM r
        |GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_wds_epoch_sidecar", (s, dir) => {
      // Per-epoch order SIDECAR: export ONCE with
      // the default epoch-0 order, derive epoch 1 as a (shard, key, pos)
      // sidecar — zero tar bytes rewritten — then read under epoch=1 and
      // report the same per-shard membership + order hashes q_wds_epoch
      // gates. The oracle replays the epoch-1 salted ordering, so the
      // sidecar path is pinned to the exact order a full epoch-1
      // re-export would have produced, through the driver gate.
      val path = java.nio.file.Files
        .createTempDirectory("graft_q_wds_sc").toString
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      graft.sources.Wds.write(d, col("doc_id"), col("text"),
        graft.pipeline.Text.tokenCount(col("text")), path, 4)
      graft.sources.Wds.writeEpochOrder(s, path, 1)
      val (rows, bad) = graft.sources.Wds.read(s, path, epoch = 1)
      require(bad.isEmpty, "re-ingest quarantined a written shard")
      rows.withColumn("key_hash",
          conv(substring(md5(col("key").cast("binary")), 1, 8), 16, 10).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(col("key_hash")).as("member_hash"),
          sum((col("pos") + 1) * col("key_hash")).as("order_hash"))
    },
      // q_wds_epoch_sidecar: the oracle replays the epoch-1 salted order
      // (row_number over md5(id || '#ord#e1')) exactly as q_wds_epoch's
      // epoch-1 leg — the sidecar-applied pos must reproduce it with zero
      // tar bytes rewritten
      Sql("""WITH b AS (
        |  SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
        |         doc_id,
        |         CAST(concat('0x', substring(md5(printf('%020d', doc_id)), 1, 8)) AS BIGINT) AS key_hash,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#ord#e1'), 1, 8)) AS BIGINT) AS ordh
        |  FROM documents),
        |r AS (
        |  SELECT shard, key_hash,
        |         row_number() OVER (PARTITION BY shard ORDER BY ordh, doc_id) AS rn
        |  FROM b)
        |SELECT shard, count(*) AS docs,
        |       CAST(sum(key_hash) AS BIGINT) AS member_hash,
        |       CAST(sum(rn * key_hash) AS BIGINT) AS order_hash
        |FROM r
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_wds_manifest", (s, dir) => {
      // verify="manifest" export: the returned
      // manifest comes from the commit-site accumulator — NOT a re-ingest
      // — so gating it against the oracle's straight-from-documents
      // (shard, docs, tokens) proves the trust-the-commit-protocol path
      // reports exactly what a full read-back would have.
      val path = java.nio.file.Files
        .createTempDirectory("graft_q_wds_mf").toString
      graft.sources.Wds.write(
        docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), col("text"),
        graft.pipeline.Text.tokenCount(col("text")), path, 8,
        verify = "manifest")
    },
      // q_wds_manifest: verify="manifest" returns the commit-site
      // accumulator manifest — expected (shard, docs, tokens) recomputed
      // straight from documents, same recipe as q_shards
      Sql("""SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_wds_gzip", (s, dir) => {
      // gzipped WebDataset shards: same round-trip gate
      // as q_wds_roundtrip, through deterministic .tar.gz shards — the
      // compressed write path and the magic-sniffed decompressing ingest
      // both sit inside the oracle-checked loop
      wdsRoundTrip(s, dir, "graft_q_wds_gz", compress = true)
    },
      // q_wds_gzip: identical expected values to q_wds_roundtrip — the
      // compression layer must be invisible to the round-tripped content
      Sql(WdsShardsSql)),
    DriverQuery("q_wds_multimodal", (s, dir) => {
      // multimodal WebDataset: each sample carries a BINARY part
      // (deterministic 16-byte payload derived from the id) next to its
      // text + sidecar; re-ingest through the binary face and hash the
      // payload bytes per shard — the oracle recomputes the expected
      // byte content (hex(unhex(h)) == upper(h)) straight from documents,
      // so a single flipped byte anywhere in the tar round trip breaks it
      val path = java.nio.file.Files.createTempDirectory("graft_q_wds_mm").toString
      graft.sources.Wds.write(
        docs(s, dir).select(col("doc_id"), col("text"))
          .withColumn("payload",
            unhex(md5(col("doc_id").cast("string").cast("binary")))),
        col("doc_id"), col("text"),
        graft.pipeline.Text.tokenCount(col("text")), path, 8,
        binaryParts = Seq("bin" -> col("payload")))
      val (rows, bad) = graft.sources.Wds.readBinary(s, path)
      require(bad.isEmpty, "re-ingest quarantined a written shard")
      rows.select(col("shard"), col("key"),
          col("parts").getItem("bin").as("bin"),
          col("parts").getItem("txt").cast("string").as("text"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(conv(substring(md5(hex(col("bin")).cast("binary")), 1, 8),
            16, 10).cast("long")).as("bin_hash"),
          sum(conv(substring(md5(concat(col("key"), col("text"))
            .cast("binary")), 1, 8), 16, 10).cast("long")).as("member_hash"))
    },
      // q_wds_multimodal: the binary part is unhex(md5(id)), so its hex
      // dump equals upper(md5(id)) and DuckDB can recompute the per-shard
      // payload hash without blob support
      Sql("""SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(CAST(concat('0x', substring(md5(upper(md5(CAST(doc_id AS VARCHAR)))), 1, 8)) AS BIGINT)) AS BIGINT) AS bin_hash,
        |       CAST(sum(CAST(concat('0x', substring(md5(printf('%020d', doc_id) || text), 1, 8)) AS BIGINT)) AS BIGINT) AS member_hash
        |FROM documents
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_mixture", (s, dir) => {
      // weighted corpus mixture: 2.5 "epochs" of the wiki slice +
      // 0.375 of the crawl slice (exact binary fractions, so Spark and
      // DuckDB agree bit-for-bit on the content-addressed keep rule);
      // per (source, copy) docs/tokens plus a hash of the derived
      // collision-free mix_id
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      graft.pipeline.Curation.mixCorpora(Seq(
          ("wiki", d.where(col("doc_id") % 3 === 0), 2.5),
          ("cc", d.where(col("doc_id") % 3 =!= 0), 0.375)), col("doc_id"))
        .groupBy(col("mix_source"), col("mix_copy"))
        .agg(count(lit(1)).as("docs"),
          sum(graft.pipeline.Text.tokenCount(col("text"))).as("tokens"),
          sum(conv(substring(md5(col("mix_id").cast("string").cast("binary")),
            1, 8), 16, 10).cast("long")).as("mixid_hash"))
    },
      // q_mixture: the oracle replays the epoch-copy + fractional-copy
      // keep rule; 0.5 and 0.375 are exact binary fractions so the
      // threshold compare agrees bit-for-bit across engines. mix_id is
      // the FULL first 64 bits of the md5, signed two's-complement —
      // DuckDB can't parse 16 hex chars straight to BIGINT, so the oracle
      // assembles it from two 32-bit halves in HUGEINT and wraps
      Sql("""WITH src AS (
        |  SELECT 'wiki' AS s, 2.5 AS w, doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'cc' AS s, 0.375 AS w, doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |copies AS (SELECT 0 AS copy UNION ALL SELECT 1 UNION ALL SELECT 2),
        |kept AS (
        |  SELECT s, copy, doc_id, text,
        |         CAST(
        |           CAST(CAST(concat('0x', substring(md5(s || '#' || CAST(copy AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296
        |           + CAST(concat('0x', substring(md5(s || '#' || CAST(copy AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT)
        |           - CASE WHEN CAST(concat('0x', substring(md5(s || '#' || CAST(copy AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) >= 2147483648
        |                  THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
        |           AS BIGINT) AS mix_id
        |  FROM src CROSS JOIN copies
        |  WHERE copy < floor(w)
        |     OR (copy < ceiling(w) AND
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#mix#' || s || '#c' || CAST(copy AS VARCHAR)), 1, 8)) AS BIGINT) < (w - floor(w)) * 4294967296))
        |SELECT s AS mix_source, copy AS mix_copy, count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens,
        |       CAST(sum(CAST(concat('0x', substring(md5(CAST(mix_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS mixid_hash
        |FROM kept
        |GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_zorder", (s, dir) => {
      // z-order clustered write: quantile-bucket + bit-interleave
      // (l_extendedprice, l_quantity), range-partition into 8 files, read
      // back — the oracle checks row identity (no row moved, none lost);
      // the multi-dim file-pruning win is pinned by LayoutSpec envelopes
      val path = java.nio.file.Files.createTempDirectory("graft_q_zorder").toString
      graft.pipeline.Layout.zorderWrite(
        lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_quantity")),
        Seq("l_extendedprice", "l_quantity"), path, numFiles = 8)
      s.read.parquet(path).drop("graft_z")
    },
      Sql("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem""".stripMargin)),
    DriverQuery("q_ingest_jsonl", (s, dir) => {
      // JSONL round-trip with quarantine telemetry: export the corpus as
      // jsonl, plant two malformed crawler lines, and read back through
      // the corrupt-capture reader — nothing silently drops
      val path = java.nio.file.Files.createTempDirectory("graft_q_jsonl").toString
      docs(s, dir).select(col("doc_id"), col("text"))
        .coalesce(4).write.mode("overwrite").json(path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "part-corrupt.json"),
        "{\"doc_id\": 999999, \"text\": \"tru\nnot json at all\n")
      graft.sources.Jsonl.readStats(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
    },
      Sql("""SELECT count(*) + 2 AS total_lines, count(*) AS ok_lines,
        |       CAST(2 AS BIGINT) AS corrupt_lines
        |FROM documents""".stripMargin)),
    DriverQuery("q_drift_categorical", (s, dir) => {
      // language-mix drift: the new release drops half the zh docs and
      // doubles es — the mix question consumers ask first
      val d = docs(s, dir)
      val newRelease = d.where(!(col("lang") === "zh" && col("doc_id") % 2 === 0))
        .select(col("lang"))
        .unionAll(d.where(col("lang") === "es").select(col("lang")))
      graft.pipeline.Curation.categoricalDrift(
        d.select(col("lang")), newRelease, col("lang"))
    },
      Sql(s"""WITH o AS (SELECT lang AS c FROM documents),
        |n AS (
        |  SELECT lang AS c FROM documents WHERE NOT (lang = 'zh' AND doc_id % 2 = 0)
        |  UNION ALL SELECT lang FROM documents WHERE lang = 'es'
        |),
        |ob AS (SELECT COALESCE(c, '<null>') AS b, CAST(count(*) AS BIGINT) AS oc FROM o GROUP BY 1),
        |nb AS (SELECT COALESCE(c, '<null>') AS b, CAST(count(*) AS BIGINT) AS nc FROM n GROUP BY 1),
        |$PsiSql
        |       tb AS n_categories, tn AS old_total, tm AS new_total
        |FROM j, t GROUP BY tb, tn, tm""".stripMargin)),
    DriverQuery("q_release_report", (s, dir) => {
      // the one-call release gate on the q_corpus_diff scenario, with
      // n_chars drift alongside the row-level counts
      val v1 = docs(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 3)
            .otherwise(col("n_chars")).as("n_chars"))
        .unionAll(v1.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 90000).as("doc_id"), col("text"), col("n_chars")))
      graft.pipeline.Curation.releaseReport(
        v1, v2, col("doc_id"), col("n_chars"), col("text"))
    },
      Sql(s"""WITH v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |         CASE WHEN doc_id % 5 = 0 THEN n_chars + 3 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 90000, text, n_chars FROM documents WHERE doc_id % 11 = 0
        |),
        |d AS (
        |  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text = b.text THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM documents a FULL OUTER JOIN v2 b USING (doc_id)
        |),
        |counts AS (
        |  SELECT CAST(count(CASE WHEN status = 'added' THEN 1 END) AS BIGINT) AS added,
        |         CAST(count(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT) AS removed,
        |         CAST(count(CASE WHEN status = 'changed' THEN 1 END) AS BIGINT) AS changed,
        |         CAST(count(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT) AS unchanged
        |  FROM d
        |),
        |o AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents),
        |n AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM v2),
        |$LogBinCountsSql
        |j AS (SELECT COALESCE(ob.oc, 0) AS oc, COALESCE(nb.nc, 0) AS nc
        |      FROM ob FULL OUTER JOIN nb ON ob.b = nb.b),
        |t AS (SELECT CAST(sum(oc) AS BIGINT) AS tn, CAST(sum(nc) AS BIGINT) AS tm,
        |             CAST(count(*) AS BIGINT) AS tb FROM j),
        |psi AS (
        |  SELECT CAST(sum(CAST(floor(
        |           (CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE)
        |            - CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE))
        |           * ln((CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE))
        |                / (CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE)))
        |           * 1e9) AS BIGINT)) AS BIGINT) AS psi_e9,
        |         tb AS n_buckets, tn AS old_total, tm AS new_total
        |  FROM j, t GROUP BY tb, tn, tm
        |)
        |SELECT counts.*, psi.* FROM counts, psi""".stripMargin)),
    DriverQuery("q_drift", (s, dir) => {
      // PSI between the corpus and a deliberately shifted release (10% of
      // docs dropped, the %7 cohort re-added at double length): bucket
      // floors, smoothing and the fixed-point contributions all mirror
      // the SQL token-for-token
      val d = docs(s, dir)
      val newRelease = d.where(col("doc_id") % 10 =!= 0)
        .select(col("n_chars"))
        .unionAll(d.where(col("doc_id") % 7 === 0)
          .select((col("n_chars") * 2).as("n_chars")))
      graft.pipeline.Curation.distributionDrift(
        d.select(col("n_chars")), newRelease, col("n_chars"))
    },
      Sql(s"""WITH o AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents),
        |n AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT CAST(n_chars * 2 AS DOUBLE) FROM documents WHERE doc_id % 7 = 0
        |),
        |$LogBinCountsSql
        |$PsiSql
        |       tb AS n_buckets, tn AS old_total, tm AS new_total
        |FROM j, t GROUP BY tb, tn, tm""".stripMargin)),
    DriverQuery("q_drift_sketch", (s, dir) => {
      // per-language drift from PERSISTED histogram sketches — the shape
      // the stats-table workflow uses: histogram each release once,
      // compare without rescanning; oracle recomputes the same PSI from
      // grouped bucket counts
      import graft.functions.dsl.log_histogram
      val d = docs(s, dir)
      val newRelease = d.where(col("doc_id") % 10 =!= 0)
        .select(col("lang"), col("n_chars"))
        .unionAll(d.where(col("doc_id") % 7 === 0)
          .select(col("lang"), (col("n_chars") * 2).as("n_chars")))
      val ho = d.groupBy(col("lang")).agg(log_histogram(col("n_chars")).as("graft_ho"))
      val hn = newRelease.groupBy(col("lang")).agg(log_histogram(col("n_chars")).as("graft_hn"))
      ho.join(hn, Seq("lang"))
        .select(col("lang"),
          graft.pipeline.Curation.histogramPsi(col("graft_ho"), col("graft_hn")).as("psi_e9"))
    },
      Sql("""WITH o AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |n AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT lang, CAST(n_chars * 2 AS DOUBLE) FROM documents WHERE doc_id % 7 = 0
        |),
        |ob AS (SELECT lang, CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS oc
        |       FROM o GROUP BY 1, 2),
        |nb AS (SELECT lang, CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS nc
        |       FROM n GROUP BY 1, 2),
        |j AS (SELECT COALESCE(ob.lang, nb.lang) AS lang,
        |             COALESCE(ob.oc, 0) AS oc, COALESCE(nb.nc, 0) AS nc
        |      FROM ob FULL OUTER JOIN nb ON ob.lang = nb.lang AND ob.b = nb.b),
        |t AS (SELECT lang, CAST(sum(oc) AS BIGINT) AS tn, CAST(sum(nc) AS BIGINT) AS tm,
        |             CAST(count(*) AS BIGINT) AS tb FROM j GROUP BY 1)
        |SELECT j.lang,
        |       CAST(sum(CAST(floor(
        |         (CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE)
        |          - CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE))
        |         * ln((CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE))
        |              / (CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE)))
        |         * 1e9) AS BIGINT)) AS BIGINT) AS psi_e9
        |FROM j JOIN t ON j.lang = t.lang GROUP BY j.lang""".stripMargin)),
    DriverQuery("q_ingest_csv", (s, dir) => {
      // TSV round-trip with quarantine telemetry: export (doc_id, lang,
      // text) headerless, plant a wrong-arity line and a type-failure
      // line, read back through the corrupt-capture reader
      val path = java.nio.file.Files.createTempDirectory("graft_q_csv").toString
      docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .coalesce(4).write.mode("overwrite")
        .option("sep", "\t").option("header", "false").csv(path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "part-corrupt.csv"),
        "9999\tonly-two-fields\nnot-a-number\txx\tsome text\n")
      graft.sources.Csv.readStats(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))), delimiter = "\t")
    },
      Sql("""SELECT count(*) + 2 AS total_lines, count(*) AS ok_lines,
        |       CAST(2 AS BIGINT) AS corrupt_lines
        |FROM documents""".stripMargin)),
    DriverQuery("q_ingest_clf", (s, dir) => {
      // access-log round-trip: render events as CLF lines (combined form
      // for every 5th event), plant two corrupt lines, parse back through
      // the quarantine reader, and report per-status traffic aggregates
      // the oracle recomputes straight from the events table; the planted
      // corruption is gated by the require
      val path = java.nio.file.Files.createTempDirectory("graft_q_clf").toString
      val e = events(s, dir)
      val status = when(col("event_type") === "error", lit(500)).otherwise(lit(200))
      val bytes = greatest(lit(0L), floor(col("value") * 100).cast("long"))
      val line = concat(
        lit("10.0."), expr("user_id div 256").cast("string"), lit("."),
        (col("user_id") % 256).cast("string"),
        lit(" - user"), col("user_id").cast("string"),
        lit(" ["), date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"),
        lit(" +0000] \"GET /"), col("event_type"), lit("/"),
        col("event_id").cast("string"), lit(" HTTP/1.1\" "),
        status.cast("string"), lit(" "), bytes.cast("string"),
        when(col("event_id") % 5 === 0,
          concat(lit(" \"http://ref.example/"), col("event_type"),
            lit("\" \"Mozilla/5.0\""))).otherwise(lit("")))
      e.select(line.as("value")).coalesce(4)
        .write.mode("overwrite").text(path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "part-corrupt.log"),
        "garbage line\n3.3.3.3 - - [99/Zzz/2024:00:00:00 +0000] \"GET /x HTTP/1.1\" 200 1\n")
      val (rows, bad) = graft.sources.Clf.read(s, path)
      require(bad.count() == 2, "planted corrupt lines must quarantine")
      rows.groupBy(col("status"))
        .agg(count(lit(1)).as("n_requests"),
          sum(col("bytes")).as("total_bytes"),
          count(col("user_agent")).as("n_combined"),
          min(col("ts_epoch")).as("min_ts"),
          max(col("ts_epoch")).as("max_ts"))
    },
      Sql("""SELECT CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status,
        |       count(*) AS n_requests,
        |       CAST(sum(greatest(0, CAST(floor(value * 100) AS BIGINT))) AS BIGINT)
        |         AS total_bytes,
        |       CAST(count(CASE WHEN event_id % 5 = 0 THEN 1 END) AS BIGINT) AS n_combined,
        |       min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts,
        |       max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts
        |FROM events GROUP BY 1""".stripMargin)),
    DriverQuery("q_ingest_fixedwidth", (s, dir) => {
      // mainframe-style positional file round-trip: orders rendered at
      // fixed offsets (price as integer cents), a short line and a
      // bad-number line planted; per-status aggregates recomputed by the
      // oracle straight from orders — quarantine gated by the require
      val path = java.nio.file.Files.createTempDirectory("graft_q_fw").toString
      val o = s.read.parquet(s"$dir/orders.parquet")
      val line = concat(
        lpad(col("o_orderkey").cast("string"), 10, " "),
        lpad(col("o_custkey").cast("string"), 10, " "),
        col("o_orderstatus"),
        lpad(round(col("o_totalprice") * 100).cast("long").cast("string"), 12, " "),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      o.select(line.as("value")).coalesce(4).write.mode("overwrite").text(path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "part-corrupt.txt"),
        "too short\n         1         2O        abcd2024-01-01\n")
      import graft.sources.FixedWidth
      import org.apache.spark.sql.types.{DateType, LongType}
      val fields = Seq(
        FixedWidth.Field("orderkey", 1, 10, LongType),
        FixedWidth.Field("custkey", 11, 10, LongType),
        FixedWidth.Field("status", 21, 1),
        FixedWidth.Field("cents", 22, 12, LongType),
        FixedWidth.Field("odate", 34, 10, DateType))
      val (rows, bad) = FixedWidth.read(s, path, fields)
      require(bad.count() == 2, "planted corrupt lines must quarantine")
      rows.groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_cents"),
          min(col("odate")).as("min_date"),
          max(col("odate")).as("max_date"))
    },
      Sql("""SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents,
        |       min(CAST(o_orderdate AS DATE)) AS min_date,
        |       max(CAST(o_orderdate AS DATE)) AS max_date
        |FROM orders GROUP BY 1""".stripMargin)),
    DriverQuery("q_ingest_shards", (s, dir) => {
      // file-level shard quarantine (Shards.read): stage documents as two
      // healthy parquet shards plus a truncated copy, a garbage file and a
      // schema-drifted shard (n_chars re-typed DOUBLE); the read must scan
      // exactly the healthy files — the oracle replays per-lang counts
      // over documents, so a dropped healthy shard or a leaked corrupt/
      // drifted row is a hash miss; the manifest is gated by require
      val path = java.nio.file.Files.createTempDirectory("graft_q_shards").toString
      val stage = java.nio.file.Files.createTempDirectory("graft_q_shards_stage").toString
      val d = docs(s, dir)
      d.where(col("doc_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/a")
      d.where(col("doc_id") % 2 =!= 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/b")
      d.limit(10).select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars").cast("double").as("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/c")
      def part(sub: String) = java.nio.file.Files
        .list(java.nio.file.Paths.get(stage, sub)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      def plant(sub: String, name: String) = java.nio.file.Files.copy(
        java.nio.file.Paths.get(part(sub)), java.nio.file.Paths.get(path, name))
      plant("a", "even.parquet"); plant("b", "odd.parquet")
      plant("c", "drifted.parquet")
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "even.parquet"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "truncated.parquet"),
        bytes.take(bytes.length / 2))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "garbage.parquet"),
        "not a parquet shard".getBytes("UTF-8"))
      val (rows, manifest) = graft.sources.Shards.read(s, path, d.schema)
      val m = manifest.collect()
      require(m.length == 3 &&
        m.count(_.getString(1).startsWith("schema_drift")) == 1,
        s"unexpected quarantine manifest: ${m.mkString("; ")}")
      rows.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    },
      // the healthy shards together hold exactly the documents table; the
      // corrupt/drifted plants are gated by the require inside the query
      Sql("""SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang""")),
    DriverQuery("q_mixing_schedule", (s, dir) => {
      // water-filling epoch planner over per-lang token mass: weight 4.0
      // on en, 1.0 elsewhere, budget = the corpus' own total chars, 2.0
      // max epochs — sources saturate at 2x their mass and the unmet
      // share redistributes exactly; the oracle replays the sorted
      // prefix-sum closed form with DuckDB window functions
      val d = docs(s, dir)
      val budget = d.agg(sum(col("n_chars"))).head.getLong(0)
      val perLang = d.groupBy(col("lang")).agg(sum(col("n_chars")).as("tokens"))
        .withColumn("w", when(col("lang") === "en", lit(4.0)).otherwise(lit(1.0)))
      graft.pipeline.Curation.mixingSchedule(perLang,
        col("lang"), col("tokens"), col("w"), budget, maxEpochs = 2.0)
    },
      // the sorted prefix-sum water-fill replayed with window functions:
      // same cap/r/prefix/suffix/candidate arithmetic, same -1 sentinel
      Sql("""WITH base AS (
        |  SELECT lang AS domain, CAST(sum(n_chars) AS BIGINT) AS available,
        |         CASE WHEN lang = 'en' THEN 4.0 ELSE 1.0 END AS weight
        |  FROM documents GROUP BY lang HAVING sum(n_chars) > 0
        |), budget AS (
        |  SELECT CAST(sum(n_chars) AS DOUBLE) AS b FROM documents
        |), capd AS (
        |  SELECT domain, available, weight,
        |         CAST(floor(CAST(available AS DOUBLE) * 2.0) AS BIGINT) AS cap
        |  FROM base
        |), rr AS (
        |  SELECT *, CAST(cap AS DOUBLE) / weight AS r FROM capd
        |), ann AS (
        |  SELECT *,
        |    sum(cap) OVER (ORDER BY r, domain
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcap,
        |    sum(weight) OVER (ORDER BY r, domain
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sw,
        |    lead(r) OVER (ORDER BY r, domain) AS rnext
        |  FROM rr
        |), valid AS (
        |  SELECT min((b.b - CAST(a.pcap AS DOUBLE)) / a.sw) AS s
        |  FROM ann a, budget b
        |  WHERE a.sw IS NOT NULL AND a.sw > 0
        |    AND (b.b - CAST(a.pcap AS DOUBLE)) / a.sw >= a.r
        |    AND (a.rnext IS NULL OR (b.b - CAST(a.pcap AS DOUBLE)) / a.sw <= a.rnext)
        |), tot AS (
        |  SELECT sum(cap) AS tcap, sum(weight) AS tw FROM capd
        |), scale AS (
        |  SELECT coalesce(v.s,
        |    CASE WHEN t.tcap <= b.b THEN -1.0 ELSE b.b / t.tw END) AS s
        |  FROM valid v, tot t, budget b
        |), alloc AS (
        |  SELECT c.domain, c.available, c.cap,
        |    CASE WHEN sc.s < 0 THEN c.cap
        |         ELSE least(c.cap, CAST(floor(c.weight * sc.s) AS BIGINT)) END AS allotted
        |  FROM capd c, scale sc
        |)
        |SELECT domain, available, cap, allotted,
        |  CAST(floor(CAST(allotted AS DOUBLE) * 1e6 /
        |    CAST(available AS DOUBLE)) AS BIGINT) AS epochs_ppm,
        |  allotted = cap AS exhausted
        |FROM alloc""".stripMargin)),
    DriverQuery("q_gate_agreement", (s, dir) => {
      // Cohen's kappa between a cheap length gate and the word-count gate
      // it would replace — the swap-a-filter sanity report
      graft.pipeline.Curation.gateAgreement(docs(s, dir),
        col("n_chars") >= 200,
        size(split(trim(col("text")), "\\s+")) >= 40)
    },
      // exact integer-ratio kappa: same n/n^2 numerators, one double
      // division under the floor on each side
      Sql("""WITH g AS (
        |  SELECT n_chars >= 200 AS a,
        |         len(regexp_split_to_array(trim(text), '\s+')) >= 40 AS b
        |  FROM documents
        |), c AS (
        |  SELECT count(*) AS n,
        |    count(*) FILTER (WHERE a AND b) AS both_pass,
        |    count(*) FILTER (WHERE NOT a AND NOT b) AS both_fail,
        |    count(*) FILTER (WHERE a AND NOT b) AS only_a,
        |    count(*) FILTER (WHERE NOT a AND b) AS only_b
        |  FROM g
        |)
        |SELECT n, both_pass, both_fail, only_a, only_b,
        |  CAST(floor(CAST(both_pass + both_fail AS DOUBLE) * 1e6 /
        |    CAST(n AS DOUBLE)) AS BIGINT) AS po_ppm,
        |  CAST(floor(CAST((both_pass + only_a) * (both_pass + only_b) +
        |      (both_fail + only_b) * (both_fail + only_a) AS DOUBLE) * 1e6 /
        |    CAST(n * n AS DOUBLE)) AS BIGINT) AS pe_ppm,
        |  CASE WHEN n * n = (both_pass + only_a) * (both_pass + only_b) +
        |      (both_fail + only_b) * (both_fail + only_a) THEN 0
        |    ELSE CAST(floor(CAST((both_pass + both_fail) * n -
        |      ((both_pass + only_a) * (both_pass + only_b) +
        |       (both_fail + only_b) * (both_fail + only_a)) AS DOUBLE) * 1e6 /
        |      CAST(n * n - ((both_pass + only_a) * (both_pass + only_b) +
        |       (both_fail + only_b) * (both_fail + only_a)) AS DOUBLE)) AS BIGINT)
        |  END AS kappa_ppm
        |FROM c""".stripMargin)),
    DriverQuery("q_ingest_warc", (s, dir) => {
      // WARC round-trip: export the corpus as WARC/1.0 (odd ids WET-style
      // conversion records, even ids full HTTP response records, one shard
      // gzipped), plant three malformed records plus a resync survivor, and
      // read back through the quarantining parser — the oracle reconstructs
      // every parsed column from the documents table, so a silently dropped
      // or mis-framed record is a row mismatch
      val path = java.nio.file.Files.createTempDirectory("graft_q_warc").toString
      val rows = docs(s, dir).select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val shards = 4
      val outs: Seq[java.io.OutputStream] = (0 until shards).map { i =>
        val gz = i == shards - 1
        val f = new java.io.FileOutputStream(
          new java.io.File(path, if (gz) s"part-$i.warc.gz" else s"part-$i.warc"))
        if (gz) new java.util.zip.GZIPOutputStream(f) else f
      }
      rows.foreach { case (id, text) =>
        val out = outs((id % shards).toInt)
        val date = java.time.Instant.ofEpochSecond(1704067200L + id % 86400).toString
        val url = s"https://example.com/doc/$id"
        if (id % 2 == 0)
          graft.sources.WarcAlgos.writeRecord(out, "response", url, date,
            "application/http; msgtype=response",
            graft.sources.WarcAlgos.httpResponsePayload(200, "text/html; charset=utf-8",
              s"<html><body><p>$text</p></body></html>".getBytes("UTF-8")))
        else
          graft.sources.WarcAlgos.writeRecord(out, "conversion", url, date,
            "text/plain", text.getBytes("UTF-8"))
      }
      // planted corruptions in shard 0: garbage framing, a record missing
      // Content-Length, a good record proving resync, a truncated tail
      outs.head.write("NOT A WARC RECORD\r\njunk\r\n".getBytes("UTF-8"))
      outs.head.write(("WARC/1.0\r\nWARC-Type: conversion\r\n" +
        "WARC-Target-URI: https://example.com/bad\r\n\r\n").getBytes("UTF-8"))
      graft.sources.WarcAlgos.writeRecord(outs.head, "conversion",
        "https://example.com/resync", "2024-01-01T00:00:00Z", "text/plain",
        "resync ok".getBytes("UTF-8"))
      outs.head.write(("WARC/1.0\r\nWARC-Type: conversion\r\n" +
        "WARC-Target-URI: https://example.com/trunc\r\n" +
        "Content-Type: text/plain\r\nContent-Length: 100000\r\n\r\nshort").getBytes("UTF-8"))
      outs.foreach(_.close())
      val (parsed, _) = graft.sources.Warc.read(s, path)
      parsed.select(col("url"), col("warc_type"), col("mime"), col("http_status"),
        length(col("payload")).as("payload_len"), col("fetch_epoch"),
        md5(col("text").cast("binary")).as("text_md5"))
    },
      // every parsed column rebuilt from the documents table (even ids were
      // exported as HTTP responses wrapping the text in the html shell, odd
      // ids as WET conversion records) plus the one planted resync record;
      // the three malformed records must NOT appear
      Sql("""SELECT concat('https://example.com/doc/', doc_id) AS url,
        |       CASE WHEN doc_id % 2 = 0 THEN 'response' ELSE 'conversion' END AS warc_type,
        |       CASE WHEN doc_id % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS mime,
        |       CASE WHEN doc_id % 2 = 0 THEN 200 END AS http_status,
        |       CAST(octet_length(encode(CASE WHEN doc_id % 2 = 0
        |         THEN '<html><body><p>' || text || '</p></body></html>' ELSE text END)) AS INT) AS payload_len,
        |       1704067200 + doc_id % 86400 AS fetch_epoch,
        |       md5(CASE WHEN doc_id % 2 = 0
        |         THEN '<html><body><p>' || text || '</p></body></html>' ELSE text END) AS text_md5
        |FROM documents
        |UNION ALL
        |SELECT 'https://example.com/resync', 'conversion', 'text/plain', NULL,
        |       9, 1704067200, md5('resync ok')""".stripMargin)),
    DriverQuery("q_quantile_gate", (s, dir) => {
      // adaptive threshold: keep the top 70% of docs by token count; the
      // exact interpolated percentile is the same formula in DuckDB
      graft.pipeline.Curation.gateByQuantile(
          docs(s, dir).select(col("doc_id"),
            graft.pipeline.Text.tokenCount(col("text")).as("n_tokens")),
          col("n_tokens"), keepFraction = 0.7)
    },
      Sql("""WITH t AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents
        |), thr AS (
        |  -- 1.0 - 0.7 (not literal 0.3): Spark computes the fraction as
        |  -- 1.0 - keepFraction, whose double (0.30000000000000004) differs
        |  -- from 0.3 by one ulp — both engines must share the dust or a
        |  -- threshold landing exactly on an integer count hash-mismatches
        |  SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 1.0 - 0.7) AS v FROM t
        |)
        |SELECT doc_id, n_tokens FROM t, thr WHERE CAST(n_tokens AS DOUBLE) >= thr.v""".stripMargin)),
    DriverQuery("q_percentiles", (s, dir) => {
      // gate-threshold reconnaissance: exact per-source token-count
      // percentiles (Spark percentile == DuckDB quantile_cont, both
      // (n-1)q linear interpolation on integral token counts)
      graft.pipeline.Curation.percentileReport(
        docs(s, dir), col("source"),
        graft.pipeline.Text.tokenCount(col("text")))
    },
      Sql("""SELECT source AS domain, count(*) AS n_docs,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.1) AS p10,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.5) AS p50,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.9) AS p90,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.99) AS p99
        |FROM documents GROUP BY 1""".stripMargin)),
    DriverQuery("q_quality_gate", (s, dir) => {
      // the fused streaming/batch curation gate: gopher + repetition + PII
      // in ONE projection. PII planted on doc_id % 3; maxPiiDensity = 0 so
      // any hit fails the gate, and the repetition cap is 1.0 (the dup-5gram
      // coverage fraction is not SQL-expressible — its threshold behaviour
      // is spec-covered) so the oracle replicates the gate exactly
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")))
      graft.streaming.StreamingGate.gate(
          docs(s, dir).select(col("doc_id"), planted.as("t")), col("t"),
          gopherMinWords = 20, maxDup5gramCharFrac = 1.0, maxPiiDensity = 0.0)
        .select(col("doc_id"))
    },
      Sql("""WITH p AS (
        |  SELECT doc_id,
        |         text || CASE WHEN doc_id % 3 = 0
        |                      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |                      ELSE '' END AS t
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |         len(regexp_split_to_array(trim(t), '\s+')) AS word_count,
        |         CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(t), '\s+')) AS mean_word_len,
        |         CAST(len(regexp_extract_all(t, '#')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(t), '\s+')) AS hash_ratio,
        |         CAST(len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(t), '\s+')) AS ellipsis_ratio,
        |         CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |                              w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(t), '\s+')) AS alpha_word_ratio,
        |         len(regexp_extract_all(lower(t), '\b(the|be|to|of|and|that|have|with)\b')) AS stopword_hits,
        |         (len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+'))
        |          + len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        |          + len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |          + len(regexp_extract_all(t, '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b'))) AS pii_hits
        |  FROM p
        |)
        |SELECT doc_id FROM m
        |WHERE word_count >= 20 AND word_count <= 100000
        |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |  AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        |  AND alpha_word_ratio >= 0.8 AND stopword_hits >= 2
        |  AND pii_hits = 0""".stripMargin)),
    DriverQuery("q_streaming_e2e", (s, dir) => {
      // the COMPOSED streaming story, end to end in one query: file-source
      // intake → stateless quality gate → theta sketch-table maintenance
      // (per-lang distinct gated docs — EXACT in the small-set regime, so
      // the oracle replays it as count(DISTINCT)) → z-ordered streaming
      // append onto a pre-seeded layout table → pruned range read off the
      // stats sidecar. The batch-side oracle replays gate + counts in SQL.
      import graft.streaming.{StreamingGate, StreamingSketches}
      val tmp = java.nio.file.Files.createTempDirectory("graft_q_se2e").toString
      val zPath = s"$tmp/ztable"
      val skPath = s"$tmp/sketches"
      val batchDocs = docs(s, dir)
      def gated(df: DataFrame) = StreamingGate.gate(
          df, col("text"), gopherMinWords = 20, maxDup5gramCharFrac = 1.0,
          maxPiiDensity = 1e9)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      // the live table exists before the stream starts (the layout manifest
      // is the append contract): seed with the gated docs below id 100
      graft.pipeline.Layout.zorderWrite(
        gated(batchDocs.where(col("doc_id") < 100)),
        Seq("n_chars", "doc_id"), zPath, numFiles = 4)
      // the file stream source wants a DIRECTORY of arriving files; stage
      // the table into the intake dir (hard copy: a real ingest drop-box
      // shape). The driver testdata is ONE parquet file; derived/soak
      // tables are Spark-written DIRECTORIES of part files — stage each
      // part (a bare Files.copy of a directory copies it EMPTY and the
      // stream sees no data).
      val intake = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(tmp, "intake"))
      val srcTable = java.nio.file.Paths.get(dir, "documents.parquet")
      if (java.nio.file.Files.isDirectory(srcTable)) {
        val listing = java.nio.file.Files.list(srcTable)
        try {
          val parts = listing.iterator()
          var i = 0
          while (parts.hasNext) {
            val p = parts.next()
            if (p.getFileName.toString.endsWith(".parquet")) {
              java.nio.file.Files.copy(p, intake.resolve(f"part-$i%05d.parquet"))
              i += 1
            }
          }
        } finally listing.close()
      } else java.nio.file.Files.copy(srcTable, intake.resolve("documents.parquet"))
      val stream = s.readStream.schema(batchDocs.schema)
        .parquet(intake.toString)
      val gs = gated(stream)
      // telemetry sees every gated doc; the z table appends only the
      // non-seed ids (each doc lands exactly once)
      val q1 = StreamingSketches.sketchTableBuilder(
          gs, col("lang"), col("doc_id"), skPath, kind = "theta", param = 16384)
        .option("checkpointLocation", s"$tmp/ck_sketch").start()
      val q2 = graft.pipeline.Layout.streamingAppend(
        gs.where(col("doc_id") >= 100), zPath, s"$tmp/ck_append")
      try { q1.processAllAvailable(); q2.processAllAvailable() }
      finally { q1.stop(); q2.stop() }
      val inRange = graft.pipeline.Layout.prunedRead(s, zPath, "n_chars", 150, 400)
        .groupBy(col("lang")).agg(count(lit(1)).as("docs_in_range"))
      val sk = StreamingSketches.sketchTable(s, skPath)
        .select(col("key").as("lang"),
          graft.functions.dsl.theta_estimate(col("s")).as("gated_docs"))
      inRange.join(sk, Seq("lang"))
        .select(col("lang"), col("docs_in_range"), col("gated_docs"))
    },
      // replay of the composed pipeline: the gate is q_quality_gate's gopher
      // arithmetic (repetition/PII caps are pass-through at these settings),
      // the sketch estimate is exact count(DISTINCT) in the small-set regime,
      // the pruned read is the plain n_chars range (pruning is exact)
      Sql(raw"""WITH m AS (
        |  SELECT doc_id, lang, n_chars,
        |$GopherStatsSql
        |), g AS (
        |  SELECT doc_id, lang, n_chars FROM m
        |  WHERE word_count >= 20 AND word_count <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        |    AND alpha_word_ratio >= 0.8 AND stopword_hits >= 2
        |)
        |SELECT lang,
        |       count(*) FILTER (WHERE n_chars BETWEEN 150 AND 400) AS docs_in_range,
        |       count(DISTINCT doc_id) AS gated_docs
        |FROM g GROUP BY lang
        |HAVING count(*) FILTER (WHERE n_chars BETWEEN 150 AND 400) > 0""".stripMargin)))
}
