package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries of the lm family: n-gram language models, importance
 * weighting and the quality classifier. */
object LmQueries {

  /** Trains the LM of `order` on the documents, runs `use` on the model and
   * the documents, and releases the model once the result is materialized. */
  private def withLm(s: SparkSession, dir: String, order: Int = 2)(
      use: (graft.pipeline.Lm.LmModel, DataFrame) => DataFrame): DataFrame = {
    val d = docs(s, dir)
    val model = graft.pipeline.Lm.train(d, col("text"), order)
    val out = use(model, d).localCheckpoint()
    model.release()
    out
  }

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_threshold_sweep", (s, dir) =>
      // operating-point sweep: score = bounded length proxy, label =
      // lang=='en' (fixture semantics — the sweep arithmetic is the
      // operator under test); every confusion count, ppm ratio and the
      // reliability column recomputed by the oracle with window sums
      graft.pipeline.Classifier.thresholdSweep(
        docs(s, dir),
        least(lit(1.0), length(col("text")) / lit(2000.0)),
        col("lang") === "en", buckets = 20),
      Sql("""WITH s AS (
        |  SELECT least(1.0, length(text) / 2000.0) AS score, lang = 'en' AS y
        |  FROM documents
        |), h AS (
        |  SELECT least(greatest(CAST(floor(score * 20) AS INT), 0), 19) AS bucket,
        |         count(CASE WHEN y THEN 1 END) AS pos,
        |         count(CASE WHEN NOT y THEN 1 END) AS neg
        |  FROM s GROUP BY 1
        |), c AS (
        |  SELECT bucket, pos, neg,
        |         sum(pos) OVER (ORDER BY bucket DESC) AS tp,
        |         sum(neg) OVER (ORDER BY bucket DESC) AS fp,
        |         sum(pos) OVER () - sum(pos) OVER (ORDER BY bucket DESC) AS fn
        |  FROM h
        |)
        |SELECT bucket, CAST(bucket * 1000000 // 20 AS BIGINT) AS threshold_ppm,
        |       pos, neg, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |       CAST(fn AS BIGINT) AS fn,
        |       CAST(pos * 1000000 // nullif(pos + neg, 0) AS BIGINT) AS pos_rate_ppm,
        |       CAST(tp * 1000000 // nullif(tp + fp, 0) AS BIGINT) AS precision_ppm,
        |       CAST(tp * 1000000 // nullif(tp + fn, 0) AS BIGINT) AS recall_ppm,
        |       CAST(2 * tp * 1000000 // nullif(2 * tp + fp + fn, 0) AS BIGINT) AS f1_ppm
        |FROM c""".stripMargin)),
    DriverQuery("q_classifier", (s, dir) => {
      // rows-only: train the hashed-feature quality classifier on a
      // deterministic labeled set (clean docs vs junk-suffixed copies) and
      // emit per-doc predictions; separation semantics are spec-covered
      val d = docs(s, dir)
      val labeled = d.select(col("doc_id"), col("text"), lit(1.0).as("y"))
        .unionAll(d.select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(" zz11 buy now $$$ click here free winner zz22")).as("text"),
          lit(0.0).as("y")))
      val model = graft.pipeline.Classifier.train(
        labeled, col("text"), col("y"), dim = 4096, iters = 20, lr = 8.0)
      labeled.select(col("doc_id"), col("y").cast("int").as("label"),
        (graft.pipeline.Classifier.score(model, col("text")) > 0.5)
          .cast("int").as("predicted"))
    },
      RowsOnly("the hashed-feature model training is not SQL-expressible",
        "graft.pipeline.ClassifierSpec")),
    DriverQuery("q_lm_score", (s, dir) => {
      // train the bigram LM on the corpus, score the corpus plus planted
      // gibberish suffixes (unseen words exercise the OOV/smoothing path)
      withLm(s, dir)((model, d) => graft.pipeline.Lm
        .score(model, lmScoreSet(d), col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusStatsSql
        |$LmBigramCountsSql
        |$LmScoreDocsSql
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM sdoc)
        |), j AS (
        |  SELECT st.doc_id,
        |         0.5 * coalesce(CAST(bi.cb AS DOUBLE) / CAST(up.c AS DOUBLE), 0.0)
        |           + 0.5 * ((coalesce(CAST(uc.c AS DOUBLE), 0.0) + 1.0)
        |                    / (CAST(stats.n_tokens AS DOUBLE) + 1.0 * CAST(stats.vocab AS DOUBLE))) AS p,
        |         uc.c AS cw
        |  FROM st
        |  LEFT JOIN bi ON bi.w1 = st.w1 AND bi.w2 = st.w2
        |  LEFT JOIN uni up ON up.w = st.w1
        |  LEFT JOIN uni uc ON uc.w = st.w2
        |  CROSS JOIN stats
        |$LmScoreAggSql""".stripMargin)),
    DriverQuery("q_lm3_score", (s, dir) => {
      // interpolated trigram LM (recursive Jelinek–Mercer backoff): train at
      // order 3, score the corpus plus the same planted gibberish suffixes —
      // no trigram OR bigram match, so they fall to the smoothed unigram
      // floor and separate harder than under the bigram model
      withLm(s, dir, 3)((model, d) => graft.pipeline.Lm
        .score(model, lmScoreSet(d), col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusStatsSql
        |$LmBigramCountsSql
        |$LmTrigramCountsSql
        |$LmScoreDocsSql
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM sdoc)
        |), j AS (
        |  SELECT st.doc_id,
        |         0.5 * coalesce(CAST(tri.ct AS DOUBLE) / CAST(b12.cb AS DOUBLE), 0.0)
        |           + 0.5 * (0.5 * coalesce(CAST(b23.cb AS DOUBLE) / CAST(u2.c AS DOUBLE), 0.0)
        |                    + 0.5 * ((coalesce(CAST(u3.c AS DOUBLE), 0.0) + 1.0)
        |                             / (CAST(stats.n_tokens AS DOUBLE) + 1.0 * CAST(stats.vocab AS DOUBLE)))) AS p,
        |         u3.c AS cw
        |  FROM st
        |  LEFT JOIN tri ON tri.w1 = st.w1 AND tri.w2 = st.w2 AND tri.w3 = st.w3
        |  LEFT JOIN bi b12 ON b12.w1 = st.w1 AND b12.w2 = st.w2
        |  LEFT JOIN bi b23 ON b23.w1 = st.w2 AND b23.w2 = st.w3
        |  LEFT JOIN uni u2 ON u2.w = st.w2
        |  LEFT JOIN uni u3 ON u3.w = st.w3
        |  CROSS JOIN stats
        |$LmScoreAggSql""".stripMargin)),
    DriverQuery("q_lm5_score", (s, dir) => {
      // CCNet-shape interpolated 5-gram LM (recursive Jelinek–Mercer down
      // through 4/3/2-grams to the smoothed unigram floor): train at order
      // 5, score the corpus plus the planted gibberish suffixes
      withLm(s, dir, 5)((model, d) => graft.pipeline.Lm
        .score(model, lmScoreSet(d), col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusStatsSql
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2
        |    FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus))
        |  GROUP BY 1, 2
        |), tri AS (
        |  SELECT w1, w2, w3, count(*) AS ct FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |    FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM corpus))
        |  GROUP BY 1, 2, 3
        |), qua AS (
        |  SELECT w1, w2, w3, w4, count(*) AS cq FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, ws[i+3] AS w4
        |    FROM (SELECT ws, unnest(range(1, len(ws) - 2)) AS i FROM corpus))
        |  GROUP BY 1, 2, 3, 4
        |), qui AS (
        |  SELECT w1, w2, w3, w4, w5, count(*) AS c5 FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, ws[i+3] AS w4, ws[i+4] AS w5
        |    FROM (SELECT ws, unnest(range(1, len(ws) - 3)) AS i FROM corpus))
        |  GROUP BY 1, 2, 3, 4, 5
        |$LmScoreDocsSql
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, ws[i+3] AS w4, ws[i+4] AS w5
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM sdoc)
        |), j AS (
        |  SELECT st.doc_id,
        |         0.5 * coalesce(CAST(q5.c5 AS DOUBLE) / CAST(q14.cq AS DOUBLE), 0.0)
        |           + 0.5 * (0.5 * coalesce(CAST(q25.cq AS DOUBLE) / CAST(t24.ct AS DOUBLE), 0.0)
        |             + 0.5 * (0.5 * coalesce(CAST(t35.ct AS DOUBLE) / CAST(b34.cb AS DOUBLE), 0.0)
        |               + 0.5 * (0.5 * coalesce(CAST(b45.cb AS DOUBLE) / CAST(u4.c AS DOUBLE), 0.0)
        |                 + 0.5 * ((coalesce(CAST(u5.c AS DOUBLE), 0.0) + 1.0)
        |                          / (CAST(stats.n_tokens AS DOUBLE) + 1.0 * CAST(stats.vocab AS DOUBLE)))))) AS p,
        |         u5.c AS cw
        |  FROM st
        |  LEFT JOIN qui q5 ON q5.w1 = st.w1 AND q5.w2 = st.w2 AND q5.w3 = st.w3
        |                   AND q5.w4 = st.w4 AND q5.w5 = st.w5
        |  LEFT JOIN qua q14 ON q14.w1 = st.w1 AND q14.w2 = st.w2 AND q14.w3 = st.w3
        |                    AND q14.w4 = st.w4
        |  LEFT JOIN qua q25 ON q25.w1 = st.w2 AND q25.w2 = st.w3 AND q25.w3 = st.w4
        |                    AND q25.w4 = st.w5
        |  LEFT JOIN tri t24 ON t24.w1 = st.w2 AND t24.w2 = st.w3 AND t24.w3 = st.w4
        |  LEFT JOIN tri t35 ON t35.w1 = st.w3 AND t35.w2 = st.w4 AND t35.w3 = st.w5
        |  LEFT JOIN bi b34 ON b34.w1 = st.w3 AND b34.w2 = st.w4
        |  LEFT JOIN bi b45 ON b45.w1 = st.w4 AND b45.w2 = st.w5
        |  LEFT JOIN uni u4 ON u4.w = st.w4
        |  LEFT JOIN uni u5 ON u5.w = st.w5
        |  CROSS JOIN stats
        |$LmScoreAggSql""".stripMargin)),
    DriverQuery("q_lm_kn", (s, dir) => {
      // interpolated Kneser-Ney at order 3 (D=0.75, add-1 continuation
      // floor): continuation counts, absolute discounting and the
      // full-backoff unseen-context branch all replayed by the oracle in
      // the same IEEE operation order; the planted gibberish suffix
      // exercises the OOV floor (n_oov) exactly as the JM queries do
      withLm(s, dir, 3)((model, d) => graft.pipeline.Lm
        .scoreKn(model, lmScoreSet(d), col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusSql
        |$LmBigramCountsSql
        |$LmTrigramCountsSql
        |), nft AS (
        |  SELECT w1, w2, count(*) AS nf FROM tri GROUP BY 1, 2
        |), cc2 AS (
        |  SELECT w2, w3, count(*) AS kc2 FROM tri GROUP BY 1, 2
        |), ctx2 AS (
        |  SELECT w2, count(*) AS den, count(DISTINCT w3) AS nf2 FROM tri GROUP BY 1
        |), cc1 AS (
        |  SELECT w2 AS w, count(*) AS kc1 FROM bi GROUP BY 1
        |), kstats AS (
        |  SELECT (SELECT count(*) FROM bi) AS b, (SELECT count(*) FROM uni) AS vocab
        |$LmScoreDocsSql
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM sdoc)
        |), j0 AS (
        |  SELECT st.doc_id, tri.ct, b12.cb, nft.nf, cc2.kc2, ctx2.den, ctx2.nf2,
        |         cc1.kc1, u3.c AS cw, kstats.b, kstats.vocab
        |  FROM st
        |  LEFT JOIN tri ON tri.w1 = st.w1 AND tri.w2 = st.w2 AND tri.w3 = st.w3
        |  LEFT JOIN bi b12 ON b12.w1 = st.w1 AND b12.w2 = st.w2
        |  LEFT JOIN nft ON nft.w1 = st.w1 AND nft.w2 = st.w2
        |  LEFT JOIN cc2 ON cc2.w2 = st.w2 AND cc2.w3 = st.w3
        |  LEFT JOIN ctx2 ON ctx2.w2 = st.w2
        |  LEFT JOIN cc1 ON cc1.w = st.w3
        |  LEFT JOIN uni u3 ON u3.w = st.w3
        |  CROSS JOIN kstats
        |), j1 AS (
        |  SELECT doc_id, ct, cb, nf, kc2, den, nf2, cw,
        |         (coalesce(CAST(kc1 AS DOUBLE), 0.0) + 1.0)
        |           / (CAST(b AS DOUBLE) + 1.0 * CAST(vocab AS DOUBLE)) AS p1
        |  FROM j0
        |), j2 AS (
        |  SELECT doc_id, ct, cb, nf, cw,
        |         CASE WHEN den IS NULL THEN p1 ELSE
        |           greatest(coalesce(CAST(kc2 AS DOUBLE), 0.0) - 0.75, 0.0) / CAST(den AS DOUBLE)
        |           + 0.75 * CAST(nf2 AS DOUBLE) / CAST(den AS DOUBLE) * p1 END AS p2
        |  FROM j1
        |), j3 AS (
        |  SELECT doc_id,
        |         CASE WHEN cb IS NULL OR nf IS NULL THEN p2 ELSE
        |           greatest(coalesce(CAST(ct AS DOUBLE), 0.0) - 0.75, 0.0) / CAST(cb AS DOUBLE)
        |           + 0.75 * CAST(nf AS DOUBLE) / CAST(cb AS DOUBLE) * p2 END AS p,
        |         cw
        |  FROM j2
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS sum_prob_e12,
        |         count(CASE WHEN cw IS NULL THEN 1 END) AS n_oov
        |  FROM j3 GROUP BY 1
        |$LmScoreResultSql""".stripMargin)),
    DriverQuery("q_lm_mkn", (s, dir) => {
      // MODIFIED Kneser-Ney at order 3 (KenLM default: count-dependent
      // discounts D1/D2/D3+ per order from count-of-counts, per-context
      // count-bucket backoff mass): the oracle recomputes the discount
      // scalars from the same count-of-counts in the same IEEE order, then
      // replays the scoring arithmetic; planted gibberish exercises the
      // OOV floor
      withLm(s, dir, 3)((model, d) => graft.pipeline.Lm
        .scoreMkn(model, lmScoreSet(d), col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusSql
        |$LmBigramCountsSql
        |$LmTrigramCountsSql
        |), tg AS (
        |  SELECT w1, w2,
        |         count(CASE WHEN ct = 1 THEN 1 END) AS tm1,
        |         count(CASE WHEN ct = 2 THEN 1 END) AS tm2,
        |         count(CASE WHEN ct >= 3 THEN 1 END) AS tm3
        |  FROM tri GROUP BY 1, 2
        |), cc2 AS (
        |  SELECT w2, w3, count(*) AS kc2 FROM tri GROUP BY 1, 2
        |), ctx2 AS (
        |  SELECT w2, sum(kc2) AS den,
        |         count(CASE WHEN kc2 = 1 THEN 1 END) AS mm1,
        |         count(CASE WHEN kc2 = 2 THEN 1 END) AS mm2,
        |         count(CASE WHEN kc2 >= 3 THEN 1 END) AS mm3
        |  FROM cc2 GROUP BY 1
        |), dtr AS (
        |  SELECT count(CASE WHEN ct = 1 THEN 1 END) AS n1,
        |         count(CASE WHEN ct = 2 THEN 1 END) AS n2,
        |         count(CASE WHEN ct = 3 THEN 1 END) AS n3,
        |         count(CASE WHEN ct = 4 THEN 1 END) AS n4
        |  FROM tri
        |), dty AS (
        |  SELECT n1, n2, n3, n4,
        |         CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE)) AS y
        |  FROM dtr
        |), dt AS (
        |  SELECT
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 1.0 - 2.0 * y * (CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))) END AS td1,
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 2.0 - 3.0 * y * (CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))) END AS td2,
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 3.0 - 4.0 * y * (CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE))) END AS td3
        |  FROM dty
        |), dmr AS (
        |  SELECT count(CASE WHEN kc2 = 1 THEN 1 END) AS n1,
        |         count(CASE WHEN kc2 = 2 THEN 1 END) AS n2,
        |         count(CASE WHEN kc2 = 3 THEN 1 END) AS n3,
        |         count(CASE WHEN kc2 = 4 THEN 1 END) AS n4
        |  FROM cc2
        |), dmy AS (
        |  SELECT n1, n2, n3, n4,
        |         CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE)) AS y
        |  FROM dmr
        |), dm AS (
        |  SELECT
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 1.0 - 2.0 * y * (CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))) END AS md1,
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 2.0 - 3.0 * y * (CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))) END AS md2,
        |    CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0 THEN 0.75
        |      ELSE greatest(0.0, 3.0 - 4.0 * y * (CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE))) END AS md3
        |  FROM dmy
        |), cc1 AS (
        |  SELECT w2 AS w, count(*) AS kc1 FROM bi GROUP BY 1
        |), kstats AS (
        |  SELECT (SELECT count(*) FROM bi) AS b, (SELECT count(*) FROM uni) AS vocab
        |$LmScoreDocsSql
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM sdoc)
        |), j0 AS (
        |  SELECT st.doc_id, tri.ct, b12.cb, tg.tm1, tg.tm2, tg.tm3,
        |         cc2.kc2, ctx2.den, ctx2.mm1, ctx2.mm2, ctx2.mm3,
        |         cc1.kc1, u3.c AS cw, kstats.b, kstats.vocab,
        |         dt.td1, dt.td2, dt.td3, dm.md1, dm.md2, dm.md3
        |  FROM st
        |  LEFT JOIN tri ON tri.w1 = st.w1 AND tri.w2 = st.w2 AND tri.w3 = st.w3
        |  LEFT JOIN bi b12 ON b12.w1 = st.w1 AND b12.w2 = st.w2
        |  LEFT JOIN tg ON tg.w1 = st.w1 AND tg.w2 = st.w2
        |  LEFT JOIN cc2 ON cc2.w2 = st.w2 AND cc2.w3 = st.w3
        |  LEFT JOIN ctx2 ON ctx2.w2 = st.w2
        |  LEFT JOIN cc1 ON cc1.w = st.w3
        |  LEFT JOIN uni u3 ON u3.w = st.w3
        |  CROSS JOIN kstats CROSS JOIN dt CROSS JOIN dm
        |), j1 AS (
        |  SELECT doc_id, ct, cb, tm1, tm2, tm3, kc2, den, mm1, mm2, mm3, cw,
        |         td1, td2, td3, md1, md2, md3,
        |         (coalesce(CAST(kc1 AS DOUBLE), 0.0) + 1.0)
        |           / (CAST(b AS DOUBLE) + 1.0 * CAST(vocab AS DOUBLE)) AS p1
        |  FROM j0
        |), j2 AS (
        |  SELECT doc_id, ct, cb, tm1, tm2, tm3, cw, td1, td2, td3,
        |         CASE WHEN den IS NULL THEN p1 ELSE
        |           greatest(CAST(coalesce(kc2, 0) AS DOUBLE) -
        |             (CASE WHEN coalesce(kc2, 0) >= 3 THEN md3
        |                   WHEN coalesce(kc2, 0) = 2 THEN md2
        |                   WHEN coalesce(kc2, 0) = 1 THEN md1 ELSE 0.0 END), 0.0)
        |             / CAST(den AS DOUBLE)
        |           + (md1 * CAST(mm1 AS DOUBLE) + md2 * CAST(mm2 AS DOUBLE)
        |              + md3 * CAST(mm3 AS DOUBLE)) / CAST(den AS DOUBLE) * p1 END AS p2
        |  FROM j1
        |), j3 AS (
        |  SELECT doc_id,
        |         CASE WHEN cb IS NULL OR tm1 IS NULL THEN p2 ELSE
        |           greatest(CAST(coalesce(ct, 0) AS DOUBLE) -
        |             (CASE WHEN coalesce(ct, 0) >= 3 THEN td3
        |                   WHEN coalesce(ct, 0) = 2 THEN td2
        |                   WHEN coalesce(ct, 0) = 1 THEN td1 ELSE 0.0 END), 0.0)
        |             / CAST(cb AS DOUBLE)
        |           + (td1 * CAST(tm1 AS DOUBLE) + td2 * CAST(tm2 AS DOUBLE)
        |              + td3 * CAST(tm3 AS DOUBLE)) / CAST(cb AS DOUBLE) * p2 END AS p,
        |         cw
        |  FROM j2
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS sum_prob_e12,
        |         count(CASE WHEN cw IS NULL THEN 1 END) AS n_oov
        |  FROM j3 GROUP BY 1
        |$LmScoreResultSql""".stripMargin)),
    DriverQuery("q_collocations", (s, dir) => {
      // PMI-ranked bigram collocations from the corpus-trained LM counts
      withLm(s, dir)((model, _) => graft.pipeline.Lm.collocations(model, minCount = 5L))
    },
      Sql(raw"""$LmCorpusSql
        |), stats AS (
        |  SELECT sum(c) AS n_tokens FROM uni
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cab FROM bit GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT bi.w1, bi.w2, bi.cab AS c,
        |       round(ln(CAST(bi.cab AS DOUBLE) * CAST(stats.n_tokens AS DOUBLE)
        |                / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6) AS pmi
        |FROM bi
        |JOIN uni ua ON ua.w = bi.w1
        |JOIN uni ub ON ub.w = bi.w2
        |CROSS JOIN stats""".stripMargin)),
    DriverQuery("q_lm_buckets", (s, dir) => {
      // CCNet head/middle/tail terciles by mean transition probability
      withLm(s, dir)((model, d) => graft.pipeline.Lm
        .perplexityBuckets(model, d, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusStatsSql
        |$LmBigramCountsSql
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM sdoc)
        |), j AS (
        |  SELECT st.doc_id,
        |$LmInterpolatedBigramSql
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS s12
        |  FROM j GROUP BY 1
        |), m AS (
        |  SELECT d.doc_id,
        |         CASE WHEN coalesce(a.n_trans, 0) = 0 THEN 0.0
        |              ELSE CAST(a.s12 AS DOUBLE) / CAST(a.n_trans AS DOUBLE) END AS mean
        |  FROM documents d LEFT JOIN agg a USING (doc_id)
        |), thr AS (
        |  SELECT quantile_cont(mean, 1.0/3) AS t1, quantile_cont(mean, 2.0/3) AS t2 FROM m
        |)
        |SELECT doc_id,
        |       (CASE WHEN mean >= t1 THEN 1 ELSE 0 END
        |        + CASE WHEN mean >= t2 THEN 1 ELSE 0 END) AS bucket
        |FROM m, thr""".stripMargin)),
    DriverQuery("q_lm_filter", (s, dir) => {
      // CCNet paragraph filter: frame docs sentence-per-paragraph, plant a
      // gibberish paragraph on doc_id % 4 == 0; paragraphs below the mean
      // transition probability floor drop, survivors rebuild in order
      val d = docs(s, dir)
      val framed = d.select(col("doc_id"), concat(
        regexp_replace(col("text"), "\\. ", ".\n\n"),
        when(col("doc_id") % 4 === 0,
          lit("\n\nzzqx9 vvkk7 zzqx9 qqy3")).otherwise(lit(""))).as("t"))
      withLm(s, dir)((model, _) => graft.pipeline.Lm.filterParagraphs(
          model, framed, col("doc_id"), col("t"), minMeanProbE12 = 1000000000L)
        .withColumnRenamed("id", "doc_id"))
    },
      Sql(raw"""$LmCorpusStatsSql
        |$LmBigramCountsSql
        |), framed AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '\. ', '.' || chr(10) || chr(10), 'g')
        |           || CASE WHEN doc_id % 4 = 0
        |                   THEN chr(10) || chr(10) || 'zzqx9 vvkk7 zzqx9 qqy3'
        |                   ELSE '' END AS t
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, pos, ps[pos] AS para
        |  FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS pos
        |        FROM (SELECT doc_id, regexp_split_to_array(t, '\n\n+') AS ps FROM framed))
        |), pw AS (
        |  SELECT doc_id, pos, para,
        |         list_filter(string_split_regex(lower(para), '\s+'), x -> x <> '') AS ws
        |  FROM paras
        |), st AS (
        |  SELECT doc_id, pos, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, pos, ws, unnest(range(1, len(ws))) AS i FROM pw)
        |), j AS (
        |  SELECT st.doc_id, st.pos,
        |$LmInterpolatedBigramSql
        |  SELECT doc_id, pos, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS s12
        |  FROM j GROUP BY 1, 2
        |), keep AS (
        |  SELECT p.doc_id, p.pos, p.para
        |  FROM pw p LEFT JOIN agg a ON a.doc_id = p.doc_id AND a.pos = p.pos
        |  WHERE a.n_trans IS NULL OR a.s12 >= 1000000000 * a.n_trans
        |), r AS (
        |  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin)),
    DriverQuery("q_dsir_weights", (s, dir) => {
      // DSIR targeted selection: importance-weight every doc against the
      // English slice as the target distribution (hashed ngram LLR).
      // Scoring runs the collected-model inline projection (zero shuffle,
      // bit-identical to the join path — spec-pinned)
      val d = docs(s, dir)
      val model = graft.pipeline.Dsir.train(
        d, col("text"), d.where(col("lang") === "en"), col("text"), nBuckets = 4096)
      // collectModel drains the llr table to the driver — release the
      // pinned cache right away; the inline scorer needs no model tables
      val collected = graft.pipeline.Dsir.collectModel(model)
      model.release()
      graft.pipeline.Dsir.weightInline(collected, d, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    },
      Sql("""WITH wdoc AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id, lang, f FROM (
        |    SELECT doc_id, lang, unnest(ws) AS f FROM wdoc
        |    UNION ALL
        |    SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS f
        |    FROM (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM wdoc)
        |  )
        |), fb AS (
        |  SELECT doc_id, lang,
        |         CAST(concat('0x', substring(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
        |  FROM feats
        |), rc AS (
        |  SELECT bucket, count(*) AS c FROM fb GROUP BY 1
        |), tc AS (
        |  SELECT bucket, count(*) AS c FROM fb WHERE lang = 'en' GROUP BY 1
        |), nr AS (SELECT sum(c) AS n FROM rc), nt AS (SELECT sum(c) AS n FROM tc),
        |llr AS (
        |  SELECT r.range AS bucket,
        |         CAST(round(ln(
        |           ((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0) / (CAST(nt.n AS DOUBLE) + 1.0 * 4096))
        |           / ((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0) / (CAST(nr.n AS DOUBLE) + 1.0 * 4096))
        |         ) * 1e6) AS BIGINT) AS llr_e6
        |  FROM range(4096) r
        |  LEFT JOIN rc ON rc.bucket = r.range
        |  LEFT JOIN tc ON tc.bucket = r.range
        |  CROSS JOIN nr CROSS JOIN nt
        |), agg AS (
        |  SELECT fb.doc_id, count(*) AS n_feats, sum(llr.llr_e6) AS weight_e6
        |  FROM fb JOIN llr USING (bucket) GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(n_feats, 0) AS n_feats,
        |       CAST(coalesce(weight_e6, 0) AS BIGINT) AS weight_e6
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin)))
}
