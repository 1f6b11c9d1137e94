package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver queries of the dq/rules family: data-quality checks, rule runners,
 * engine and folder, and the rule SQL functions. */
object DqQueries {

  /** Rows per (rule, result) in the flattened `DataQuality` column. */
  private def resultCounts(withDq: DataFrame): DataFrame =
    withDq.select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .groupBy(col("r.ruleId").as("ruleId"), col("r.ruleResult").as("ruleResult"))
      .agg(count(lit(1)).as("cnt"))

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_dq_ordering", (s, dir) =>
      // per-user event-time ordering health, with every 23rd event's ts
      // pushed an hour back to plant regressions
      graft.rules.DatasetChecks.orderingReport(
        events(s, dir).select(col("user_id"), col("event_id"),
          when(col("event_id") % 23 === 0, col("ts") - expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).as("ts")),
        col("user_id"), col("ts"), col("event_id")),
      Sql("""WITH f AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_id % 23 = 0 THEN ts - INTERVAL 1 HOUR ELSE ts END AS ts
        |  FROM events
        |), l AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM f
        |)
        |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS keys,
        |       CAST(count(CASE WHEN prev IS NOT NULL THEN 1 END) AS BIGINT) AS pairs,
        |       CAST(count(CASE WHEN prev > ts THEN 1 END) AS BIGINT) AS regressions,
        |       CAST(count(CASE WHEN prev > ts THEN 1 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(count(CASE WHEN prev IS NOT NULL THEN 1 END) AS BIGINT), 0)
        |         AS regression_ppm
        |FROM l""".stripMargin)),
    DriverQuery("q_dq_shadow", (s, dir) => {
      // shadow-test a suite edit before deploying it: rule 100 tightens
      // qty<=50 → qty<=30, rule 201 loosens tax<0.04 → tax<0.05; the
      // report prices both edits in flips per rule
      val suiteB = RuleSuite(Id(1, 2), Seq(
        RuleSet(Id(10, 1), Seq(
          Rule(Id(100, 2), "l_quantity <= 30"),
          Rule(Id(101, 1), "l_extendedprice > 0"))),
        RuleSet(Id(20, 1), Seq(
          Rule(Id(200, 1), "CASE WHEN l_discount <= 0.06 THEN 1 ELSE -1 END"),
          Rule(Id(201, 2), "CASE WHEN l_tax < 0.05 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END")))))
      RuleRunner.compareSuites(lineitem(s, dir), lineitemSuite, suiteB)
    },
      Sql("""WITH f AS (
        |  SELECT (l_quantity <= 50) AS a100, (l_quantity <= 30) AS b100,
        |         (l_extendedprice > 0) AS a101, (l_extendedprice > 0) AS b101,
        |         (l_discount <= 0.06) AS p200,
        |         (l_tax < 0.04) AS a201, (l_tax < 0.05) AS b201
        |  FROM lineitem
        |), u AS (
        |  SELECT 10 AS setId, 100 AS ruleId, a100 AS pa, b100 AS pb FROM f
        |  UNION ALL SELECT 10, 101, a101, b101 FROM f
        |  UNION ALL SELECT 20, 200, p200, p200 FROM f
        |  UNION ALL SELECT 20, 201, a201, b201 FROM f
        |)
        |SELECT setId, ruleId,
        |       CAST(count(*) AS BIGINT) AS evaluated,
        |       CAST(count(CASE WHEN pa = pb THEN 1 END) AS BIGINT) AS same,
        |       CAST(count(CASE WHEN pa AND NOT pb THEN 1 END) AS BIGINT) AS a_pass_b_fail,
        |       CAST(count(CASE WHEN NOT pa AND pb THEN 1 END) AS BIGINT) AS a_fail_b_pass,
        |       (CAST(count(CASE WHEN pa AND NOT pb THEN 1 END) AS BIGINT)
        |        + CAST(count(CASE WHEN NOT pa AND pb THEN 1 END) AS BIGINT)) * 1000000
        |         // NULLIF(CAST(count(*) AS BIGINT), 0) AS flip_ppm
        |FROM u GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_dq_fd", (s, dir) =>
      // does doc_id%100 determine lang? (it doesn't — drift planted by
      // construction, plus nulls in the dependent for the loud-null path)
      graft.rules.DatasetChecks.functionalDependencyReport(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 17 === 0, lit(null)).otherwise(col("lang")).as("lang")),
        col("lang"), col("doc_id") % 100),
      Sql("""WITH f AS (
        |  SELECT doc_id % 100 AS det,
        |         CASE WHEN doc_id % 17 = 0 THEN NULL ELSE lang END AS dep
        |  FROM documents
        |), g AS (
        |  SELECT det,
        |         count(DISTINCT dep)
        |           + max(CASE WHEN dep IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM f GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS determinants,
        |       CAST(count(CASE WHEN v > 1 THEN 1 END) AS BIGINT) AS violating_determinants,
        |       CAST(count(CASE WHEN v > 1 THEN 1 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(count(*) AS BIGINT), 0) AS violation_ppm,
        |       CAST(max(v) AS BIGINT) AS max_variants
        |FROM g""".stripMargin)),
    DriverQuery("q_dq_uniqueness", (s, dir) =>
      // planted duplicate keys: doc_id % 450 collides for the top 50 ids
      graft.rules.DatasetChecks.uniquenessReport(
        docs(s, dir), col("doc_id") % 450),
      Sql("""WITH g AS (SELECT doc_id % 450 AS k, count(*) AS c FROM documents GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS distinct_keys,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rows_in_dup_keys,
        |       CAST(max(c) AS BIGINT) AS max_per_key,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(c) AS BIGINT), 0) AS dup_ppm
        |FROM g""".stripMargin)),
    DriverQuery("q_dq_value_drift", (s, dir) => {
      // release-to-release column drill-in: the "new" snapshot mutates
      // lang for doc_id%7, nulls source for doc_id%11, keeps text
      val d = docs(s, dir)
      val newer = d.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("source")).as("source"),
        col("text"))
      graft.rules.DatasetChecks.valueDrift(
        d.select("doc_id", "lang", "source", "text"), newer, Seq("doc_id"))
    },
      Sql("""WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source,
        |    text
        |  FROM documents
        |), j AS (
        |  SELECT o.lang AS ol, n.lang AS nl, o.source AS os, n.source AS ns,
        |         o.text AS ot, n.text AS nt
        |  FROM documents o JOIN n USING (doc_id)
        |), c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rows,
        |    CAST(count(CASE WHEN ol IS DISTINCT FROM nl THEN 1 END) AS BIGINT) AS c_lang,
        |    CAST(count(CASE WHEN os IS DISTINCT FROM ns THEN 1 END) AS BIGINT) AS c_source,
        |    CAST(count(CASE WHEN ot IS DISTINCT FROM nt THEN 1 END) AS BIGINT) AS c_text
        |  FROM j
        |)
        |SELECT 'lang' AS column, rows AS matched_rows, c_lang AS changed,
        |       c_lang * 1000000 // nullif(rows, 0) AS changed_ppm FROM c
        |UNION ALL SELECT 'source', rows, c_source,
        |       c_source * 1000000 // nullif(rows, 0) FROM c
        |UNION ALL SELECT 'text', rows, c_text,
        |       c_text * 1000000 // nullif(rows, 0) FROM c""".stripMargin)),
    DriverQuery("q_dq_benford", (s, dir) =>
      // forensic first-digit conformity over order totals (organically
      // grown amounts): per digit observed vs Benford expectation, exact
      // ppm; the 9 expected constants are Java Math.log10 floors inlined
      // in the oracle so libm differences can't flip a floor
      graft.rules.DatasetChecks.benfordReport(
        orders(s, dir), col("o_totalprice")),
      Sql("""WITH exp AS (
        |  SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        |    (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |    (9, 45757)) AS t(digit, expected_ppm)
        |), obs AS (
        |  SELECT CAST(floor(v / pow(10.0, floor(log10(v)))) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT abs(CAST(o_totalprice AS DOUBLE)) AS v FROM orders)
        |  WHERE v IS NOT NULL AND NOT isnan(v) AND v > 0 GROUP BY 1
        |), tot AS (SELECT sum(n) AS t FROM obs)
        |SELECT e.digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
        |       CAST(COALESCE(o.n, 0) * 1000000 // nullif(tot.t, 0) AS BIGINT) AS observed_ppm,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(abs(COALESCE(o.n, 0) * 1000000 // nullif(tot.t, 0)
        |         - e.expected_ppm) AS BIGINT) AS deviation_ppm
        |FROM exp e LEFT JOIN obs o USING (digit), tot""".stripMargin)),
    DriverQuery("q_dq_suggest", (s, dir) =>
      // profile-and-propose over the documents table: the suggested suite
      // (not_null / unique / in_set / range / max_length / non_negative)
      // is replayed stat-for-stat and string-for-string by the oracle
      graft.rules.Suggestions.suggestRules(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"), inSetMaxDistinct = 25),
      // same profile stats, same rounding (ppm ceilinged to the next 10000),
      // same sorted-and-quoted value sets
      Sql("""WITH n AS (SELECT count(*) AS n FROM documents),
        |prof AS (
        |  SELECT 'doc_id' AS column_name, count(doc_id) AS nn,
        |         min(doc_id) AS mn, max(doc_id) AS mx,
        |         CAST(NULL AS BIGINT) AS ml, count(DISTINCT doc_id) AS nd FROM documents
        |  UNION ALL SELECT 'text', count(text), NULL, NULL,
        |         max(length(text)), count(DISTINCT text) FROM documents
        |  UNION ALL SELECT 'lang', count(lang), NULL, NULL,
        |         max(length(lang)), count(DISTINCT lang) FROM documents
        |  UNION ALL SELECT 'source', count(source), NULL, NULL,
        |         max(length(source)), count(DISTINCT source) FROM documents
        |  UNION ALL SELECT 'n_chars', count(n_chars), min(n_chars), max(n_chars),
        |         NULL, count(DISTINCT n_chars) FROM documents
        |), sets AS (
        |  SELECT 'lang' AS column_name, string_agg(replace(v, '''', ''''''), ''',''' ORDER BY v) AS body
        |  FROM (SELECT DISTINCT lang AS v FROM documents WHERE lang IS NOT NULL)
        |  UNION ALL
        |  SELECT 'source', string_agg(replace(v, '''', ''''''), ''',''' ORDER BY v)
        |  FROM (SELECT DISTINCT source AS v FROM documents WHERE source IS NOT NULL)
        |)
        |SELECT p.column_name, 'not_null' AS kind,
        |       p.column_name || ' IS NOT NULL' AS rule_sql, 'null_ppm=0' AS details
        |FROM prof p, n WHERE p.nn = n.n AND n.n > 0
        |UNION ALL
        |SELECT p.column_name, 'completeness',
        |       'null_ppm(' || p.column_name || ') <= ' ||
        |         (((n.n - p.nn) * 1000000 // n.n + 9999) // 10000 * 10000),
        |       'observed_null_ppm=' || ((n.n - p.nn) * 1000000 // n.n)
        |FROM prof p, n WHERE p.nn < n.n
        |UNION ALL
        |SELECT column_name, 'unique', column_name || ' IS UNIQUE', NULL
        |FROM prof WHERE nn > 0 AND nd = nn
        |UNION ALL
        |SELECT s.column_name, 'in_set',
        |       s.column_name || ' IN (''' || s.body || ''')', 'n_distinct=' || p.nd
        |FROM sets s JOIN prof p USING (column_name) WHERE p.nd > 0 AND p.nd <= 25
        |UNION ALL
        |SELECT column_name, 'non_negative', column_name || ' >= 0', NULL
        |FROM prof WHERE mn IS NOT NULL AND mn >= 0 AND nn > 0
        |UNION ALL
        |SELECT column_name, 'range',
        |       column_name || ' BETWEEN ' || mn || ' AND ' || mx, NULL
        |FROM prof WHERE mn IS NOT NULL AND nn > 0
        |UNION ALL
        |SELECT column_name, 'max_length',
        |       'length(' || column_name || ') <= ' || ml, NULL
        |FROM prof WHERE ml IS NOT NULL AND nn > 0""".stripMargin)),
    DriverQuery("q_dq_orphans", (s, dir) =>
      // referential integrity lineitem→orders with every 13th parent
      // withheld: deterministic dangling keys
      graft.rules.DatasetChecks.referentialReport(
        lineitem(s, dir), col("l_orderkey"),
        orders(s, dir).where(col("o_orderkey") % 13 =!= 0), col("o_orderkey")),
      Sql("""WITH p AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS child_rows,
        |       CAST(count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS BIGINT) AS null_fk,
        |       CAST(count(CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS orphans,
        |       CAST(count(CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL THEN 1 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(count(*) AS BIGINT)
        |                   - CAST(count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS BIGINT), 0) AS orphan_ppm
        |FROM lineitem l LEFT JOIN p ON l.l_orderkey = p.o_orderkey""".stripMargin)),
    DriverQuery("q_dq_completeness", (s, dir) =>
      // null profile over a frame with planted missingness
      graft.rules.DatasetChecks.completenessReport(
        orders(s, dir).select(
          col("o_orderkey"),
          when(col("o_orderkey") % 9 === 0, lit(null)).otherwise(col("o_orderstatus")).as("status"),
          when(col("o_orderkey") % 4 === 0, lit(null)).otherwise(col("o_totalprice")).as("price")),
        Seq("o_orderkey", "status", "price")),
      Sql("""WITH f AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 9 = 0 THEN NULL ELSE o_orderstatus END AS status,
        |         CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS price
        |  FROM orders
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rows,
        |         CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n0,
        |         CAST(count(CASE WHEN status IS NULL THEN 1 END) AS BIGINT) AS n1,
        |         CAST(count(CASE WHEN price IS NULL THEN 1 END) AS BIGINT) AS n2
        |  FROM f
        |)
        |SELECT 'o_orderkey' AS column, rows, n0 AS nulls, n0 * 1000000 // NULLIF(rows, 0) AS null_ppm FROM t
        |UNION ALL SELECT 'status', rows, n1, n1 * 1000000 // NULLIF(rows, 0) FROM t
        |UNION ALL SELECT 'price', rows, n2, n2 * 1000000 // NULLIF(rows, 0) FROM t""".stripMargin)),
    DriverQuery("q_dq_stats", (s, dir) =>
      // the per-rule health dashboard over the lineitem suite: evaluation
      // and outcome counts plus exact-ppm pass rate, one combining pass
      RuleRunner.ruleStats(lineitem(s, dir), lineitemSuite),
      Sql("""WITH r AS (
        |  SELECT 10 AS setId, 100 AS ruleId,
        |         CASE WHEN l_quantity <= 50 THEN 100000 ELSE 0 END AS res FROM lineitem
        |  UNION ALL SELECT 10, 101, CASE WHEN l_extendedprice > 0 THEN 100000 ELSE 0 END FROM lineitem
        |  UNION ALL SELECT 20, 200, CASE WHEN l_discount <= 0.06 THEN 100000 ELSE -1 END FROM lineitem
        |  UNION ALL SELECT 20, 201, CASE WHEN l_tax < 0.04 THEN 100000 ELSE 50000 END FROM lineitem
        |)
        |SELECT 1 AS suiteId, setId, ruleId,
        |       CAST(count(*) AS BIGINT) AS evaluated,
        |       CAST(count(CASE WHEN res = 100000 THEN 1 END) AS BIGINT) AS passed,
        |       CAST(count(CASE WHEN res = 0 THEN 1 END) AS BIGINT) AS failed,
        |       CAST(count(CASE WHEN res = -1 THEN 1 END) AS BIGINT) AS soft_failed,
        |       CAST(count(CASE WHEN res = -2 THEN 1 END) AS BIGINT) AS disabled,
        |       CAST(count(CASE WHEN res > 0 AND res < 100000 THEN 1 END) AS BIGINT) AS probabilistic,
        |       CAST(count(CASE WHEN res = 100000 THEN 1 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(count(*) AS BIGINT)
        |                   - CAST(count(CASE WHEN res = -2 THEN 1 END) AS BIGINT), 0) AS pass_rate_ppm
        |FROM r GROUP BY 1, 2, 3""".stripMargin)),
    DriverQuery("q_dq_flatten", (s, dir) =>
      resultCounts(RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)),
      Sql(LineitemSuiteResultCountsSql)),
    DriverQuery("q_dq_flatten_fast", (s, dir) => {
      // scale path: direct flattened rows, no intermediate map structs
      RuleRunner.addFlattenedResults(lineitem(s, dir), lineitemSuite)
        .groupBy(col("ruleId"), col("ruleResult"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql(LineitemSuiteResultCountsSql)),
    DriverQuery("q_dq_curation", (s, dir) => {
      // the two halves of the library meet: data-quality RULES evaluate
      // curation gates — pipeline functions (token_count, lang_id) are
      // SQL-registered, so they compose into rule expressions and the
      // whole suite compiles into ONE projection like any DQ run
      resultCounts(RuleRunner.addDataQuality(docs(s, dir), curationSuite))
    },
      Sql(raw"""$DocLangSql
        |), r AS (
        |  SELECT 300 AS ruleId,
        |         CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 20
        |              THEN 100000 ELSE 0 END AS ruleResult
        |  FROM documents
        |  UNION ALL
        |  SELECT 301, CASE WHEN lg = 'en' THEN 100000 ELSE 0 END
        |  FROM documents JOIN lang USING (doc_id)
        |  UNION ALL
        |  SELECT 302, CASE WHEN n_chars < 2000 THEN 100000 ELSE 0 END FROM documents
        |) SELECT ruleId, ruleResult, count(*) AS cnt FROM r GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_dq_examples", (s, dir) => {
      // the debugging report: per failing rule, how many rows failed and
      // the 5 lowest failing ids to go look at (curation-gate suite)
      RuleRunner.failureExamples(docs(s, dir), curationSuite, col("doc_id"), k = 5)
    },
      Sql(raw"""$DocLangSql
        |), f AS (
        |  SELECT 300 AS ruleId, doc_id FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) < 20
        |  UNION ALL
        |  SELECT 301, doc_id FROM documents JOIN lang USING (doc_id) WHERE lg <> 'en'
        |  UNION ALL
        |  SELECT 302, doc_id FROM documents WHERE n_chars >= 2000
        |), agg AS (
        |  SELECT ruleId, count(*) AS n_failed FROM f GROUP BY 1
        |), ex AS (
        |  SELECT ruleId, doc_id AS example_id,
        |         CAST(row_number() OVER (PARTITION BY ruleId ORDER BY doc_id) AS INT) AS rank
        |  FROM f
        |)
        |SELECT a.ruleId, a.n_failed, e.rank, e.example_id
        |FROM agg a JOIN ex e USING (ruleId) WHERE e.rank <= 5""".stripMargin)),
    DriverQuery("q_dq_overall", (s, dir) => {
      RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CASE WHEN l_quantity <= 50 AND l_extendedprice > 0 AND l_tax < 0.04
        |            THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    DriverQuery("q_dq_prob", (s, dir) => {
      // probability(): rule-result int → double
      RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)
        .select(graft.functions.Registry.rewriteCol(
          RuleRunner.ruleResult(col("DataQuality"),
            lit(Id.pack(Id(1, 1))), lit(Id.pack(Id(20, 1))), lit(Id.pack(Id(201, 1))))
            .cast("double").divide(lit(100000)).as("p")))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CAST(CASE WHEN l_tax < 0.04 THEN 100000 ELSE 50000 END AS DOUBLE) / 100000 AS p,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    DriverQuery("q_rule_engine", (s, dir) => {
      RuleEngine.addRuleEngine(orders(s, dir), ordersEngineSuite, "re")
        .groupBy(col("re.result").as("category"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
        |            WHEN o_totalprice >= 100000 THEN 'mid'
        |            WHEN o_totalprice >= 0 THEN 'low' END AS category,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin)),
    DriverQuery("q_rule_engine_debug", (s, dir) => {
      RuleEngine.addRuleEngine(orders(s, dir), ordersEngineSuite, "re", debugMode = true)
        .groupBy(size(col("re.result")).as("triggers"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT (CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS triggers,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin)),
    DriverQuery("q_rule_folder", (s, dir) => {
      RuleFolder.addRuleFolder(
          lineitem(s, dir), lineitemFolderSuite,
          struct(col("l_extendedprice").as("price"), col("l_discount").as("discount")), "rf")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("rf.result.price").as("folded_price"))
    },
      Sql("""SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_discount > 0.02 OR l_tax > 0.04 THEN
        |         (CASE WHEN l_discount > 0.02 THEN l_extendedprice * (1 - l_discount)
        |               ELSE l_extendedprice END
        |          + CASE WHEN l_tax > 0.04 THEN 10 ELSE 0 END)
        |       END AS folded_price
        |FROM lineitem""".stripMargin)),
    DriverQuery("q_expression_runner", (s, dir) => {
      val suite = RuleSuite(Id(5, 1), Seq(RuleSet(Id(50, 1), Seq(
        Rule(Id(510, 1), "CAST(l_quantity AS INT) * 2"),
        Rule(Id(511, 1), "upper(l_returnflag)")))))
      val set = Id.pack(Id(50, 1))
      ExpressionRunner.addExpressionResults(lineitem(s, dir), suite, "er")
        .select(
          element_at(element_at(col("er.ruleSetResults"), set), Id.pack(Id(510, 1))).getField("result").as("r1"),
          element_at(element_at(col("er.ruleSetResults"), set), Id.pack(Id(510, 1))).getField("resultDDL").as("ddl1"),
          element_at(element_at(col("er.ruleSetResults"), set), Id.pack(Id(511, 1))).getField("result").as("r2"))
        .groupBy(col("r1"), col("ddl1"), col("r2"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CAST(CAST(l_quantity AS INT) * 2 AS VARCHAR) AS r1,
        |       'INT' AS ddl1, upper(l_returnflag) AS r2, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin)),
    DriverQuery("q_expression_flat", (s, dir) => {
      // flat emission: one column per rule, struct assembled only on persist
      val suite = RuleSuite(Id(5, 1), Seq(RuleSet(Id(50, 1), Seq(
        Rule(Id(510, 1), "CAST(l_quantity AS INT) * 2"),
        Rule(Id(511, 1), "upper(l_returnflag)")))))
      val c510 = ExpressionRunner.flatColumnName("er", Id(50, 1), Id(510, 1))
      val c511 = ExpressionRunner.flatColumnName("er", Id(50, 1), Id(511, 1))
      ExpressionRunner.addFlatExpressionResults(lineitem(s, dir), suite, "er")
        .select(
          col(s"`$c510`.result").as("r1"), col(s"`$c510`.resultDDL").as("ddl1"),
          col(s"`$c511`.result").as("r2"))
        .groupBy(col("r1"), col("ddl1"), col("r2"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CAST(CAST(l_quantity AS INT) * 2 AS VARCHAR) AS r1,
        |       'INT' AS ddl1, upper(l_returnflag) AS r2, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin)),
    DriverQuery("q_lambda", (s, dir) => {
      val suite = RuleSuite(Id(6, 1),
        Seq(RuleSet(Id(60, 1), Seq(Rule(Id(610, 1), "disc_price(l_extendedprice, l_discount) < 90000")))),
        Seq(LambdaFunction("disc_price", "(p, d) -> p * (1 - d)", Id(900, 1))))
      RuleRunner.addDataQuality(lineitem(s, dir), suite)
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CASE WHEN l_extendedprice * (1 - l_discount) < 90000 THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    DriverQuery("q_lambda_sql", (s, dir) => {
      // session-global lambdas: callable from plain spark.sql, nested bodies
      // expand through the same substitution as rule-embedded usage
      graft.rules.Lambdas.registerLambdaFunctions(s, Seq(
        LambdaFunction("disc_price", "(p, d) -> p * (1 - d)", Id(901, 1)),
        LambdaFunction("net_price", "(p, d, t) -> disc_price(p, d) * (1 + t)", Id(902, 1))))
      lineitem(s, dir).createOrReplaceTempView("graft_li_sql")
      s.sql("""SELECT l_orderkey, l_linenumber,
              |       net_price(l_extendedprice, l_discount, l_tax) AS net
              |FROM graft_li_sql""".stripMargin)
    },
      Sql("""SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net
        |FROM lineitem""".stripMargin)),
    DriverQuery("q_pack_ints", (s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.Registry.packInts(
          col("l_partkey").cast("int"), col("l_suppkey").cast("int")).as("packed"))
        .withColumn("unpacked_id", graft.functions.Registry.idHi(col("packed")))
        .withColumn("unpacked_version", graft.functions.Registry.idLo(col("packed")))
    },
      Sql("""SELECT l_orderkey, l_linenumber,
        |       (CAST(l_partkey AS BIGINT) << 32) | (CAST(l_suppkey AS BIGINT) & 4294967295) AS packed,
        |       CAST(l_partkey AS INT) AS unpacked_id,
        |       CAST(l_suppkey AS INT) AS unpacked_version
        |FROM lineitem""".stripMargin)),
    DriverQuery("q_update_field", (s, dir) => {
      orders(s, dir)
        .select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"), col("o_orderstatus").as("status")).as("sdata"))
        .select(col("o_orderkey"),
          graft.functions.Registry.updateField(col("sdata"),
            Seq("price" -> col("sdata.price") * 2, "flag" -> lit("x"))).as("s2"))
        .select(col("o_orderkey"),
          col("s2.price").as("price2"), col("s2.status").as("status"), col("s2.flag").as("flag"))
    },
      Sql("""SELECT o_orderkey, o_totalprice * 2 AS price2, o_orderstatus AS status, 'x' AS flag
        |FROM orders""".stripMargin)),
    DriverQuery("q_agg_expr", (s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir).select(
        RuleRunner.parseRule(
          "agg_expr('BIGINT', l_quantity > 25, sum_with(s -> s + CAST(l_quantity AS BIGINT)), return_sum())", su).as("qty_sum"),
        RuleRunner.parseRule(
          "agg_expr(l_quantity > 25, inc(CAST(l_quantity AS BIGINT)), meanF())", su).as("mean_qty"))
    },
      Sql("""SELECT CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_quantity > 25) AS BIGINT) AS qty_sum,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_quantity > 25) AS DOUBLE)
        |         / count(*) FILTER (WHERE l_quantity > 25) AS mean_qty
        |FROM lineitem""".stripMargin)),
    DriverQuery("q_agg_map_with", (s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir).select(
        RuleRunner.parseRule(
          "agg_expr('MAP<STRING,BIGINT>', 1 > 0, map_with(l_returnflag, e -> e + 1), return_sum())", su).as("m"))
        .select(explode(col("m")).as(Seq("flag", "flag_cnt")))
    },
      Sql("""SELECT l_returnflag AS flag, count(*) AS flag_cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    DriverQuery("q_map_lookup", (s, dir) => {
      graft.lookups.Lookups.registerMapLookups(s, Map(
        "nations" -> (() => {
          val n = s.read.parquet(s"$dir/nation.parquet")
          (n, col("n_nationkey"), col("n_name"))
        })))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          RuleRunner.parseRule("map_lookup(c_nationkey, 'nations')", RuleSuite(Id(0, 0), Nil)).as("n_name"),
          RuleRunner.parseRule("map_contains(c_nationkey, 'nations')", RuleSuite(Id(0, 0), Nil)).as("known"))
    },
      Sql("""SELECT c_custkey, n_name, n_name IS NOT NULL AS known
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),
    DriverQuery("q_bloom", (s, dir) => {
      // oracle=sql: the no-false-negative guarantee fully
      // DETERMINES the result — every lineitem orderkey is present in
      // orders, so every probe must be positive and the group-by collapses
      // to exactly one (true, count(*)) row; any bloom bit-layout bug that
      // produced a false negative would split the groups and hash-mismatch
      graft.lookups.Lookups.registerBloomFrom(s, "ordkeys",
        orders(s, dir), col("o_orderkey"), 200000, 0.01)
      lineitem(s, dir)
        .select(RuleRunner.parseRule("probability_in(l_orderkey, 'ordkeys')", RuleSuite(Id(0, 0), Nil)).as("p"))
        .groupBy((col("p") > 0).as("hit")).agg(count(lit(1)).as("cnt"))
    },
      // the no-false-negative contract pins the whole result: one row,
      // all 60k probes positive
      Sql("""SELECT true AS hit, count(*) AS cnt FROM lineitem""")),
    DriverQuery("q_yaml", (s, dir) => {
      orders(s, dir).select(col("o_orderkey"),
        RuleRunner.parseRule("to_yaml(struct(o_orderstatus AS s))", RuleSuite(Id(0, 0), Nil)).as("y"))
    },
      Sql("""SELECT o_orderkey, concat('s: ', o_orderstatus, chr(10)) AS y FROM orders""".stripMargin)),
    DriverQuery("q_comparable_maps", (s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir)
        .select(RuleRunner.parseRule("comparable_maps(map('rf', l_returnflag, 'ls', l_linestatus))", su).as("cm"))
        .groupBy(col("cm")).agg(count(lit(1)).as("cnt"))
        .select(
          element_at(col("cm"), 1).getField("value").as("ls"),
          element_at(col("cm"), 2).getField("value").as("rf"),
          col("cnt"))
    },
      Sql("""SELECT l_linestatus AS ls, l_returnflag AS rf, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_rules_roundtrip", (s, dir) => {
      // serialize → DF → read back → run: must equal q_dq_overall
      val df = Serialization.toRuleSuiteDF(s, lineitemSuite)
      val read = Serialization.readRulesFromDF(df,
        col("ruleSuiteId"), col("ruleSuiteVersion"), col("ruleSetId"), col("ruleSetVersion"),
        col("ruleId"), col("ruleVersion"), col("ruleExpr"))
      RuleRunner.addDataQuality(lineitem(s, dir), read(Id(1, 1)))
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT CASE WHEN l_quantity <= 50 AND l_extendedprice > 0 AND l_tax < 0.04
        |            THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    DriverQuery("q_as_uuid", (s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        Bridge.column(graft.functions.AsUuidExpr(
          Bridge.expression(col("l_orderkey")), Bridge.expression(col("l_partkey")))).as("uuid"))
    },
      Sql("""SELECT l_orderkey, l_linenumber,
        |       lower(concat(substr(h,1,8),'-',substr(h,9,4),'-',substr(h,13,4),'-',substr(l,1,4),'-',substr(l,5,12))) AS uuid
        |FROM (SELECT l_orderkey, l_linenumber,
        |             lpad(hex(l_partkey),16,'0') AS h, lpad(hex(l_orderkey),16,'0') AS l
        |      FROM lineitem) t""".stripMargin)))
}
