package graft

import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §5/§7. */
object SparkEntry {

  /** Shared demo DQ suite over lineitem: bool rules, int-token rule,
   * probability rule — exercises coercion + overall fold. */
  def lineitemSuite: RuleSuite = RuleSuite(
    Id(1, 1),
    Seq(
      RuleSet(Id(10, 1), Seq(
        Rule(Id(100, 1), "l_quantity <= 50"),
        Rule(Id(101, 1), "l_extendedprice > 0"))),
      RuleSet(Id(20, 1), Seq(
        Rule(Id(200, 1), "CASE WHEN l_discount <= 0.06 THEN 1 ELSE -1 END"),
        Rule(Id(201, 1), "CASE WHEN l_tax < 0.04 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END")))))

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** documents staged once per JVM as a jsonl front door for the
   * q_pipeline_mixture config chain — fixture synthesis is not the
   * pipeline under test (the BatchPipeline.stagedOnce posture). */
  private def mixtureJsonlOnce(s: SparkSession, dir: String): String =
    fixtureDir("pmix_src", dir) {
      docs(s, dir).select(col("doc_id"), col("text"))
        .coalesce(4).write.mode("overwrite").json(_)
    }

  /** A temp dir `write` fills once per (process, sf dir), for fixtures and
   * prebuilt indexes that are setup, not the query under test. */
  private def fixtureDir(kind: String, dir: String)(write: String => Unit): String =
    Harness.once(kind, dir) {
      val p = java.nio.file.Files.createTempDirectory(s"graft_q_$kind").toString
      write(p)
      p
    }

  /** Fixed-point PageRank over the deterministic synthetic link graph on
   * documents (3 pseudo-links per doc, self-loops dropped) — shared by
   * q_pagerank and the q_hybrid_rrf static prior. */
  private def docEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    d.select(col("doc_id").as("src"), ((col("doc_id") * 31 + 7) % n).as("dst"))
      .unionAll(d.select(col("doc_id"), (col("doc_id") * 97 + 13) % n))
      .unionAll(d.select(col("doc_id"), (col("doc_id") * 5 + 1) % n))
      .where(col("src") =!= col("dst"))
  }

  private def docRanks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graphs.pageRankFixed(
      docEdges(s, dir), col("src"), col("dst"),
      nodes = docs(s, dir).select(col("doc_id")), nodeIdCol = col("doc_id"))

  /** Events table with `ts` normalized to TIMESTAMP micros regardless of how
   * the parquet stores it — the driver has shipped both TIMESTAMP(NANOS)
   * (readable only as long via nanosAsLong) and timestamp[us] (read as
   * TIMESTAMP_NTZ). Session timeZone is UTC everywhere, so the NTZ→TS cast
   * is wall-clock-identity and matches DuckDB's naive-timestamp reading.
   *
   * The nanosAsLong flag is consulted again at execution (footer-to-Spark
   * schema clipping), so when the file really is TIMESTAMP(NANOS) the flag
   * must stay set for the frame to be actionable; it is restored to its
   * prior value whenever the file does NOT need it, so the legacy behavior
   * never leaks into sessions reading ordinary timestamp parquet. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = s.conf.getOption(key)
    s.conf.set(key, "true")
    val df = s.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // int64 ts with no usable annotation: require nano-scale magnitude
        // before dividing — a plain epoch-micros/millis int64 would
        // otherwise be silently read 1000x/1000000x off. Nanos for any
        // epoch past mid-1970 exceed 1e16; micros top out ~3e15 this
        // century, so the bound separates the encodings cleanly.
        // memoized only once the guard passes, so a failing file is
        // re-checked (and re-refused) on every subsequent read of the dir
        Harness.once("events_ts_nanos", dir) {
          df.select(col("ts")).where(col("ts").isNotNull).limit(1)
            .collect().headOption.foreach { r =>
              val v = r.getLong(0)
              require(v > 1e16,
                s"events.parquet ts=$v is too small for epoch-nanos; " +
                  "file likely stores micros/millis — refusing to div 1000")
            }
        }
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other =>
        prior match { // no NANOS column → the legacy flag isn't needed past
          case Some(v) => s.conf.set(key, v) // this read; undo the side effect
          case None => s.conf.unset(key)
        }
        if (other == org.apache.spark.sql.types.TimestampType) df
        else df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** One prebuilt IVF-PQ index per (process, sf dir): q_ann_ivfpq measures
   * steady-state search (build is q_ann_ivfpq_build's job); in the bench the
   * first rep pays the build once and the median lands on search-only. */
  private def ivfSqIndexFor(s: SparkSession, dir: String): String =
    fixtureDir("ivfsq_idx", dir) {
      graft.pipeline.Sq.ivfSqBuild(embeddings(s, dir), "vec_id", "embedding", _, nlist = 16)
    }
  private def ivfPqIndexFor(s: SparkSession, dir: String): String =
    fixtureDir("ivfpq_idx", dir) {
      graft.pipeline.Pq.ivfPqBuild(embeddings(s, dir), "vec_id", "embedding", _,
        nlist = 16, mSub = 8, ksub = 16)
    }

  /** One prebuilt BM25 inverted index per (process, sf dir): q_bm25_search
   * measures steady-state batch retrieval (the build is q_bm25_index_build's
   * job — conflating them hid search regressions behind the ~4 s build). */
  private def posIndexFor(s: SparkSession, dir: String): String =
    fixtureDir("pos_idx", dir) {
      graft.pipeline.Retrieval.buildPositionalIndex(docs(s, dir), "doc_id", "text", _)
    }
  /** One trained unigram tokenizer per (process, sf dir): q_unigram_tokens
   * measures steady-state encoding; training is bounded by the capped
   * word-frequency table and runs once. */
  private def unigramModelFor(s: SparkSession, dir: String): graft.pipeline.Unigram.UnigramModel =
    Harness.once("unigram", dir) {
      graft.pipeline.Unigram.train(docs(s, dir), col("text"),
        vocabSize = 2000, maxPieceLen = 8, seedSize = 8000, emIters = 3, minCount = 1L)
    }
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    fixtureDir("bm25_idx", dir) {
      graft.pipeline.Retrieval.buildIndex(docs(s, dir), "doc_id", "text", _)
    }

  /** Planted image corpus materialized to parquet once per (process, sf
   * dir): the synthetic PNG/JPEG encodes are fixture setup, not the pHash
   * operator under test — pre-writing them means q_image_phash's timing
   * gates the hash + banded join, not `ImageIO.write` (r9 verdict #3). In
   * the bench the first rep pays the write once and the median lands on
   * the scan + dedup alone — mirroring a real corpus already on disk. */
  private def imageDupFixture(s: SparkSession, dir: String): DataFrame = {
    val path = fixtureDir("phash_media", dir) {
      // spread across defaultParallelism files: a real media corpus arrives
      // in thousands of splits, and the decode pass parallelizes with the
      // split count — a 1-file fixture would measure a serial decode
      graft.pipeline.Multimodal.imageDupTable(
          docs(s, dir).repartition(s.sparkContext.defaultParallelism), "doc_id")
        .write.mode("overwrite").parquet(_)
    }
    s.read.parquet(path)
  }

  /** Same contract for audio: the WAV/AIFF encodes are fixture setup —
   * q_audio_phash times the fingerprint + banded join over a corpus
   * already on disk. */
  private def audioDupFixture(s: SparkSession, dir: String): DataFrame = {
    val path = fixtureDir("aphash_media", dir) {
      // many-split fixture for the same reason as imageDupFixture above
      graft.pipeline.Multimodal.audioDupTable(
          docs(s, dir).repartition(s.sparkContext.defaultParallelism), "doc_id")
        .write.mode("overwrite").parquet(_)
    }
    s.read.parquet(path)
  }

  /** Dirty customer file for the record-linkage queries: every 7th key gets
   * a char-dropped-name copy (1 edit, balance nudged 0.5) at id + 1e6, every
   * 11th a relocated copy (segment changed) at id + 2e6 — all mutations
   * SQL-expressible so DuckDB rebuilds the identical corpus. */
  private def linkageCorpus(s: SparkSession, dir: String): DataFrame = {
    val c = s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nk"), col("c_acctbal").as("bal"),
      col("c_mktsegment").as("seg"))
    val dropped = c.where(col("id") % 7 === 0).select(
      (col("id") + 1000000L).as("id"),
      concat(substring(col("name"), 1, 4), expr("substring(name, 6)")).as("name"),
      col("nk"), (col("bal") + lit(0.5)).as("bal"), col("seg"))
    val moved = c.where(col("id") % 11 === 0).select(
      (col("id") + 2000000L).as("id"), col("name"), col("nk"), col("bal"),
      lit("RELOCATED").as("seg"))
    c.unionAll(dropped).unionAll(moved)
  }

  /** Two nation-scoped balance-grid blocking passes: width-2 grids offset
   * by 1, so ANY pair with |Δbal| ≤ 1 — which includes every pair that
   * can score as a match (bal agreement requires it) — is guaranteed to
   * share a key in one of the passes (two interleaved grids can't both
   * put a length-1 interval across a boundary). ~25 × 5,500 block values
   * keep per-block sizes near-constant as the corpus grows, unlike bare
   * nationkey whose fixed 25-block fan-out went quadratic at the 10×
   * soak; multi-pass union semantics get exercised for real. */
  private def linkageBlockKeys = Seq(
    struct(col("nk"), floor(col("bal") / 2)),
    struct(col("nk"), floor((col("bal") + 1) / 2)))

  private[graft] def testLinkageFields = linkageFields
  private def linkageFields = Seq(
    graft.operators.Linkage.LinkField("name", col("name"),
      (a, b) => levenshtein(a, b) <= 1, 4000000L, -3000000L),
    graft.operators.Linkage.LinkField("segment", col("seg"),
      (a, b) => a === b, 1500000L, -700000L),
    graft.operators.Linkage.LinkField("bal", col("bal"),
      (a, b) => abs(a - b) <= 1.0, 3000000L, -400000L))

  /** documents plus constructed near-duplicates: for doc_id % 10 == 0, a copy
   * with the last two words dropped, id + 10000 — deterministic in SQL so the
   * DuckDB oracle can rebuild the identical corpus. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val words = split(col("text"), " ")
    val mutated = d.where(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 10000).as("doc_id"),
      array_join(slice(words, lit(1), size(words) - 2), " ").as("text"))
    d.unionAll(mutated)
  }

  /** Role-tagged conversation fixture over documents (r19, SFT family):
   * a 5-turn base chat sliced from the first 10 words (every SF's docs
   * have ≥ 10), plus planted invalid classes by doc_id residue when
   * `variants` — appended empty turn (1), double assistant (2), ends on
   * user (3), unknown role (4). The oracle replays construction and
   * verdicts from the same residue arithmetic. */
  private def sftMessages(d: DataFrame, variants: Boolean): DataFrame = {
    val words = split(trim(col("text")), " ")
    def w(a: Int, len: Int) = array_join(slice(words, a, len), " ")
    def m(role: String, content: org.apache.spark.sql.Column) =
      struct(lit(role).as("role"), content.as("content"))
    val sys = m("system", lit("You are helpful."))
    val base = array(sys, m("user", w(1, 3)), m("assistant", w(4, 3)),
      m("user", w(7, 2)), m("assistant", w(9, 2)))
    val v = col("doc_id") % 5
    val msgs =
      if (!variants) base
      else when(v === 1, concat(base, array(m("user", lit("")))))
        .when(v === 2, array(sys, m("user", w(1, 3)), m("assistant", w(4, 3)),
          m("assistant", w(7, 2)), m("assistant", w(9, 2))))
        .when(v === 3, array(sys, m("user", w(1, 3)), m("assistant", w(4, 3)),
          m("user", w(7, 2))))
        .when(v === 4, array(sys, m("tool", w(1, 3)), m("assistant", w(4, 3)),
          m("user", w(7, 2)), m("assistant", w(9, 2))))
        .otherwise(base)
    d.select(col("doc_id"), msgs.as("messages"))
  }

  /** Engine suite over orders: salience picks the tightest price band. */
  def ordersEngineSuite: RuleSuite = RuleSuite(
    Id(2, 1),
    Seq(RuleSet(Id(30, 1), Seq(
      Rule(Id(300, 1), "o_totalprice >= 300000", Some(OutputExpression(10, Id(400, 1), "'high'"))),
      Rule(Id(301, 1), "o_totalprice >= 100000", Some(OutputExpression(20, Id(401, 1), "'mid'"))),
      Rule(Id(302, 1), "o_totalprice >= 0", Some(OutputExpression(30, Id(402, 1), "'low'")))))))

  /** Folder suite over lineitem: discount then surcharge, salience-ordered. */
  def lineitemFolderSuite: RuleSuite = RuleSuite(
    Id(3, 1),
    Seq(RuleSet(Id(40, 1), Seq(
      Rule(Id(500, 1), "l_discount > 0.02",
        Some(OutputExpression(10, Id(600, 1),
          "set(price = currentResult.price * (1 - currentResult.discount))"))),
      Rule(Id(501, 1), "l_tax > 0.04",
        Some(OutputExpression(20, Id(601, 1),
          "acc -> update_field(acc, 'price', acc.price + 10)")))))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RuleRunner
      .addDataQuality(lineitem(spark, "/root/testdata/sf0.001"), lineitemSuite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.*")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dq_ordering" -> ((s, dir) =>
      // per-user event-time ordering health, with every 23rd event's ts
      // pushed an hour back to plant regressions
      graft.rules.DatasetChecks.orderingReport(
        events(s, dir).select(col("user_id"), col("event_id"),
          when(col("event_id") % 23 === 0, col("ts") - expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).as("ts")),
        col("user_id"), col("ts"), col("event_id"))),
    "q_dq_shadow" -> ((s, dir) => {
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
    }),
    "q_dq_fd" -> ((s, dir) =>
      // does doc_id%100 determine lang? (it doesn't — drift planted by
      // construction, plus nulls in the dependent for the loud-null path)
      graft.rules.DatasetChecks.functionalDependencyReport(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 17 === 0, lit(null)).otherwise(col("lang")).as("lang")),
        col("lang"), col("doc_id") % 100)),
    "q_dq_uniqueness" -> ((s, dir) =>
      // planted duplicate keys: doc_id % 450 collides for the top 50 ids
      graft.rules.DatasetChecks.uniquenessReport(
        docs(s, dir), col("doc_id") % 450)),
    "q_dq_value_drift" -> ((s, dir) => {
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
    }),
    "q_dq_benford" -> ((s, dir) =>
      // forensic first-digit conformity over order totals (organically
      // grown amounts): per digit observed vs Benford expectation, exact
      // ppm; the 9 expected constants are Java Math.log10 floors inlined
      // in the oracle so libm differences can't flip a floor
      graft.rules.DatasetChecks.benfordReport(
        orders(s, dir), col("o_totalprice"))),
    "q_dq_suggest" -> ((s, dir) =>
      // profile-and-propose over the documents table: the suggested suite
      // (not_null / unique / in_set / range / max_length / non_negative)
      // is replayed stat-for-stat and string-for-string by the oracle
      graft.rules.Suggestions.suggestRules(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"), inSetMaxDistinct = 25)),
    "q_dq_orphans" -> ((s, dir) =>
      // referential integrity lineitem→orders with every 13th parent
      // withheld: deterministic dangling keys
      graft.rules.DatasetChecks.referentialReport(
        lineitem(s, dir), col("l_orderkey"),
        orders(s, dir).where(col("o_orderkey") % 13 =!= 0), col("o_orderkey"))),
    "q_dq_completeness" -> ((s, dir) =>
      // null profile over a frame with planted missingness
      graft.rules.DatasetChecks.completenessReport(
        orders(s, dir).select(
          col("o_orderkey"),
          when(col("o_orderkey") % 9 === 0, lit(null)).otherwise(col("o_orderstatus")).as("status"),
          when(col("o_orderkey") % 4 === 0, lit(null)).otherwise(col("o_totalprice")).as("price")),
        Seq("o_orderkey", "status", "price"))),
    "q_dq_stats" -> ((s, dir) =>
      // the per-rule health dashboard over the lineitem suite: evaluation
      // and outcome counts plus exact-ppm pass rate, one combining pass
      RuleRunner.ruleStats(lineitem(s, dir), lineitemSuite)),
    "q_dq_flatten" -> ((s, dir) => {
      RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)
        .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
        .groupBy(col("r.ruleId").as("ruleId"), col("r.ruleResult").as("ruleResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_dq_flatten_fast" -> ((s, dir) => {
      // scale path: direct flattened rows, no intermediate map structs
      RuleRunner.addFlattenedResults(lineitem(s, dir), lineitemSuite)
        .groupBy(col("ruleId"), col("ruleResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_dq_curation" -> ((s, dir) => {
      // the two halves of the library meet: data-quality RULES evaluate
      // curation gates — pipeline functions (token_count, lang_id) are
      // SQL-registered, so they compose into rule expressions and the
      // whole suite compiles into ONE projection like any DQ run
      val suite = RuleSuite(Id(2, 1), Seq(RuleSet(Id(30, 1), Seq(
        Rule(Id(300, 1), "token_count(text) >= 20"),
        Rule(Id(301, 1), "lang_id(text) = 'en'"),
        Rule(Id(302, 1), "n_chars < 2000")))))
      RuleRunner.addDataQuality(docs(s, dir), suite)
        .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
        .groupBy(col("r.ruleId").as("ruleId"), col("r.ruleResult").as("ruleResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_dq_examples" -> ((s, dir) => {
      // the debugging report: per failing rule, how many rows failed and
      // the 5 lowest failing ids to go look at (curation-gate suite)
      val suite = RuleSuite(Id(2, 1), Seq(RuleSet(Id(30, 1), Seq(
        Rule(Id(300, 1), "token_count(text) >= 20"),
        Rule(Id(301, 1), "lang_id(text) = 'en'"),
        Rule(Id(302, 1), "n_chars < 2000")))))
      RuleRunner.failureExamples(docs(s, dir), suite, col("doc_id"), k = 5)
    }),
    "q_dq_overall" -> ((s, dir) => {
      RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_dq_prob" -> ((s, dir) => {
      // probability(): rule-result int → double
      RuleRunner.addDataQuality(lineitem(s, dir), lineitemSuite)
        .select(graft.functions.Registry.rewriteCol(
          RuleRunner.ruleResult(col("DataQuality"),
            lit(Id.pack(Id(1, 1))), lit(Id.pack(Id(20, 1))), lit(Id.pack(Id(201, 1))))
            .cast("double").divide(lit(100000)).as("p")))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    }),
    "q_rule_engine" -> ((s, dir) => {
      RuleEngine.addRuleEngine(orders(s, dir), ordersEngineSuite, "re")
        .groupBy(col("re.result").as("category"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_rule_engine_debug" -> ((s, dir) => {
      RuleEngine.addRuleEngine(orders(s, dir), ordersEngineSuite, "re", debugMode = true)
        .groupBy(size(col("re.result")).as("triggers"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_rule_folder" -> ((s, dir) => {
      RuleFolder.addRuleFolder(
          lineitem(s, dir), lineitemFolderSuite,
          struct(col("l_extendedprice").as("price"), col("l_discount").as("discount")), "rf")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("rf.result.price").as("folded_price"))
    }),
    "q_expression_runner" -> ((s, dir) => {
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
    }),
    "q_expression_flat" -> ((s, dir) => {
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
    }),
    "q_lambda" -> ((s, dir) => {
      val suite = RuleSuite(Id(6, 1),
        Seq(RuleSet(Id(60, 1), Seq(Rule(Id(610, 1), "disc_price(l_extendedprice, l_discount) < 90000")))),
        Seq(LambdaFunction("disc_price", "(p, d) -> p * (1 - d)", Id(900, 1))))
      RuleRunner.addDataQuality(lineitem(s, dir), suite)
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_lambda_sql" -> ((s, dir) => {
      // session-global lambdas: callable from plain spark.sql, nested bodies
      // expand through the same substitution as rule-embedded usage
      graft.rules.Lambdas.registerLambdaFunctions(s, Seq(
        LambdaFunction("disc_price", "(p, d) -> p * (1 - d)", Id(901, 1)),
        LambdaFunction("net_price", "(p, d, t) -> disc_price(p, d) * (1 + t)", Id(902, 1))))
      lineitem(s, dir).createOrReplaceTempView("graft_li_sql")
      s.sql("""SELECT l_orderkey, l_linenumber,
              |       net_price(l_extendedprice, l_discount, l_tax) AS net
              |FROM graft_li_sql""".stripMargin)
    }),
    "q_pack_ints" -> ((s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.Registry.packInts(
          col("l_partkey").cast("int"), col("l_suppkey").cast("int")).as("packed"))
        .withColumn("unpacked_id", graft.functions.Registry.idHi(col("packed")))
        .withColumn("unpacked_version", graft.functions.Registry.idLo(col("packed")))
    }),
    "q_update_field" -> ((s, dir) => {
      orders(s, dir)
        .select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"), col("o_orderstatus").as("status")).as("sdata"))
        .select(col("o_orderkey"),
          graft.functions.Registry.updateField(col("sdata"),
            Seq("price" -> col("sdata.price") * 2, "flag" -> lit("x"))).as("s2"))
        .select(col("o_orderkey"),
          col("s2.price").as("price2"), col("s2.status").as("status"), col("s2.flag").as("flag"))
    }),
    "q_agg_expr" -> ((s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir).select(
        RuleRunner.parseRule(
          "agg_expr('BIGINT', l_quantity > 25, sum_with(s -> s + CAST(l_quantity AS BIGINT)), return_sum())", su).as("qty_sum"),
        RuleRunner.parseRule(
          "agg_expr(l_quantity > 25, inc(CAST(l_quantity AS BIGINT)), meanF())", su).as("mean_qty"))
    }),
    "q_agg_map_with" -> ((s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir).select(
        RuleRunner.parseRule(
          "agg_expr('MAP<STRING,BIGINT>', 1 > 0, map_with(l_returnflag, e -> e + 1), return_sum())", su).as("m"))
        .select(explode(col("m")).as(Seq("flag", "flag_cnt")))
    }),
    "q_map_lookup" -> ((s, dir) => {
      graft.lookups.Lookups.registerMapLookups(s, Map(
        "nations" -> (() => {
          val n = s.read.parquet(s"$dir/nation.parquet")
          (n, col("n_nationkey"), col("n_name"))
        })))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          RuleRunner.parseRule("map_lookup(c_nationkey, 'nations')", RuleSuite(Id(0, 0), Nil)).as("n_name"),
          RuleRunner.parseRule("map_contains(c_nationkey, 'nations')", RuleSuite(Id(0, 0), Nil)).as("known"))
    }),
    "q_bloom" -> ((s, dir) => {
      // oracle=sql since r11: the no-false-negative guarantee fully
      // DETERMINES the result — every lineitem orderkey is present in
      // orders, so every probe must be positive and the group-by collapses
      // to exactly one (true, count(*)) row; any bloom bit-layout bug that
      // produced a false negative would split the groups and hash-mismatch
      graft.lookups.Lookups.registerBloomFrom(s, "ordkeys",
        orders(s, dir), col("o_orderkey"), 200000, 0.01)
      lineitem(s, dir)
        .select(RuleRunner.parseRule("probability_in(l_orderkey, 'ordkeys')", RuleSuite(Id(0, 0), Nil)).as("p"))
        .groupBy((col("p") > 0).as("hit")).agg(count(lit(1)).as("cnt"))
    }),
    "q_yaml" -> ((s, dir) => {
      orders(s, dir).select(col("o_orderkey"),
        RuleRunner.parseRule("to_yaml(struct(o_orderstatus AS s))", RuleSuite(Id(0, 0), Nil)).as("y"))
    }),
    "q_comparable_maps" -> ((s, dir) => {
      val su = RuleSuite(Id(0, 0), Nil)
      lineitem(s, dir)
        .select(RuleRunner.parseRule("comparable_maps(map('rf', l_returnflag, 'ls', l_linestatus))", su).as("cm"))
        .groupBy(col("cm")).agg(count(lit(1)).as("cnt"))
        .select(
          element_at(col("cm"), 1).getField("value").as("ls"),
          element_at(col("cm"), 2).getField("value").as("rf"),
          col("cnt"))
    }),
    "q_rules_roundtrip" -> ((s, dir) => {
      // serialize → DF → read back → run: must equal q_dq_overall
      val df = Serialization.toRuleSuiteDF(s, lineitemSuite)
      val read = Serialization.readRulesFromDF(df,
        col("ruleSuiteId"), col("ruleSuiteVersion"), col("ruleSetId"), col("ruleSetVersion"),
        col("ruleId"), col("ruleVersion"), col("ruleExpr"))
      RuleRunner.addDataQuality(lineitem(s, dir), read(Id(1, 1)))
        .groupBy(col("DataQuality.overallResult").as("overallResult"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_events_window" -> ((s, dir) => {
      // batch shape of the streaming windowed pass-rate (events table)
      events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("rows"),
          sum(when(col("value") >= 0, 1L).otherwise(0L)).as("passed"))
    }),
    "q_cdc_dedup" -> ((s, dir) => {
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
    }),
    "q_bitext_align" -> ((s, dir) => {
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
    }),
    "q_session_paths" -> ((s, dir) =>
      // common user journeys: 30-minute gap sessions, ordered event-type
      // paths, top 25 — ties at one second break by type
      graft.pipeline.Curation.topSessionPaths(
        events(s, dir).select(col("user_id"),
          expr("unix_micros(ts) div 1000000L").as("tsec"), col("event_type")),
        "user_id", "tsec", "event_type", maxGap = 1800L, k = 25)),
    "q_stopword_candidates" -> ((s, dir) =>
      // data-driven per-lang stopword mining: terms in >= 30% of the
      // language's docs, top 40 by document frequency
      graft.pipeline.Curation.stopwordCandidates(docs(s, dir),
        col("doc_id"), col("text"), col("lang"),
        minDfPpm = 300000L, maxTerms = 40)),
    "q_quantile_normalize" -> ((s, dir) =>
      // cross-domain score calibration: per-lang percent-rank of n_chars
      // in exact ppm (one group-partitioned window)
      graft.pipeline.Curation.quantileNormalize(
          docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
          col("lang"), col("n_chars"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("pct_ppm"))),
    "q_event_funnel" -> ((s, dir) =>
      // ordered user-journey funnel with a 3-day window: strict
      // view -> click -> signup -> purchase chains, earliest-chain
      graft.pipeline.Curation.eventFunnel(events(s, dir),
        col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "signup", "purchase"), windowSeconds = 259200L)),
    "q_cohort_retention" -> ((s, dir) =>
      // daily cohorts over the events table: first-activity day buckets,
      // exact comeback counts per day offset
      graft.pipeline.Curation.cohortRetention(
        events(s, dir), col("user_id"), col("ts"))),
    "q_ewma_anomalies" -> ((s, dir) => {
      // per-user EWMA control chart over event values, alpha 0.25 (an
      // exact binary fraction: the fold replays bit-for-bit in DuckDB's
      // list_reduce), alert band 75 above the running average's pull
      val ev = events(s, dir)
      graft.pipeline.Anomaly.ewmaAnomalies(ev,
        col("user_id"), struct(col("ts"), col("event_id")), col("value"),
        alpha = 0.25, band = 75.0)
    }),
    "q_sessionize" -> ((s, dir) => {
      // gap-based sessions over the events table (30-minute gap, epoch secs)
      val ev = events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("tsec"))
      graft.operators.Sessionize.sessionStats(ev, "user_id", "tsec", maxGap = 1800L)
        .select(col("user_id"), col("session_seq"), col("events"),
          col("session_start"), col("duration"))
    }),
    "q_delta_attribution" -> ((s, dir) => {
      // root-cause slicing: cents-weighted order volume between two
      // deterministic snapshot slices, attributed by priority — DuckDB
      // replays the outer join and the signed truncating share division
      val o = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      graft.rules.DatasetChecks.deltaAttribution(
        o.where(col("o_orderkey") % 2 === 0),
        o.where(col("o_orderkey") % 3 =!= 0),
        col("o_orderpriority"), col("cents"))
    }),
    "q_token_bucket" -> ((s, dir) => {
      // politeness enforcement (batch twin of StreamingThrottle, parity
      // spec-pinned): event time compressed 20000x so the synthetic
      // stream actually exceeds its budget; DuckDB replays the exact
      // micro-token recursion with a recursive CTE
      val e = events(s, dir).select(col("user_id"),
        timestamp_millis(expr("unix_micros(ts) div 1000 div 20000")).as("ts"),
        col("event_id"))
      graft.streaming.StreamingThrottle.tokenBucketBatch(
        e, "user_id", "ts", "event_id", ratePerSec = 1L, burst = 2L)
    }),
    "q_transition_matrix" -> ((s, dir) => {
      // Markov next-step report over per-user event streams, event_id as
      // the same-timestamp tiebreak; SQL replays the lead window and the
      // integer row normalization
      val e = events(s, dir)
      graft.pipeline.Curation.transitionMatrix(
        e, col("user_id"), col("ts"), col("event_id"), col("event_type"))
    }),
    "q_fd_discovery" -> ((s, dir) => {
      // FD mining over every ordered column pair of orders: o_orderkey
      // determines everything (it's the key); nothing determines it back
      graft.rules.DatasetChecks.discoverFunctionalDependencies(
        s.read.parquet(s"$dir/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),
    "q_key_skew" -> ((s, dir) => {
      // pre-salting diagnostic: per-key-column row/distinct/null/max-share
      // profile with deterministic top-3 heavy keys, replayed in SQL
      graft.sources.Skew.keySkewReport(
        lineitem(s, dir), Seq("l_returnflag", "l_linestatus", "l_suppkey"),
        topK = 3)
    }),
    "q_frequent_pairs" -> ((s, dir) => {
      // market-basket pairs over user event-type baskets: exact
      // co-occurrence counts + floored micro-lift, replayed in SQL
      graft.operators.Itemsets.frequentPairs(
        events(s, dir), col("user_id"), col("event_type"), minCount = 2)
    }),
    "q_rfm" -> ((s, dir) =>
      // behavioral segmentation: recency/frequency/monetary quintiles via
      // the distributed exact rank; DuckDB replays ranks and ceil buckets
      graft.pipeline.Curation.rfmScores(
        events(s, dir), col("user_id"), col("ts"), col("value"))),
    "q_concentration" -> ((s, dir) =>
      // corpus concentration across users: exact Gini over the scalable
      // distributed rank, effective-key inverse Simpson, top shares —
      // DuckDB replays ranks, decimal products and integral division
      graft.pipeline.Curation.concentrationReport(
        events(s, dir), col("user_id"))),
    "q_vocab_coverage" -> ((s, dir) =>
      // tokenizer-budget diagnostic: the top-20 words' share of all
      // running tokens (the synthetic corpus has ~31 distinct words, so
      // the cut is real); DuckDB replays the deterministic top-k cut
      graft.pipeline.Curation.vocabCoverage(
        docs(s, dir), col("text"), vocabSize = 20)),
    "q_neyman_allocation" -> ((s, dir) => {
      // minimum-variance labeling budget across event types: micro-unit
      // quantization keeps Σv/Σv² exact integers, sqrt is IEEE-exact, and
      // DuckDB replays quotients, remainder seats and tie-breaks
      graft.pipeline.Curation.neymanAllocation(
        events(s, dir), col("event_type"), col("value"), budget = 100L)
    }),
    "q_interval_attribution" -> ((s, dir) => {
      // batch face of StreamingJoin.intervalJoin (same column algebra the
      // streaming parity spec pins): every purchase attributed to the
      // same user's clicks in the preceding hour
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.streaming.StreamingJoin.intervalJoin(
          clicks, buys, "user_id", "ts", "ts", "1 hour")
        .select(col("l_user_id").as("user_id"),
          col("l_event_id").as("click_id"), col("r_event_id").as("buy_id"),
          col("r_value").as("amount"))
    }),
    "q_heavy_hitters" -> ((s, dir) => {
      // misra-gries sketch: EXACT when distinct values fit in k (3 flags < 10),
      // so the DuckDB group-by is a strict oracle
      lineitem(s, dir)
        .select(RuleRunner.parseRule("approx_heavy_hitters(l_returnflag, 10)",
          RuleSuite(Id(0, 0), Nil)).as("hh"))
        .select(explode(col("hh")).as(Seq("flag", "cnt")))
    }),
    "q_asof_join" -> ((s, dir) => {
      // point-in-time enrichment: each click gets the latest preceding view's
      // value per user (window-based asof — one key shuffle, no range join)
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
          rightPrefix = "view_")
        .select(col("event_id"), col("view_value"))
    }),
    "q_scd2" -> ((s, dir) => {
      // SCD2 dimension from the event log: per-user state history with
      // no-change collapse and duplicate-instant dedup — the oracle
      // replays the full window pipeline
      val log = events(s, dir).select(col("user_id").as("id"),
        col("event_type").as("state"),
        expr("unix_micros(ts) div 1000000L").as("ts"))
      graft.operators.Scd.fromChangeLog(log, Seq("id"), "ts")
    }),
    "q_asof_forward" -> ((s, dir) => {
      // recovery attribution: each error gets the next view's value per
      // user (earliest at-or-after) — the forward mirror, same one-shuffle
      // window shape
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoinForward(errors, views, Seq("user_id"),
          "ts", "ts", rightPrefix = "next_")
        .select(col("event_id"), col("next_value"))
    }),
    "q_asof_nearest" -> ((s, dir) => {
      // sensor-alignment shape: each click takes the view minimizing
      // |delta| within 10 minutes, ties to the earlier row; the oracle
      // replays it from DuckDB's own backward+forward ASOF joins
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoinNearest(clicks, views, Seq("user_id"),
          "ts", "ts", rightPrefix = "near_", toleranceSeconds = 600.0)
        .select(col("event_id"), col("near_value"))
    }),
    "q_range_join" -> ((s, dir) => {
      // price-band assignment via the bin-bucketed interval join (overlapping
      // bands, so rows can match twice) — equi-join on buckets, no cross
      val bands = s.range(100).select(col("id").as("band_id"),
        (col("id") * 1000).cast("double").as("lo"),
        (col("id") * 1000 + 1500).cast("double").as("hi"))
      val pts = lineitem(s, dir).select(col("l_extendedprice").as("p"))
      graft.operators.RangeJoin.pointInInterval(pts, bands, "p", "lo", "hi", binWidth = 1000)
        .groupBy(col("band_id")).agg(count(lit(1)).as("cnt"))
    }),
    "q_interval_join" -> ((s, dir) => {
      // interval × interval overlap via the binned first-shared-bin join:
      // every overlapping pair emits exactly once, no distinct, no cross
      val a = orders(s, dir).select(col("o_orderkey").as("a_id"),
        (col("o_orderkey") * 37 % 1000000).as("a_lo"),
        (col("o_orderkey") * 37 % 1000000 + col("o_orderkey") % 500).as("a_hi"))
      val b = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("b_id"),
          (col("c_custkey") * 91 % 1000000).as("b_lo"),
          (col("c_custkey") * 91 % 1000000 + col("c_custkey") % 800).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          a, b, "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 1000.0)
        .select(col("a_id"), col("b_id"))
    }),
    "q_pagerank" -> ((s, dir) =>
      // fixed-point PageRank over a deterministic synthetic link graph on
      // the documents table (3 pseudo-links per doc); integer arithmetic
      // end-to-end so the unrolled-iteration DuckDB oracle matches exactly
      docRanks(s, dir).orderBy(col("rank_fp").desc, col("id").asc).limit(100)),
    "q_hits" -> ((s, dir) =>
      // Kleinberg hubs/authorities over the same synthetic graph, 2
      // iterations of the exact-integer recursion with the
      // (max div scale)+1 normalizer — oracle unrolls both half-steps
      graft.pipeline.Graphs.hitsFixed(docEdges(s, dir), col("src"), col("dst"),
          iterations = 2)
        .orderBy(col("auth_fp").desc, col("id").asc).limit(100)),
    "q_host_rank" -> ((s, dir) => {
      // the raw-crawl path into the rank prior: each doc becomes a page on
      // host h(doc_id%16) whose body links two deterministic neighbor
      // hosts — plus script/comment decoy links, a no-href anchor and a
      // relative link the REAL parser must skip. hostEdges runs the actual
      // link extraction + host parsing; the oracle reconstructs the same
      // edges arithmetically, so any parser bug shifts every rank.
      val id = col("doc_id")
      val host = concat(lit("h"), (id % 16).cast("string"), lit(".example.com"))
      val d1 = concat(lit("h"), ((id * 7 + 1) % 16).cast("string"), lit(".example.com"))
      val d2 = concat(lit("h"), ((id * 13 + 5) % 16).cast("string"), lit(".example.com"))
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
    }),
    "q_pagerank_lineitem" -> ((s, dir) => {
      // a real-shaped graph at bench volume: the order→part bipartite
      // graph from lineitem (~600k edges at sf0.1; every part node dangles
      // by design — the rank loop at its intended data size, not a toy)
      val e = lineitem(s, dir).select(col("l_orderkey").as("src"),
        (col("l_partkey") + lit(10000000L)).as("dst"))
      graft.pipeline.Graphs.pageRankFixed(e, col("src"), col("dst"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    }),
    "q_crawl_schedule_robots" -> ((s, dir) => {
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
      val frontier = d.select(
        concat(lit("https://"), col("source"), lit(".example.com/d/"),
          col("doc_id").cast("string")).as("url"),
        col("n_chars").cast("double").as("pri"))
      graft.pipeline.Frontier.crawlSchedule(frontier, col("url"), col("pri"),
        delays, col("host"), col("delay_ms"),
        defaultDelayMs = 1000L, horizonMs = 8000L)
    }),
    "q_crawl_schedule" -> ((s, dir) => {
      // politeness scheduler: per-source hosts, priority = n_chars, delay
      // config keyed off the host name length — the oracle replays the
      // partitioned row_number and the slot arithmetic
      val d = docs(s, dir)
      val frontier = d.select(
        concat(lit("https://"), col("source"), lit(".example.com/d/"),
          col("doc_id").cast("string")).as("url"),
        col("n_chars").cast("double").as("pri"))
      val delays = d.select(concat(col("source"), lit(".example.com")).as("host"))
        .distinct()
        .withColumn("delay_ms", (length(col("host")) % 3 + 1).cast("long") * 500L)
      graft.pipeline.Frontier.crawlSchedule(frontier, col("url"), col("pri"),
        delays, col("host"), col("delay_ms"),
        defaultDelayMs = 1000L, horizonMs = 5000L)
    }),
    "q_k_anonymity" -> ((s, dir) =>
      // re-identification risk over (nation, segment) quasi-identifiers
      graft.pipeline.Pii.kAnonymityReport(
        s.read.parquet(s"$dir/customer.parquet"), 5,
        col("c_nationkey"), col("c_mktsegment"))),
    "q_l_diversity" -> ((s, dir) =>
      // attribute disclosure: bucketed balance as the sensitive value
      graft.pipeline.Pii.lDiversityReport(
        s.read.parquet(s"$dir/customer.parquet"), 3,
        floor(col("c_acctbal") / 1000).cast("long"),
        col("c_nationkey"), col("c_mktsegment"))),
    "q_robots" -> ((s, dir) => {
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
    }),
    "q_robots_sitemaps" -> ((s, dir) => {
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
    }),
    "q_dedup_preferring" -> ((s, dir) => {
      // rank-aware canonical selection: originals carry priority 1,
      // mutated copies 0 — each near-dup cluster keeps its original even
      // though the copy has the higher id
      val c = nearDupCorpus(s, dir)
        .withColumn("graft_prio",
          when(col("doc_id") < 10000, lit(1L)).otherwise(lit(0L)))
      graft.pipeline.Dedup.dropNearDupsPreferring(
          c, col("doc_id"), col("text"), col("graft_prio"))
        .select(col("doc_id"))
    }),
    "q_dedup_keep_largest_cc" -> ((s, dir) => {
      // CLUSTER-TRUE keep-most-complete near-dedup (VERDICT r16 #3): each
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
    }),
    "q_dedup_eval" -> ((s, dir) => {
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
    }),
    "q_host_profile" -> ((s, dir) => {
      // the full host quality table over REALLY-PARSED synthetic pages
      // (same construction as q_host_rank, decoys included): rank +
      // reciprocation + degrees in one frame; oracle assembles the same
      // columns from the arithmetic edge reconstruction
      val id = col("doc_id")
      val host = concat(lit("h"), (id % 16).cast("string"), lit(".example.com"))
      val d1 = concat(lit("h"), ((id * 7 + 1) % 16).cast("string"), lit(".example.com"))
      val d2 = concat(lit("h"), ((id * 13 + 5) % 16).cast("string"), lit(".example.com"))
      val html = concat(
        lit("<html><head><script>var x = \"<a href=\\\"https://decoy.invalid/\\\">\";" +
          "</script></head><body><p><a href=\"https://"), d1,
        lit("/p\">one</a> <a href='https://"), d2,
        lit("/q'>two</a> <a href=\"/rel\">rel</a></p></body></html>"))
      val pages = docs(s, dir).select(
        concat(lit("https://"), host, lit("/page/"), id.cast("string")).as("url"),
        html.as("html"))
      graft.pipeline.Graphs.hostProfile(pages, col("url"), col("html"))
    }),
    "q_connected_components" -> ((s, dir) => {
      // chain graph in groups of 10 (doc 0–9, 10–19, …): the operator must
      // really propagate min labels ~9 iterations; the oracle knows each
      // component is its decade's first id
      val d = docs(s, dir).select(col("doc_id"))
      val edges = d.where(col("doc_id") % 10 < 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      graft.pipeline.Graphs.connectedComponents(
        edges, col("src"), col("dst"), nodes = d, nodeIdCol = col("doc_id"))
    }),
    "q_readability" -> ((s, dir) =>
      // Flesch reading ease over the corpus — vowel-group syllables,
      // sentence units and word counts all mirrored in the oracle
      docs(s, dir).select(col("doc_id"),
          graft.pipeline.Text.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.words").cast("long").as("words"),
          col("r.sentences").cast("long").as("sentences"),
          col("r.syllables").cast("long").as("syllables"),
          col("r.flesch").as("flesch"))),
    "q_sitemap" -> ((s, dir) => {
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
    }),
    "q_registrable_domain" -> ((s, dir) => {
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
    }),
    "q_robust_outliers" -> ((s, dir) =>
      // median/MAD length outliers per language — integral signal, so
      // every median and MAD is an exact binary fraction and even the
      // boundary comparison hash-matches DuckDB
      graft.pipeline.Curation.robustOutliers(
        docs(s, dir), col("lang"), col("doc_id"), col("n_chars"))),
    "q_link_spam" -> ((s, dir) => {
      // reciprocal-link (link-exchange) ratio over the synthetic host
      // graph; exact ppm ratios hash-match the SQL mirror
      val id = col("doc_id")
      val e = docs(s, dir).select(
          concat(lit("h"), (id % 16).cast("string"), lit(".example.com")).as("src"),
          concat(lit("h"), ((id * 7 + 1) % 16).cast("string"), lit(".example.com")).as("dst"))
        .unionAll(docs(s, dir).select(
          concat(lit("h"), (id % 16).cast("string"), lit(".example.com")),
          concat(lit("h"), ((id * 13 + 5) % 16).cast("string"), lit(".example.com"))))
        .where(col("src") =!= col("dst"))
      graft.pipeline.Graphs.reciprocalLinkRatio(e, col("src"), col("dst"))
    }),
    "q_cocitation" -> ((s, dir) => {
      // related-hosts by co-citation over the same host graph
      val id = col("doc_id")
      val e = docs(s, dir).select(
          concat(lit("h"), (id % 16).cast("string"), lit(".example.com")).as("src"),
          concat(lit("h"), ((id * 7 + 1) % 16).cast("string"), lit(".example.com")).as("dst"))
        .unionAll(docs(s, dir).select(
          concat(lit("h"), (id % 16).cast("string"), lit(".example.com")),
          concat(lit("h"), ((id * 13 + 5) % 16).cast("string"), lit(".example.com"))))
        .where(col("src") =!= col("dst"))
      graft.pipeline.Graphs.coCitations(e, col("src"), col("dst"),
        maxOutDeg = 100, minCount = 2L)
    }),
    "q_trustrank" -> ((s, dir) => {
      // seed-biased teleport over the same synthetic graph: every 10th doc
      // is a trusted seed; spam regions no seed path reaches score zero
      val d = docs(s, dir).select(col("doc_id"))
      graft.pipeline.Graphs.trustRankFixed(
          docEdges(s, dir), col("src"), col("dst"),
          seeds = d.where(col("doc_id") % 10 === 0), seedIdCol = col("doc_id"),
          nodes = d, nodeIdCol = col("doc_id"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    }),
    "q_pagerank_weighted" -> ((s, dir) => {
      // edge-weighted rank over the doc graph, weights (src·7+dst)%5+1 —
      // DuckDB unrolls the 3 iterations with the same overflow-safe
      // ⌊r·w/W⌋ = (r//W)·w + ((r%W)·w)//W integer arithmetic
      val e = docEdges(s, dir)
        .withColumn("w", (col("src") * 7 + col("dst")) % 5 + 1)
      graft.pipeline.Graphs.pageRankWeighted(
          e, col("src"), col("dst"), col("w"),
          nodes = docs(s, dir).select(col("doc_id")), nodeIdCol = col("doc_id"))
        .orderBy(col("rank_fp").desc, col("id").asc).limit(100)
    }),
    "q_kcore" -> ((s, dir) => {
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
    }),
    "q_clustering" -> ((s, dir) => {
      // local clustering coefficients over the ringed doc graph — exact
      // integer ppm against C(degree, 2)
      val d = docs(s, dir).select(col("doc_id"))
      val n = d.count()
      val ring = d.select(col("doc_id").as("src"), ((col("doc_id") + 1) % n).as("dst"))
        .unionAll(d.select(col("doc_id"), (col("doc_id") + 2) % n))
      graft.pipeline.Graphs.clusteringCoefficients(
        docEdges(s, dir).unionAll(ring), col("src"), col("dst"))
    }),
    "q_triangles" -> ((s, dir) => {
      // exact per-node triangle counts: the doc graph plus ring edges
      // (i, i+1) and (i, i+2) so every consecutive triple closes a
      // triangle; the oracle runs the canonical u<v<w three-way join
      val d = docs(s, dir).select(col("doc_id"))
      val n = d.count()
      val ring = d.select(col("doc_id").as("src"), ((col("doc_id") + 1) % n).as("dst"))
        .unionAll(d.select(col("doc_id"), (col("doc_id") + 2) % n))
      graft.pipeline.Graphs.triangleCounts(
        docEdges(s, dir).unionAll(ring), col("src"), col("dst"))
    }),
    "q_seed_distance" -> ((s, dir) => {
      // BFS layers from the trusted core: exact min hop counts over the
      // synthetic doc graph, capped at 6 — DuckDB replays with a
      // recursive CTE
      val d = docs(s, dir).select(col("doc_id"))
      graft.pipeline.Graphs.seedDistances(
        docEdges(s, dir), col("src"), col("dst"),
        seeds = d.where(col("doc_id") % 100 === 0), seedIdCol = col("doc_id"),
        maxHops = 6)
    }),
    "q_html_jsonld" -> ((s, dir) => {
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
    }),
    "q_dedup_canonical" -> ((s, dir) => {
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
    }),
    "q_translation_pairs" -> ((s, dir) => {
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
    }),
    "q_html_canonical" -> ((s, dir) => {
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
    }),
    "q_html_robots" -> ((s, dir) => {
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
    }),
    "q_html_meta" -> ((s, dir) => {
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
    }),
    "q_anchor_text" -> ((s, dir) => {
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
    }),
    "q_hybrid_rrf" -> ((s, dir) => {
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
    }),
    // ---- LLM-pipeline operators over documents/embeddings ----
    "q_fuzzy_join" -> ((s, dir) => {
      // edit-distance <= 3 title join: ASCII-normalized 48-char prefixes as
      // titles (byte==char both engines), PassJoin segment blocking on the
      // Spark side, TRUE all-pairs levenshtein in DuckDB
      val titles = docs(s, dir).select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 48).as("title"))
      graft.operators.FuzzyJoin.editDistancePairs(
        titles, col("doc_id"), col("title"), maxDist = 3)
    }),
    "q_fuzzy_crosscorpus" -> ((s, dir) => {
      // incoming-batch-vs-reference fuzzy attribution: the batch carries
      // every title with its 3rd character deleted (distance 1 to its
      // source, distance <= 3 to that source's near-titles); DuckDB
      // computes TRUE all-pairs A x B levenshtein
      val t = substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 48)
      val left = docs(s, dir).select(col("doc_id"), t.as("title"))
      val right = docs(s, dir).select((col("doc_id") + 5000).as("doc_id"),
        concat(t.substr(lit(1), lit(2)), t.substr(lit(4), length(t))).as("title"))
      graft.operators.FuzzyJoin.editDistanceJoin(
        left, col("doc_id"), col("title"),
        right, col("doc_id"), col("title"), maxDist = 3)
    }),
    "q_record_linkage" -> ((s, dir) => {
      // Fellegi–Sunter scoring over a dirty customer file: a char-dropped
      // copy for every 7th key (name 1 edit off, balance nudged 0.5), a
      // relocated copy for every 11th (segment changed); nationkey blocking,
      // integer micro-bit weights — DuckDB replays blocking, levenshtein
      // and the exact weight arithmetic
      import graft.operators.Linkage
      val out = Linkage.classify(
        Linkage.scoredPairs(linkageCorpus(s, dir), col("id"),
          linkageBlockKeys, linkageFields),
        tUpperMicro = 7000000L, tLowerMicro = 3000000L)
      out.where(col("decision") =!= "nonmatch")
        .select(col("id_a"), col("id_b"), col("name_agree"),
          col("segment_agree"), col("bal_agree"), col("score_micro"),
          col("decision"))
    }),
    "q_jaro_winkler" -> ((s, dir) => {
      // every customer scored against a char-dropped and a reversed copy
      // of its name — DuckDB's independent jaro_winkler_similarity must
      // reproduce every double bit for bit (byte semantics, 0.7 boost
      // threshold, prefix cap 4)
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      c.select(col("id"),
        graft.functions.StringSim.jaroWinkler(col("name"),
          concat(substring(col("name"), 1, 4), expr("substring(name, 6)")))
          .as("jw_dropped"),
        graft.functions.StringSim.jaroWinkler(col("name"), reverse(col("name")))
          .as("jw_reversed"))
    }),
    "q_sorted_neighborhood" -> ((s, dir) => {
      // merge/purge blocking: the dirty customer file ordered by name —
      // char-dropped copies sort next to their originals even though no
      // equality key survives the typo; DuckDB replays the exact global
      // (name, id) rank and the rank-distance-< 3 pairing
      graft.operators.Linkage.sortedNeighborhood(
        linkageCorpus(s, dir), col("id"), col("name"), window = 3)
    }),
    "q_entity_resolution" -> ((s, dir) =>
      // match pairs (all three fields agreeing) collapse to entities via
      // min-label components; the oracle closes the same match set with a
      // recursive CTE — transitivity included, not assumed
      graft.operators.Linkage.resolveEntities(
        linkageCorpus(s, dir), col("id"), linkageBlockKeys,
        linkageFields, tUpperMicro = 7000000L)),
    "q_bot_detection" -> ((s, dir) => {
      // traffic profiling: organic per-user clients from events, plus a
      // planted 60s-metronome (undeclared) and a declared spider; the
      // oracle replays the lag-window gaps and exact cv² arithmetic
      val e = events(s, dir)
      val organic = e.select(
        concat(lit("u"), col("user_id").cast("string")).as("client"),
        unix_timestamp(col("ts")).as("te"),
        concat(lit("/"), col("event_type")).as("path"),
        when(col("event_type") === "error", lit(500)).otherwise(lit(200)).as("st"),
        lit("Mozilla/5.0").as("ua"))
      val metronome = e.where(col("event_id") % 5 === 0).select(
        lit("bot-1").as("client"),
        (lit(1704067200L) + expr("event_id div 5") * 60).as("te"),
        concat(lit("/page"), (col("event_id") % 7).cast("string")).as("path"),
        lit(200).as("st"), lit("cron/1.0").as("ua"))
      val spider = e.where(col("event_id") % 11 === 0).select(
        lit("spider-9").as("client"), unix_timestamp(col("ts")).as("te"),
        concat(lit("/"), col("event_type")).as("path"),
        lit(200).as("st"), lit("FancySpider/2.0").as("ua"))
      graft.pipeline.Traffic.botReport(
        organic.unionAll(metronome).unionAll(spider),
        col("client"), col("te"), col("path"), col("st"), col("ua"))
    }),
    "q_mutual_information" -> ((s, dir) =>
      // leakage/relevance check: MI(lang, source) with the fixed-point ln
      // contract — every cell term and entropy term refloored identically
      // by the oracle
      graft.rules.DatasetChecks.mutualInformation(
        docs(s, dir), col("lang"), col("source"))),
    "q_gap_fill" -> ((s, dir) =>
      // 6-hour per-user grid over the sparse event stream, LOCF-filled;
      // max is the bucket reducer (order-independent → hash-exact), and
      // the oracle rebuilds grid, join and carry-forward with window SQL
      graft.operators.GapFill.gapFill(
        events(s, dir), col("user_id"), col("ts"), col("value"),
        stepSeconds = 21600L, fill = "locf")),
    "q_best_snippet" -> ((s, dir) => {
      // snippet selection: 3 spread query terms (tokens 1/5/9), window 8 —
      // the oracle enumerates candidate starts and replays the
      // (max matched, min start) argmax per (query, doc)
      val idx = posIndexFor(s, dir)
      val toks = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= lit(""))
      val queries = docs(s, dir)
        .where(col("doc_id").isin(5L, 23L))
        .select(col("doc_id").as("qid"), toks.as("graft_ts"))
        .where(size(col("graft_ts")) >= 9)
        .select(col("qid"), concat_ws(" ",
          element_at(col("graft_ts"), 1), element_at(col("graft_ts"), 5),
          element_at(col("graft_ts"), 9)).as("t"))
      graft.pipeline.Retrieval.bestSnippets(s, idx, queries, "qid", "t", window = 8)
    }),
    "q_prefix_search" -> ((s, dir) => {
      // trailing-wildcard search ("spark*") with the StartsWith predicate
      // pushed into the sorted postings scan; oracle rescans raw tokens
      graft.pipeline.Retrieval.prefixSearch(s, posIndexFor(s, dir), "spar")
    }),
    "q_spell_correct" -> ((s, dir) => {
      // did-you-mean over the index's own vocabulary: one insertion typo
      // and one deletion typo per query doc; DuckDB brute-forces
      // levenshtein over the whole vocabulary with the same df ranking
      val idx = posIndexFor(s, dir)
      val toks = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= lit(""))
      val queries = docs(s, dir)
        .where(col("doc_id").isin(5L, 23L))
        .select(col("doc_id").as("qid"), toks.as("graft_ts"))
        .where(size(col("graft_ts")) >= 3)
        .select(col("qid"), concat_ws(" ",
          concat(element_at(col("graft_ts"), 1), lit("q")),
          expr("substr(element_at(graft_ts, 3), 2)")).as("t"))
      graft.pipeline.Retrieval.spellCorrections(s, idx, queries, "qid", "t")
    }),
    "q_phrase_search" -> ((s, dir) => {
      // exact-phrase retrieval over the positional index: queries are the
      // first 3 tokens of docs 3/17/29; the oracle scans every doc's token
      // array for verbatim adjacency, overlaps included
      val idx = posIndexFor(s, dir)
      val toks = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= lit(""))
      val queries = docs(s, dir)
        .where(col("doc_id").isin(3L, 17L, 29L))
        .select(col("doc_id").as("qid"), toks.as("graft_ts"))
        .where(size(col("graft_ts")) >= 3)
        .select(col("qid"), concat_ws(" ", slice(col("graft_ts"), 1, 3)).as("p"))
      graft.pipeline.Retrieval.phraseSearch(s, idx, queries, "qid", "p")
    }),
    "q_proximity_search" -> ((s, dir) => {
      // NEAR/slop retrieval: each query pairs a doc's 1st and 5th token,
      // slop 8 around the anchor; the oracle enumerates both terms'
      // positions per doc and counts witnessing anchors
      val idx = posIndexFor(s, dir)
      val toks = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= lit(""))
      val queries = docs(s, dir)
        .where(col("doc_id").isin(5L, 23L))
        .select(col("doc_id").as("qid"), toks.as("graft_ts"))
        .where(size(col("graft_ts")) >= 5)
        .select(col("qid"),
          concat_ws(" ", element_at(col("graft_ts"), 1),
            element_at(col("graft_ts"), 5)).as("p"))
      graft.pipeline.Retrieval.proximitySearch(s, idx, queries, "qid", "p", slop = 8)
    }),
    "q_dedup_confusables" -> ((s, dir) => {
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
    }),
    "q_pareto_front" -> ((s, dir) =>
      // multi-objective selection: the 3-D efficient frontier over
      // (length, two independent pseudo-scores); the two-phase pivot-prune
      // plan must return EXACTLY the quadratic NOT-EXISTS oracle's rows
      graft.operators.Skyline.pareto(
        docs(s, dir).select(col("doc_id"),
          col("n_chars").cast("long").as("x"),
          (col("doc_id") * 37 % 1000).as("y"),
          (col("doc_id") * 91 % 773).as("z")),
        Seq(col("x"), col("y"), col("z")), buckets = 16)),
    "q_threshold_sweep" -> ((s, dir) =>
      // operating-point sweep: score = bounded length proxy, label =
      // lang=='en' (fixture semantics — the sweep arithmetic is the
      // operator under test); every confusion count, ppm ratio and the
      // reliability column recomputed by the oracle with window sums
      graft.pipeline.Classifier.thresholdSweep(
        docs(s, dir),
        least(lit(1.0), length(col("text")) / lit(2000.0)),
        col("lang") === "en", buckets = 20)),
    "q_dp_count" -> ((s, dir) => {
      // ε-DP per-nation release: geometric-mechanism noise derived
      // deterministically from md5(key:seed) with exact integer bit-length
      // arithmetic — the oracle recomputes the identical noise, so the
      // privately-released counts hash-match bit-for-bit
      val c = s.read.parquet(s"$dir/customer.parquet")
      val counts = graft.pipeline.Pii.dpCounts(
        c, Seq(col("c_nationkey").as("nk")), kLog2 = 1, seed = 42L)
      val sums = graft.pipeline.Pii.dpSums(
        c, Seq(col("c_nationkey").as("nk")), floor(col("c_acctbal")),
        cap = 5000L, kLog2 = 1, seed = 7L)
      counts.join(sums, Seq("nk"))
    }),
    "q_dp_quantile" -> ((s, dir) => {
      // ε-DP order statistics: exponential-mechanism median + p90 of
      // customer balances on a public 64-cell grid, Gumbel-max draw made
      // deterministic via md5(seed:bucket) — the oracle replays the
      // histogram, utility, Gumbel and argmax bit-for-bit; distinct
      // releases use distinct seeds (composition)
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpQuantile(c, col("c_acctbal"),
          q = 0.5, lo = -1000.0, hi = 10000.0, bins = 64, kLog2 = 4, seed = 42L)
        .unionByName(graft.pipeline.Pii.dpQuantile(c, col("c_acctbal"),
          q = 0.9, lo = -1000.0, hi = 10000.0, bins = 64, kLog2 = 4, seed = 43L))
    }),
    "q_dp_quantiles" -> ((s, dir) => {
      // per-group ε-DP order statistics: one exponential-mechanism median
      // of account balance PER NATION, group-keyed uniforms (independent
      // draws per group under one seed) — oracle replays all 25 draws
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpQuantiles(c, Seq(col("c_nationkey").as("nk")),
        col("c_acctbal"), q = 0.5, lo = -1000.0, hi = 10000.0, bins = 64,
        kLog2 = 4, seed = 7L)
    }),
    "q_dp_histogram" -> ((s, dir) => {
      // per-group ε-DP histogram release: noised per-bucket counts of
      // account balance per nation on a public 32-cell grid — every
      // observed nation releases ALL 32 buckets (zeros carry noise, so
      // the support hides true emptiness); the oracle re-derives each
      // bucket's two-sided-geometric draw (md5 → leading zeros → floor
      // division) bit-for-bit
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpHistograms(c, Seq(col("c_nationkey").as("nk")),
        col("c_acctbal"), lo = -1000.0, hi = 10000.0, bins = 32,
        kLog2 = 2, seed = 9L)
    }),
    "q_mirror_hosts" -> ((s, dir) => {
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
    }),
    "q_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.unionAll(
        d.where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      graft.pipeline.Dedup.exact(corpus, col("doc_id"), col("text"))
        .select(col("doc_id"))
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      graft.pipeline.Dedup.minhashNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
    }),
    "q_similarity_join" -> ((s, dir) => {
      // EXACT trigram-shingle Jaccard pairs via prefix filtering (AllPairs)
      // over the planted near-dup corpus — the same ≥ 0.7 pair universe the
      // minhash LSH finds probabilistically, here with zero misses by
      // construction; DuckDB computes true all-pairs, so a single missed
      // candidate (prefix too short) or extra pair fails hash
      graft.pipeline.PrefixJoin.similarityJoin(
        nearDupCorpus(s, dir), col("doc_id"),
        graft.pipeline.Text.shingles(col("text"), 3), threshold = 0.7)
    }),
    "q_similarity_crosscorpus" -> ((s, dir) => {
      // EXACT A x B shingle-set Jaccard attribution (the zero-miss twin of
      // q_dedup_crosscorpus's LSH): mutated slice vs frozen reference
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val words = split(col("text"), " ")
      val mutated = d.where(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000).as("doc_id"),
        array_join(slice(words, lit(1), size(words) - 2), " ").as("text"))
      graft.pipeline.PrefixJoin.similarityJoinBetween(
        d, col("doc_id"), graft.pipeline.Text.shingles(col("text"), 3),
        mutated, col("doc_id"), graft.pipeline.Text.shingles(col("text"), 3),
        threshold = 0.7)
    }),
    "q_dedup_crosscorpus" -> ((s, dir) => {
      // new-crawl-vs-reference attribution: the mutated slice plays the
      // incoming batch, full documents the frozen reference; LSH band join
      // across the two corpora must surface exactly the true >= 0.7 pairs
      // (DuckDB computes TRUE all-pairs A x B Jaccard)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val words = split(col("text"), " ")
      val mutated = d.where(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000).as("doc_id"),
        array_join(slice(words, lit(1), size(words) - 2), " ").as("text"))
      graft.pipeline.Dedup.minhashNearDupJoin(
          d, col("doc_id"), col("text"),
          mutated, col("doc_id"), col("text"), shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
    }),
    "q_dedup_weighted_drop" -> ((s, dir) => {
      // curation face of the weighted tier: transitive weighted-near-dup
      // families keep min id; the oracle closes the true >= 0.8 pair set
      // with a recursive CTE and recomputes the survivors
      graft.pipeline.Wminhash.dropWeightedNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), threshold = 0.8)
        .select(col("id"))
    }),
    "q_dedup_weighted" -> ((s, dir) => {
      // ICWS weighted minhash over trigram-shingle tf: true all-pairs
      // weighted Jaccard >= 0.8 in DuckDB (every qualifying pair sits
      // >= 0.875, so the 16-band/4-row S-curve miss odds are ~7e-7 per
      // pair — a missed candidate or a verification slip fails hash)
      graft.pipeline.Wminhash.weightedNearDups(
        nearDupCorpus(s, dir), col("doc_id"), col("text"), threshold = 0.8)
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      graft.pipeline.Dedup.simhashNearDups(
          nearDupCorpus(s, dir), col("doc_id"), col("text"), shingleSize = 3, maxHamming = 8)
        .select(col("id_a"), col("id_b"))
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      // rows-only: exact pair-level jaccard on the constructed near-dups
      val c = nearDupCorpus(s, dir)
      val a = c.where(col("doc_id") < 10000).as("a")
      val b = c.where(col("doc_id") >= 10000).as("b")
      a.join(b, col("a.doc_id") + 10000 === col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          graft.pipeline.Dedup.ngramJaccard(col("a.text"), col("b.text")).as("jaccard"))
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val corpus = e.unionAll(
        e.where(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 10000))
      graft.pipeline.Similarity.embeddingNearDups(corpus, "vec_id", "embedding", 0.999)
        .select(col("id_a"), col("id_b"))
    }),
    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup with fixed one-hot centroids (engine-replicable assignment:
      // argmax of the first four raw components); planted exact copies are
      // the near pairs, the keep-lowest rule drops them
      val e = embeddings(s, dir).where(col("vec_id") % 10 === 0)
      val corpus = e.unionAll(
        e.where(col("vec_id") % 20 === 0).withColumn("vec_id", col("vec_id") + 10000))
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.semanticDedupWithCentroids(
          corpus, "vec_id", "embedding", cents, 0.999)
        .withColumnRenamed("id", "vec_id")
    }),
    "q_semdedup_bow" -> ((s, dir) => {
      // model-free semantic dedup: hashed-BoW pseudo-embeddings feed the
      // SemDeDup path on a corpus with NO neural embeddings (rows-only:
      // the word hash is not SQL-expressible; contract spec-covered, and
      // the planted truncated near-dups must collapse). The vector frame
      // persists because k-means iterations + assignment + the pair join
      // would otherwise each recompute the hash projection; nlist sized so
      // mean cells stay small (sum of cell^2 is the pair-join cost)
      val vecs = nearDupCorpus(s, dir).select(col("doc_id"),
        graft.pipeline.Text.hashedBow(col("text"), 128).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = graft.pipeline.Similarity.semanticDedup(
          vecs, "doc_id", "embedding", threshold = 0.95, nlist = 32, iters = 2)
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      vecs.unpersist(blocking = false)
      out
    }),
    "q_embedding_outliers" -> ((s, dir) => {
      // corrupt/out-of-distribution embedding hygiene: cosine to the
      // assigned one-hot centroid below threshold → outlier (oracle
      // replicates the argmax and the double cosine in plain SQL)
      val e = embeddings(s, dir)
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.embeddingOutliers(e, "vec_id", "embedding", cents, 0.18)
        .withColumnRenamed("id", "vec_id")
    }),
    "q_ann_eval" -> ((s, dir) => {
      // price the SQ8 quantization: its top-3 lists vs brute-force truth,
      // recall in exact ppm; BOTH sides replay in the oracle
      val e = embeddings(s, dir)
      val p = graft.pipeline.Sq.train(e, col("embedding"))
      val enc = graft.pipeline.Sq.encodeDf(e, col("vec_id"), col("embedding"), p)
      val pred = graft.pipeline.Sq.search(
        enc, p, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
      val truth = graft.pipeline.Similarity.bruteForceTopK(
        e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
      graft.pipeline.Similarity.evalTopK(pred, truth)
    }),
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.bruteForceTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    }),
    "q_hard_negatives" -> ((s, dir) => {
      // contrastive hard negatives: closest wrong-label neighbors, exact;
      // oracle = brute-force cosine with the label anti-filter
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.mineHardNegatives(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", "label", 3)
        .select(col("query_id"), col("neighbor_id"))
    }),
    "q_diversity_sample" -> ((s, dir) =>
      // rows-only (iterative argmax is not SQL-expressible; KCenterSpec
      // pins exact scalar-reference parity): 12 farthest-point centers
      // over the embeddings — the annotation-budget selection
      graft.pipeline.Similarity.kCenterGreedy(
        embeddings(s, dir), "vec_id", "embedding", 12)),
    "q_ann_matryoshka" -> ((s, dir) => {
      // truncated-dimension search: first 16 of the embedding dims,
      // re-normalized (ordering-invariant), exact top-3 — the oracle
      // ranks by cosine over the same 16-dim slices
      val e = embeddings(s, dir)
      val te = e.select(col("vec_id"),
        graft.pipeline.Similarity.truncateNormalize(col("embedding"), 16)
          .as("embedding"))
      graft.pipeline.Similarity.bruteForceTopK(
          te, te.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      // rows-only: recall vs brute force asserted in PipelineSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.lshTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_ann_multiprobe" -> ((s, dir) => {
      // rows-only: multi-probe query-side expansion at HALF the tables of
      // q_ann_lsh (the economics of the trade — corpus cost down, recall
      // held up by probing); recall ordering spec'd in MultiprobeSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.lshTopKMultiprobe(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3,
          tables = 4, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_ann_sq" -> ((s, dir) => {
      // SQ8 top-k: train per-dim ranges on the corpus, search the encoded
      // (1 byte/dim) corpus with dequantized cosine; the oracle replicates
      // quantize → dequantize → cosine → top-3 in SQL
      val e = embeddings(s, dir)
      val p = graft.pipeline.Sq.train(e, col("embedding"))
      val enc = graft.pipeline.Sq.encodeDf(e, col("vec_id"), col("embedding"), p)
      graft.pipeline.Sq.search(
          enc, p, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      // rows-only: IVF recall vs brute force asserted in PipelineSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.ivfTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3,
          nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_ann_ivfpq_build" -> ((s, dir) => {
      // rows-only: the once-per-corpus index-build cost, measured on its own
      // (VERDICT r7 #4 — the old q_ann_ivfpq conflated build with search).
      // A fresh build every call, so the bench times train + encode + write.
      val e = embeddings(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q_ivfpq_b").toString
      graft.pipeline.Pq.ivfPqBuild(e, "vec_id", "embedding", path,
        nlist = 16, mSub = 8, ksub = 16)
      s.read.parquet(s"$path/cells").groupBy(col("cid")).count()
        .orderBy(col("cid"))
    }),
    "q_ann_ivfpq" -> ((s, dir) => {
      // rows-only: steady-state IVF-PQ SEARCH against a prebuilt persisted
      // index (built once per process per sf dir, mirroring how a production
      // probe never retrains); ADC + exact rerank; recall vs the uncompressed
      // path and the >=4x cells size cut asserted in PqSpec
      val e = embeddings(s, dir)
      val path = ivfPqIndexFor(s, dir)
      graft.pipeline.Pq.ivfPqSearch(s, path, e.where(col("vec_id") < 10),
          "vec_id", "embedding", 3, nprobe = 4, rerankFactor = 4,
          rerankVectors = Some(e))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_ann_ivfsq" -> ((s, dir) => {
      // rows-only: steady-state IVF-SQ8 search (FAISS "IVF,SQ8" — the
      // middle quantization tier) against a prebuilt per-process index;
      // dequantizing cosine + exact rerank; recall + size cut in SqSpec
      val e = embeddings(s, dir)
      val path = ivfSqIndexFor(s, dir)
      graft.pipeline.Sq.ivfSqSearch(s, path, e.where(col("vec_id") < 10),
          "vec_id", "embedding", 3, nprobe = 4, rerankVectors = Some(e))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_curate" -> ((s, dir) => {
      // end-to-end curation: near-dedup (keep lowest id) + quality gates
      val kept = graft.pipeline.Dedup.dropNearDups(
        nearDupCorpus(s, dir), col("doc_id"), col("text"))
      kept
        .where(graft.pipeline.Text.tokenCount(col("text")) >= 50)
        .where(graft.pipeline.Text.langId(col("text")) === "en")
        .select(col("doc_id"))
    }),
    "q_dedup_clusters" -> ((s, dir) => {
      // connected components over the verified near-dup graph
      graft.pipeline.Dedup.nearDupClusters(
        nearDupCorpus(s, dir), col("doc_id"), col("text"))
    }),
    "q_curate_crawl" -> ((s, dir) => {
      // the full crawl front door end to end: HTML extraction → mojibake
      // repair → URL canonicalization → exact URL dedup (crawlers re-fetch
      // the same page under tracking-param/port/case variants; lowest id
      // wins) → token + language gates. Every step is the r8 ingest tier
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
    }),
    "q_pipeline_batch" -> ((s, dir) => {
      // the COMPOSED batch pipeline, hash-gated at COMPOSITION scope
      // (VERDICT r15 next-round #1): run the production chain — WARC/JSONL
      // quarantining front doors → extract/repair/canonicalize → three
      // dedup tiers → token/langid/gopher/PII gates → decontamination —
      // through the exact BatchPipeline.runChain the artifact main uses,
      // and return the whole-chain token-weighted retention funnel. Every
      // planted fixture (%37 URL variants, %41 mirrors, %43 near-copies,
      // %53 PII, %97 benchmark leaks) has a closed-form expected drop, so
      // the oracle replays the ENTIRE funnel in SQL: extraction closed
      // form + all-pairs shingle Jaccard for the near tier + the
      // langid/gopher/pii/decontamination gate replicas. The quarantine
      // count is require-pinned here (quarantined raw regions never reach
      // the funnel frame, so the funnel can't see them). Fixture staging
      // is cached per JVM — the reps re-run the pipeline, not the writer.
      val work = java.nio.file.Files.createTempDirectory("graft_q_pipe").toString
      val chain = BatchPipeline.runChain(s, dir, work,
        staged = Some(BatchPipeline.stagedOnce(s, dir)))
      require(chain.quarantined == 4,
        s"expected exactly 4 quarantined raw regions, got ${chain.quarantined}")
      val funnel = graft.pipeline.Curation.retentionFunnel(
        chain.flagged, chain.gateCols, weight = col("tok"))
      chain.base.unpersist(blocking = false)
      funnel
    }),
    "q_pipeline_yaml" -> ((s, dir) => {
      // the composed pipeline's CONFIG EXECUTION path, hash-gated per
      // round: parse the YAML twin of the chain (BatchPipeline.configTwin
      // — the exact spec BatchConfigSpec pins bit-identical to the
      // hand-coded path) and run it through BatchConfig.run; the oracle is
      // the SAME whole-funnel replay as q_pipeline_batch, so a regression
      // in the config layer's execution (tier threading, flag joins, gate
      // order, funnel weight) trips the per-round gate even when the
      // hand-coded path stays green. Funnel-only face: sampling/shard legs
      // are spec- and artifact-covered.
      val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, dir)
      val spec = BatchPipeline.configTwin(dir, warcDir, jsonlDir)
        .copy(sample = None, shards = None)
      val parsed = graft.pipeline.BatchConfig.fromYaml(spec.toYaml)
      val work = java.nio.file.Files.createTempDirectory("graft_q_pyaml").toString
      val res = parsed.run(s, work)
      require(res.quarantined == 4,
        s"expected exactly 4 quarantined raw regions, got ${res.quarantined}")
      res.funnel
    }),
    "q_pipeline_redact" -> ((s, dir) => {
      // the composed chain under the REDACT-AND-KEEP PII policy (VERDICT
      // r16 next-round #2), exercised through the CONFIG path: the pii
      // stanza keeps every row, scrubs the spans in place, re-derives tok
      // from the scrubbed text, and the STAGED funnel charges the
      // scrubbed-away token mass to the pii stage (raw weight through
      // pii, redacted weight after — conservation is part of the oracle).
      // Decontamination sees the scrubbed text, so the %53∩%97 docs still
      // leak-gate on their bodies. The hand-coded runChain under the same
      // policy is spec-pinned bit-identical (BatchPipelineSpec).
      val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, dir)
      val spec = BatchPipeline.configTwin(dir, warcDir, jsonlDir,
          piiPolicy = "redact")
        .copy(sample = None, shards = None)
      val parsed = graft.pipeline.BatchConfig.fromYaml(spec.toYaml)
      val work = java.nio.file.Files.createTempDirectory("graft_q_predact").toString
      val res = parsed.run(s, work)
      require(res.quarantined == 4,
        s"expected exactly 4 quarantined raw regions, got ${res.quarantined}")
      res.funnel
    }),
    "q_pipeline_mixture" -> ((s, dir) => {
      // the mix: stanza end-to-end through the CONFIG path (VERDICT r19
      // #1): documents as a jsonl front door, a token gate, then the
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
    }),
    "q_split_hash" -> ((s, dir) => {
      // deterministic content-addressed train/val/test split
      graft.pipeline.Curation.splitByHash(
        docs(s, dir).select(col("doc_id")), col("doc_id"))
    }),
    "q_leakage_split" -> ((s, dir) =>
      // cluster-keyed split over the near-dup corpus: families move whole,
      // singletons hash on their own id — the oracle replays clustering
      // (recursive reachability over true all-pairs jaccard) + the md5 split
      graft.pipeline.Curation.leakageSafeSplit(
          nearDupCorpus(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("split"))),
    "q_domain_cap" -> ((s, dir) => {
      // at most 40 docs per source, lowest doc_ids win (deterministic)
      graft.pipeline.Curation.capPerKey(
        docs(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), 40)
    }),
    "q_sample_budget" -> ((s, dir) => {
      // deterministic domain-mix sampling: src0 capped, others kept whole
      graft.pipeline.Curation.sampleToTokenBudget(
        docs(s, dir), col("doc_id"), col("source"),
        graft.pipeline.Text.tokenCount(col("text")),
        Map("src0" -> 2000L, "src1" -> 1000L))
        .select(col("doc_id"), col("source"))
    }),
    "q_length_quantiles" -> ((s, dir) => {
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
    }),
    "q_weighted_sample" -> ((s, dir) => {
      // per-source weighted sample without replacement (exponential
      // clocks): longer docs proportionally likelier; the draw is a pure
      // function of (doc_id, n_chars) so DuckDB replays it row-for-row
      graft.pipeline.Curation.weightedSamplePerKey(
          docs(s, dir), col("source"), col("doc_id"), col("n_chars"), k = 20)
        .select(col("doc_id"), col("source"))
    }),
    "q_pack_sequences" -> ((s, dir) => {
      // concat-then-chunk sequence packing of the documents token stream
      graft.pipeline.Curation.packSequences(
        docs(s, dir), col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")), contextLen = 512, numBuckets = 16)
    }),
    "q_pack_greedy" -> ((s, dir) => {
      // doc-atomic greedy first-fit packing; DuckDB replays the greedy
      // recurrence with a recursive CTE
      graft.pipeline.Curation.packGreedy(
        docs(s, dir), col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")), budget = 512, numBuckets = 16)
    }),
    "q_bm25" -> ((s, dir) => {
      // BM25 relevance vs a fixed query-term list; one corpus-stats row
      // broadcast back, scoring pass is narrow
      graft.pipeline.Curation.bm25(
        docs(s, dir), col("doc_id"), col("text"), Seq("join", "vector", "stream"))
    }),
    "q_classifier" -> ((s, dir) => {
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
    }),
    "q_lm_score" -> ((s, dir) => {
      // train the bigram LM on the corpus, score the corpus plus planted
      // gibberish suffixes (unseen words exercise the OOV/smoothing path)
      val d = docs(s, dir)
      val scoreSet = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"))
      val out = graft.pipeline.Lm.score(model, scoreSet, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_bm25_index_build" -> ((s, dir) => {
      // the once-per-corpus inverted-index build cost measured on its own
      // (the q_ann_ivfpq_build pattern): a FRESH build every call, so the
      // bench times tokenize + postings aggregate + skew-salted write; the
      // dfs table is the deterministic, oracle-checkable build artifact
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q_bm25_b").toString
      graft.pipeline.Retrieval.buildIndex(d, "doc_id", "text", path)
      s.read.parquet(s"$path/dfs")
    }),
    "q_bm25_search" -> ((s, dir) => {
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
    }),
    "q_bm25_search_steady" -> ((s, dir) => {
      // the production search-tier shape: a FIXED 100-query batch (ids
      // 0,5,...,495 — corpus-size-INDEPENDENT, unlike q_bm25_search's
      // every-50th slice that grows with the corpus) against the prebuilt
      // index, so the gated time scales linearly in corpus size per query
      // — the steady-state QPS regime a perf regression would actually hit
      val d = docs(s, dir)
      val queries = d.where(col("doc_id") % 5 === 0 && col("doc_id") < 500)
      graft.pipeline.Retrieval.searchTopK(
        s, bm25IndexFor(s, dir), queries, "doc_id", "text", k = 5)
    }),
    "q_bm25_append" -> ((s, dir) => {
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
    }),
    "q_lm3_score" -> ((s, dir) => {
      // interpolated trigram LM (recursive Jelinek–Mercer backoff): train at
      // order 3, score the corpus plus the same planted gibberish suffixes —
      // no trigram OR bigram match, so they fall to the smoothed unigram
      // floor and separate harder than under the bigram model
      val d = docs(s, dir)
      val scoreSet = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"), order = 3)
      val out = graft.pipeline.Lm.score(model, scoreSet, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_lm5_score" -> ((s, dir) => {
      // CCNet-shape interpolated 5-gram LM (recursive Jelinek–Mercer down
      // through 4/3/2-grams to the smoothed unigram floor): train at order
      // 5, score the corpus plus the planted gibberish suffixes
      val d = docs(s, dir)
      val scoreSet = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"), order = 5)
      val out = graft.pipeline.Lm.score(model, scoreSet, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_lm_kn" -> ((s, dir) => {
      // interpolated Kneser-Ney at order 3 (D=0.75, add-1 continuation
      // floor): continuation counts, absolute discounting and the
      // full-backoff unseen-context branch all replayed by the oracle in
      // the same IEEE operation order; the planted gibberish suffix
      // exercises the OOV floor (n_oov) exactly as the JM queries do
      val d = docs(s, dir)
      val scoreSet = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"), order = 3)
      val out = graft.pipeline.Lm.scoreKn(model, scoreSet, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_lm_mkn" -> ((s, dir) => {
      // MODIFIED Kneser-Ney at order 3 (KenLM default: count-dependent
      // discounts D1/D2/D3+ per order from count-of-counts, per-context
      // count-bucket backoff mass): the oracle recomputes the discount
      // scalars from the same count-of-counts in the same IEEE order, then
      // replays the scoring arithmetic; planted gibberish exercises the
      // OOV floor
      val d = docs(s, dir)
      val scoreSet = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"), order = 3)
      val out = graft.pipeline.Lm.scoreMkn(model, scoreSet, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_collocations" -> ((s, dir) => {
      // PMI-ranked bigram collocations from the corpus-trained LM counts
      val model = graft.pipeline.Lm.train(docs(s, dir), col("text"))
      val out = graft.pipeline.Lm.collocations(model, minCount = 5L)
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_lm_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail terciles by mean transition probability
      val d = docs(s, dir)
      val model = graft.pipeline.Lm.train(d, col("text"))
      val out = graft.pipeline.Lm
        .perplexityBuckets(model, d, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_lm_filter" -> ((s, dir) => {
      // CCNet paragraph filter: frame docs sentence-per-paragraph, plant a
      // gibberish paragraph on doc_id % 4 == 0; paragraphs below the mean
      // transition probability floor drop, survivors rebuild in order
      val d = docs(s, dir)
      val framed = d.select(col("doc_id"), concat(
        regexp_replace(col("text"), "\\. ", ".\n\n"),
        when(col("doc_id") % 4 === 0,
          lit("\n\nzzqx9 vvkk7 zzqx9 qqy3")).otherwise(lit(""))).as("t"))
      val model = graft.pipeline.Lm.train(d, col("text"))
      val out = graft.pipeline.Lm.filterParagraphs(
          model, framed, col("doc_id"), col("t"), minMeanProbE12 = 1000000000L)
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      model.release()
      out
    }),
    "q_dsir_weights" -> ((s, dir) => {
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
    }),
    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: corpus docs sharing 8-gram(s) with the
      // "benchmark" slice (docs with id % 25 == 0)
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminate(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("text"))
    }),
    "q_decontaminate_containment" -> ((s, dir) => {
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
    }),
    "q_containment_gate" -> ((s, dir) => {
      // row-local containment decontamination via the BROADCAST index —
      // the streaming gate's probe expression run batch-side (r16: the
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
    }),
    "q_badwords" -> ((s, dir) => {
      // C4-style blocklist gate: one alternation regex over the list,
      // word-boundary, multi-word phrases across whitespace
      graft.pipeline.Curation.blocklistGate(
        docs(s, dir).select(col("doc_id"), col("text")), col("text"),
        Seq("slow", "hash value", "broken pipe"))
        .select(col("doc_id"), col("n_blocklist_hits"), col("blocked"))
    }),
    "q_pipeline_config" -> ((s, dir) => {
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
    }),
    "q_redact_ac" -> ((s, dir) => {
      // automaton scrub-list redaction (merged spans). The phrase pair has
      // no cross- or self-overlaps and '#' can't create new matches, so
      // sequential literal replace is provably identical — the oracle
      val ac = graft.pipeline.MultiMatch.compile(Seq("slow", "hash value"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.MultiMatch.acRedact(col("text"), ac, "#").as("red"))
    }),
    "q_funnel" -> ((s, dir) => {
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
    }),
    "q_blocklist_ac" -> ((s, dir) => {
      // the same gate through the Aho–Corasick scale path: automaton scan,
      // O(text + matches) per row independent of dictionary size; counts
      // ALL (phrase, position) occurrences (overlaps included)
      graft.pipeline.Curation.blocklistGateAc(
        docs(s, dir).select(col("doc_id"), col("text")), col("text"),
        Seq("slow", "hash value", "broken pipe"))
        .select(col("doc_id"), col("n_blocklist_hits"), col("blocked"))
    }),
    "q_decontaminate_spans" -> ((s, dir) => {
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
    }),
    "q_decontaminate_attr" -> ((s, dir) => {
      // attribution variant: WHICH benchmark doc leaked (most shared
      // 8-grams, ties to the lowest bench id)
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminateAttributed(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("doc_id"), col("text"))
    }),
    "q_decontaminate_bloom" -> ((s, dir) => {
      // bloom-screen variant of q_decontaminate: at fpp=0.001 over this
      // benchmark set the screen is exact (verified), so the exact-overlap
      // oracle applies; probes are deterministic, so that holds run to run
      val d = docs(s, dir)
      graft.pipeline.Curation.decontaminateBloom(
        d, col("doc_id"), col("text"),
        d.where(col("doc_id") % 25 === 0), col("text"),
        expectedNgrams = 500000L, fpp = 0.001, bloomName = "graft_decontam_q")
    }),
    "q_chunk_docs" -> ((s, dir) => {
      // word-aligned 40-word chunks with 8-word overlap (stride 32)
      graft.pipeline.Curation.chunkDocs(
          docs(s, dir), col("doc_id"), col("text"), maxWords = 40, overlapWords = 8)
        .withColumnRenamed("id", "doc_id")
    }),
    "q_corpus_report" -> ((s, dir) => {
      // one-pass per-source observability report; quality mass in exact
      // 1e-9 fixed point so the aggregate hash-matches the oracle
      graft.pipeline.Curation.corpusReport(
        docs(s, dir), col("text"), col("source"), gopherMinWords = 20)
    }),
    "q_temperature_sample" -> ((s, dir) => {
      // alpha=0.5 temperature rebalancing across sources to a 20k-token
      // budget; selection content-addressed, oracle hash-matches row-for-row
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        graft.pipeline.Text.tokenCount(col("text")).as("toks"))
      graft.pipeline.Curation.temperatureSample(
          d, col("doc_id"), col("source"), col("toks"),
          totalBudget = 20000L, alpha = 0.5)
        .select(col("doc_id"), col("source"))
    }),
    "q_dedup_skew" -> ((s, dir) => {
      // planted skew: 10k exact copies of doc 1's text — the exact-content
      // pre-collapse keeps the LSH bucket join bounded (one representative)
      // while curation still drops every copy
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val one = d.where(col("doc_id") === 1).select(col("text").as("t1"))
      val copies = s.range(10000).crossJoin(one)
        .select((col("id") + 100000).as("doc_id"), col("t1").as("text"))
      graft.pipeline.Dedup.dropNearDups(d.unionAll(copies), col("doc_id"), col("text"))
        .select(col("doc_id"))
    }),
    "q_text_tokens" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.tokenCount(col("text")).as("n_tokens"),
        graft.pipeline.Text.bpeTokenEstimate(col("text")).as("n_bpe"),
        graft.pipeline.Text.bpeTokenCount(col("text")).as("n_bpe_regex"))
    }),
    "q_bpe_tokens" -> ((s, dir) => {
      // rows-only: learn a 150-merge BPE table from the corpus word counts
      // (driver-side merge loop over the bounded dictionary, the standard
      // trainer shape) and emit exact subword token counts per doc
      val d = docs(s, dir)
      val model = graft.pipeline.Bpe.learnMerges(
        d, col("text"), numMerges = 150, minCount = 5L)
      d.select(col("doc_id"),
        graft.pipeline.Bpe.tokenCount(model, col("text")).as("n_bpe_exact"),
        graft.pipeline.Text.tokenCount(col("text")).as("n_words"))
    }),
    "q_bpe_gpt2" -> ((s, dir) => {
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
    }),
    "q_image_phash" -> ((s, dir) => {
      // rows-only (DCT arithmetic is not SQL-expressible; PhashSpec pins the
      // hash by hand-checked invariances): perceptual-hash image dedup over
      // a planted corpus — resized and JPEG-recompressed copies must land
      // within the Hamming radius through the 8-band join, no all-pairs
      val media = imageDupFixture(s, dir)
      graft.pipeline.Phash.nearDups(media, col("id"), col("data"), maxHamming = 12)
    }),
    "q_audio_phash" -> ((s, dir) => {
      // rows-only (Goertzel/HK arithmetic is not SQL-expressible;
      // AudioPhashSpec pins the invariances): perceptual audio dedup —
      // resampled (12 kHz) and 8-bit-AIFF re-encoded copies of tonal clips
      // collapse to their originals through the same 8-band Hamming join
      // the image tier uses, no all-pairs
      val media = audioDupFixture(s, dir)
      graft.pipeline.AudioPhash.nearDups(media, col("id"), col("data"), maxHamming = 12)
    }),
    "q_dedup_lines" -> ((s, dir) => {
      // wrap every document in shared chrome (nav header, copyright footer);
      // line dedup must strip the chrome everywhere and keep original text
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("NAV MENU HOME ABOUT\n"), col("text"),
          lit("\nCopyright 2026 Example Corp")).as("t"))
      graft.pipeline.Dedup.dedupLines(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    }),
    "q_hll_domains" -> ((s, dir) => {
      // rows-only (xxhash64-seeded registers aren't SQL-portable): per-source
      // HLL distinct-doc sketches built per half-corpus batch, rolled up with
      // hll_merge — the incremental cross-batch telemetry path; HllSpec pins
      // union==full-scan byte identity and the error bound
      val d = docs(s, dir)
      val half = d.select(col("source"), col("doc_id"),
        (col("doc_id") % 2).as("graft_batch"))
      half.groupBy(col("source"), col("graft_batch"))
        .agg(graft.functions.dsl.hll_sketch(col("doc_id")).as("graft_s"))
        .groupBy(col("source"))
        .agg(graft.functions.dsl.hll_merge(col("graft_s")).as("graft_m"))
        .select(col("source"), graft.functions.dsl.hll_estimate(col("graft_m")).as("est_docs"))
    }),
    "q_unigram_tokens" -> ((s, dir) => {
      // rows-only (EM training isn't SQL-expressible; UnigramSpec pins
      // round-trip coverage, EM monotonicity, partition invariance):
      // SentencePiece-style unigram-LM tokenizer trained on the corpus
      // word-frequency table (cached per process), exact ML token counts
      val model = unigramModelFor(s, dir)
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Unigram.tokenCount(model, col("text")).as("n_tokens"))
    }),
    "q_cms_langs" -> ((s, dir) => {
      // per-key frequency telemetry from a stored sketch, not a rescan:
      // per-source CMS of the lang column built per half-corpus batch,
      // sum-merged (the cross-batch path), then point-estimated for every
      // observed (source, lang) pair. Width 65536 over a handful of langs
      // is collision-free, so estimates are exact and the DuckDB oracle is
      // a plain GROUP BY count; any seed-collision would surface as a
      // hash mismatch here.
      import graft.functions.dsl.{cms_estimate, cms_merge, cms_sketch}
      val d = docs(s, dir)
      val sk = d.select(col("source"), col("lang"), (col("doc_id") % 2).as("graft_batch"))
        .groupBy(col("source"), col("graft_batch"))
        .agg(cms_sketch(col("lang"), 65536, 4).as("graft_s"))
        .groupBy(col("source")).agg(cms_merge(col("graft_s")).as("graft_s"))
      d.select(col("source"), col("lang")).distinct()
        .join(broadcast(sk), "source")
        .select(col("source"), col("lang"),
          cms_estimate(col("graft_s"), col("lang")).as("n_docs"))
    }),
    "q_compression_ratio" -> ((s, dir) => {
      // rows-only (DuckDB has no zlib surface): per-doc deflate ratio, the
      // information-density gate — CompressionSpec pins the band semantics
      docs(s, dir).select(col("doc_id"),
        round(graft.pipeline.Text.compressionRatio(col("text")), 6).as("zratio"))
    }),
    "q_theta_overlap" -> ((s, dir) => {
      // cross-corpus overlap WITHOUT joining the corpora: per-half theta
      // sketches of 5-word shingles built per doc_id%4 batch (the
      // incremental telemetry path), rolled up with theta_union, then
      // shared/novel mass via sketch set algebra on two blobs. k=2^18 far
      // exceeds the distinct-shingle count at the gate SFs, so theta never
      // moves and every estimate is EXACT — the oracle runs true set ops.
      import graft.functions.dsl.{theta_a_not_b, theta_estimate, theta_intersect, theta_sketch, theta_union}
      val sh = docs(s, dir).select(
        (col("doc_id") % 2).as("corpus"), (col("doc_id") % 4).as("graft_batch"),
        explode(graft.pipeline.Text.shingles(col("text"), 5)).as("g"))
      val merged = sh.groupBy(col("corpus"), col("graft_batch"))
        .agg(theta_sketch(col("g"), 1 << 18).as("sk"))
        .groupBy(col("corpus")).agg(theta_union(col("sk")).as("sk"))
      val a = merged.where(col("corpus") === 0).select(col("sk").as("ska"))
      val b = merged.where(col("corpus") === 1).select(col("sk").as("skb"))
      a.crossJoin(b).select( // single-row frames
        theta_estimate(col("ska")).as("n_a"),
        theta_estimate(col("skb")).as("n_b"),
        theta_estimate(theta_intersect(col("ska"), col("skb"))).as("n_shared"),
        theta_estimate(theta_a_not_b(col("skb"), col("ska"))).as("n_novel_b"))
    }),
    "q_dedup_sentences" -> ((s, dir) => {
      // boilerplate that shares a line with content: every doc gets a
      // subscribe pitch PREPENDED to its own text on one line — line dedup
      // can't fire (the full line differs per doc), sentence dedup strips
      // the pitch corpus-wide and keeps each doc's own sentences
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("Subscribe to our newsletter today! "), col("text"),
          lit(" Visit example dot com for more.")).as("t"))
      graft.pipeline.Dedup.dedupSentences(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    }),
    "q_dedup_prioritized" -> ((s, dir) => {
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
    }),
    "q_corpus_diff" -> ((s, dir) => {
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
    }),
    "q_dedup_withindoc" -> ((s, dir) => {
      // nav chrome stamped at the top AND bottom of the SAME page (plus
      // sentence-per-line body): within-doc dedup keeps first occurrences
      // only — no cross-doc count involved, and no shuffle in the plan
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("NAV MENU\n"), regexp_replace(col("text"), "\\. ", ".\n"),
          lit("\nNAV MENU\n\nCopyright 2026")).as("t"))
      graft.pipeline.Dedup.dedupLinesWithinDoc(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    }),
    "q_dedup_paragraphs" -> ((s, dir) => {
      // shared consent paragraph on every doc + a per-doc unique paragraph:
      // paragraph dedup strips the chrome everywhere, keeps the unique one
      val framed = docs(s, dir).select(col("doc_id"),
        concat(lit("We use cookies to improve your experience.\n\n"), col("text"),
          lit("\n\nSubscribe to our newsletter for updates.")).as("t"))
      graft.pipeline.Dedup.dedupParagraphs(framed, col("doc_id"), col("t"))
        .withColumnRenamed("id", "doc_id")
    }),
    "q_dedup_spans" -> ((s, dir) => {
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
    }),
    "q_span_lengths" -> ((s, dir) => {
      // the Lee et al. span-dedup AUDIT artifact (r16): the MERGED
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
    }),
    "q_pii" -> ((s, dir) => {
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
    }),
    "q_url_parse" -> ((s, dir) => {
      // deterministic fake URLs from documents; parse host/path/tld
      val url = concat(lit("https://"), col("source"), lit(".example.co.uk:8080/docs/"),
        col("doc_id").cast("string"), lit("?ref=x"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.urlHost(url).as("host"),
        graft.pipeline.Text.urlPath(url).as("path"),
        graft.pipeline.Text.urlTld(url).as("tld"))
    }),
    "q_shards" -> ((s, dir) => {
      // deterministic shard export + manifest: content-addressed shard and
      // within-shard order; the oracle replicates the manifest from the
      // same md5 recipe and the whitespace token count
      val path = java.nio.file.Files.createTempDirectory("graft_q_shards").toString
      graft.pipeline.Curation.writeShards(
        docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), graft.pipeline.Text.tokenCount(col("text")), path, 8)
    }),
    "q_wds_roundtrip" -> ((s, dir) => {
      // WebDataset tar-shard export + re-ingest (VERDICT r16 #6): write
      // documents as byte-deterministic ustar shards (same md5 shard
      // recipe as writeShards; key = %020d of the id), read them BACK,
      // and report per-shard docs / token mass / an order-independent
      // membership hash computed from the RE-INGESTED key+text — any
      // loss, duplication or corruption in the tar round-trip breaks the
      // hash. The oracle recomputes all three straight from documents.
      val path = java.nio.file.Files.createTempDirectory("graft_q_wds").toString
      graft.sources.Wds.write(
        docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), col("text"),
        graft.pipeline.Text.tokenCount(col("text")), path, 8)
      val (rows, bad) = graft.sources.Wds.read(s, path)
      require(bad.isEmpty, "re-ingest quarantined a written shard")
      rows.groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(graft.pipeline.Text.tokenCount(col("text"))).as("tokens"),
          sum(conv(substring(md5(concat(col("key"), col("text"))
            .cast("binary")), 1, 8), 16, 10).cast("long")).as("member_hash"))
    }),
    "q_wds_epoch" -> ((s, dir) => {
      // Epoch-aware within-shard reshuffle (VERDICT r17 #4): export the
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
    }),
    "q_wds_epoch_sidecar" -> ((s, dir) => {
      // Per-epoch order SIDECAR (r19, VERDICT r18 #6): export ONCE with
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
    }),
    "q_wds_manifest" -> ((s, dir) => {
      // verify="manifest" export (r19, VERDICT r18 #3): the returned
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
    }),
    "q_wds_gzip" -> ((s, dir) => {
      // gzipped WebDataset shards (VERDICT r17 #7): same round-trip gate
      // as q_wds_roundtrip, through deterministic .tar.gz shards — the
      // compressed write path and the magic-sniffed decompressing ingest
      // both sit inside the oracle-checked loop
      val path = java.nio.file.Files.createTempDirectory("graft_q_wds_gz").toString
      graft.sources.Wds.write(
        docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), col("text"),
        graft.pipeline.Text.tokenCount(col("text")), path, 8, compress = true)
      val (rows, bad) = graft.sources.Wds.read(s, path)
      require(bad.isEmpty, "re-ingest quarantined a written shard")
      rows.groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(graft.pipeline.Text.tokenCount(col("text"))).as("tokens"),
          sum(conv(substring(md5(concat(col("key"), col("text"))
            .cast("binary")), 1, 8), 16, 10).cast("long")).as("member_hash"))
    }),
    "q_wds_multimodal" -> ((s, dir) => {
      // multimodal WebDataset (r18): each sample carries a BINARY part
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
    }),
    "q_mixture" -> ((s, dir) => {
      // weighted corpus mixture (r18): 2.5 "epochs" of the wiki slice +
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
    }),
    "q_zorder" -> ((s, dir) => {
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
    }),
    "q_ingest_jsonl" -> ((s, dir) => {
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
    }),
    "q_drift_categorical" -> ((s, dir) => {
      // language-mix drift: the new release drops half the zh docs and
      // doubles es — the mix question consumers ask first
      val d = docs(s, dir)
      val newRelease = d.where(!(col("lang") === "zh" && col("doc_id") % 2 === 0))
        .select(col("lang"))
        .unionAll(d.where(col("lang") === "es").select(col("lang")))
      graft.pipeline.Curation.categoricalDrift(
        d.select(col("lang")), newRelease, col("lang"))
    }),
    "q_release_report" -> ((s, dir) => {
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
    }),
    "q_drift" -> ((s, dir) => {
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
    }),
    "q_drift_sketch" -> ((s, dir) => {
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
    }),
    "q_pii_iban" -> ((s, dir) => {
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
    }),
    "q_pii_cards" -> ((s, dir) => {
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
    }),
    "q_pseudonymize" -> ((s, dir) =>
      // keyed pseudonyms over a synthetic user column: deterministic,
      // joinable, and byte-identical to DuckDB's sha256 hex
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Pii.pseudonymize(
          concat(lit("user"), (col("doc_id") % 37).cast("string")), "k2024")
          .as("user_pseudo"))),
    "q_ingest_csv" -> ((s, dir) => {
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
    }),
    "q_ingest_clf" -> ((s, dir) => {
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
    }),
    "q_ingest_fixedwidth" -> ((s, dir) => {
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
    }),
    "q_ingest_shards" -> ((s, dir) => {
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
    }),
    "q_mixing_schedule" -> ((s, dir) => {
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
    }),
    "q_gate_agreement" -> ((s, dir) => {
      // Cohen's kappa between a cheap length gate and the word-count gate
      // it would replace — the swap-a-filter sanity report
      graft.pipeline.Curation.gateAgreement(docs(s, dir),
        col("n_chars") >= 200,
        size(split(trim(col("text")), "\\s+")) >= 40)
    }),
    "q_ingest_warc" -> ((s, dir) => {
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
    }),
    "q_domain_blocklist" -> ((s, dir) => {
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
    }),
    "q_url_canonicalize" -> ((s, dir) => {
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
    }),
    "q_unicode_normalize" -> ((s, dir) => {
      // NFC normalization of planted decomposed text: e + combining acute
      // must collapse to the composed form (DuckDB nfc_normalize oracle)
      val planted = concat(lit("cafe\u0301 nai\u0308ve "), col("text"))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.normalizeUnicode(planted).as("norm"))
    }),
    "q_fix_encoding" -> ((s, dir) => {
      // planted mojibake shell: latin-1 AND cp1252 double-decode sequences,
      // raw smart punctuation, an accented-letter repair — the oracle
      // computes the expected repaired text straight from the text column
      val moji = "Don\u00E2\u0080\u0099t \u00E2\u0080\u009Cquote\u00E2\u0080\u009D " +
        "caf\u00C3\u00A9 \u00E2\u20AC\u2122ok\u00E2\u20AC\u2122 \u2014 fin\u2026 "
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.fixEncoding(concat(lit(moji), col("text"))).as("fixed"))
    }),
    "q_text_gopher" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), graft.pipeline.Text.gopherQuality(col("text"), minWords = 20).as("g"))
        .select(col("doc_id"), col("g.word_count"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.alpha_word_ratio"), col("g.stopword_hits"), col("g.pass"))
    }),
    "q_code_language" -> ((s, dir) => {
      // code-corpus routing fixture (r19, pipeline/Code.scala): extension
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
    }),
    "q_license_detect" -> ((s, dir) => {
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
    }),
    "q_strip_comments" -> ((s, dir) => {
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
    }),
    "q_code_stats" -> ((s, dir) => {
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
    }),
    "q_sft_validate" -> ((s, dir) => {
      // conversation structural gate over the planted-variant fixture
      sftMessages(docs(s, dir), variants = true)
        .select(col("doc_id"),
          graft.pipeline.Sft.validateChat(col("messages")).as("v"))
        .select(col("doc_id"), col("v.valid"), col("v.n_turns"), col("v.reason"))
    }),
    "q_sft_flatten" -> ((s, dir) => {
      // pinned chat-template flattening — the oracle rebuilds every
      // variant's flattened string from the same word slices
      sftMessages(docs(s, dir), variants = true).select(col("doc_id"),
        graft.pipeline.Sft.flattenChat(col("messages")).as("flat"))
    }),
    "q_sft_spans" -> ((s, dir) => {
      // loss-mask spans on the BASE conversation (variant layouts are
      // spec-covered): the oracle replays the character-offset arithmetic
      // from the slice lengths — two assistant turns per doc
      sftMessages(docs(s, dir), variants = false)
        .select(col("doc_id"),
          explode(graft.pipeline.Sft.assistantSpans(col("messages"))).as("e"))
        .select(col("doc_id"), col("e.turn"), col("e.start"), col("e.end"))
    }),
    "q_decontaminate_semantic" -> ((s, dir) => {
      // embedding-space decontamination: benchmark = every 7th embedding
      // re-keyed (exact copies are the planted leaks); one-hot centroids
      // keep cell assignment oracle-replicable, the oracle replays the
      // cell-bounded cosine join exactly
      val e = embeddings(s, dir)
      val bench = e.where(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.semanticDecontaminate(
          e, bench, "vec_id", "embedding", cents, 0.999)
        .withColumnRenamed("id", "vec_id")
    }),
    "q_text_quality" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.qualityScore(col("text")).as("q"))
    }),
    "q_top_ngrams" -> ((s, dir) => {
      // corpus boilerplate report: top-100 trigrams by doc frequency,
      // deterministic (count desc, ngram asc) — distributed top-k shape
      graft.pipeline.Curation.topNgrams(docs(s, dir), col("text"), n = 3, k = 100)
    }),
    "q_tfidf" -> ((s, dir) => {
      // per-doc top-5 tf-idf keywords (6-dp rounded scores, term-asc ties)
      val (kw, releaseTf) = graft.pipeline.Curation.tfidfKeywordsHandle(
        docs(s, dir), col("doc_id"), col("text"), topK = 5)
      val out = kw.withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release (r15 #8 posture)
      releaseTf()
      out
    }),
    "q_quantile_gate" -> ((s, dir) => {
      // adaptive threshold: keep the top 70% of docs by token count; the
      // exact interpolated percentile is the same formula in DuckDB
      graft.pipeline.Curation.gateByQuantile(
          docs(s, dir).select(col("doc_id"),
            graft.pipeline.Text.tokenCount(col("text")).as("n_tokens")),
          col("n_tokens"), keepFraction = 0.7)
    }),
    "q_percentiles" -> ((s, dir) => {
      // gate-threshold reconnaissance: exact per-source token-count
      // percentiles (Spark percentile == DuckDB quantile_cont, both
      // (n-1)q linear interpolation on integral token counts)
      graft.pipeline.Curation.percentileReport(
        docs(s, dir), col("source"),
        graft.pipeline.Text.tokenCount(col("text")))
    }),
    "q_quality_gate" -> ((s, dir) => {
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
    }),
    "q_streaming_e2e" -> ((s, dir) => {
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
    }),
    "q_text_repetition" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.repetitionRatio(col("text")).as("rep"))
    }),
    "q_text_repsignals" -> ((s, dir) => {
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
    }),
    "q_text_clean" -> ((s, dir) => {
      // plant control chars, tab runs, ragged spacing and blank-line floods;
      // cleaning must normalize all of it (oracle replicates byte-for-byte)
      val messy = concat(lit("  \u0007head\t\t"), col("text"),
        lit("   \nline  \n\n\n\ntail  "))
      docs(s, dir).select(col("doc_id"),
        graft.pipeline.Text.cleanText(messy).as("clean"))
    }),
    "q_html_extract" -> ((s, dir) => {
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
    }),
    "q_text_langid" -> ((s, dir) => {
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
    }),
    "q_text_fingerprint" -> ((s, dir) => {
      // winnowing fingerprints, VALUE-exact: the oracle replays the FNV-1a
      // 64-bit rolling hash in DuckDB (HUGEINT mod-2^64 arithmetic, xor on
      // the low 16 bits, signed window minima) — every selected hash must
      // agree bit-for-bit, not just the count
      docs(s, dir).select(col("doc_id"),
        explode(graft.pipeline.Text.fingerprint(col("text"))).as("fp"))
    }),
    "q_multimodal_features" -> ((s, dir) => {
      // oracle=sql since r11 (expected output computed directly): the
      // kind assignment and decode outcome are determined per row — image
      // (ImageIO) and audio (AudioSystem WAV) REAL decodes must succeed,
      // video honestly fails (no JDK codec; container parsing is
      // q_video_meta's job), feature dim is fixed at 16
      val media = graft.pipeline.Multimodal.mediaFromText(docs(s, dir), "doc_id", "text")
      graft.pipeline.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("decodedOk"),
          size(col("feature")).as("feat_dim"))
    }),
    "q_video_meta" -> ((s, dir) => {
      // oracle=sql since r11 (the q_url_canonicalize pattern — expected
      // output computed directly): the synthetic containers are built from
      // fixed parameters, so EVERY field of the box walk + sample-table
      // keyframe extraction is determined (isom/2000ms/64x48/avc1, 2 sync
      // samples of 16 B each); any parser drift hash-mismatches.
      // Mp4Spec additionally pins the parser against hand-built containers
      val media = graft.pipeline.Multimodal.mediaFromText(docs(s, dir), "doc_id", "text")
      val meta = graft.pipeline.Multimodal.extractVideoMeta(media)
      val frames = graft.pipeline.Multimodal.sampleKeyframes(media).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_keyframes"),
          sum(length(col("frame"))).as("keyframe_bytes"))
      meta.join(frames, Seq("media_id"), "left")
        .select(col("media_id"), col("parsed_ok"), col("brand"),
          col("duration_ms"), col("width"), col("height"), col("video_codec"),
          coalesce(col("n_keyframes"), lit(0L)).as("n_keyframes"),
          coalesce(col("keyframe_bytes"), lit(0L)).as("keyframe_bytes"))
    }),
    "q_as_uuid" -> ((s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        Bridge.column(graft.functions.AsUuidExpr(
          Bridge.expression(col("l_orderkey")), Bridge.expression(col("l_partkey")))).as("uuid"))
    }),
    "q_video_frames" -> ((s, dir) => {
      // REAL video pixel decode for the codec-free container class
      // (ADR-0002, VERDICT r18 #4): MJPEG-in-MP4 synthesized per doc
      // (seed = doc_id, 3 solid-color JPEG frames), decoded to pixels
      // with ImageIO through the container's sample tables. The planted
      // channels are md5-derived multiples of 4 in 96..156, so a uniform
      // JPEG block round-trips EXACTLY and the oracle recomputes every
      // mean from the same md5 hex chars — the decode is hash-gated, not
      // rows-only
      val spark2 = s
      import spark2.implicits._
      val media = docs(s, dir).where(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long].map { id =>
          graft.pipeline.Multimodal.MediaRow(id, "video",
            graft.pipeline.Multimodal.syntheticMjpegMp4(id, nFrames = 3),
            graft.pipeline.Multimodal.MediaMeta(16, 16, "video/mp4", 120L))
        }
      graft.pipeline.Multimodal.decodeFrames(media)
    }))

  private val Bridge = org.apache.spark.sql.graft.Bridge

  /** DuckDB oracle SQL per query (same parquet tables). */
  /** all-pairs exact trigram-jaccard >= 0.7 over the constructed near-dup
   * corpus (q_dedup_minhash's oracle) — reused as the GROUND-TRUTH side of
   * q_dedup_eval. */
  // the composed chain's whole funnel replayed in SQL: closed-form
  // extraction per ingested row (main + %37 refetch + %41 mirror +
  // %43 near-copy + the resync survivor; quarantined raw regions are
  // require-pinned in the queries and never reach the funnel frame),
  // kind-encoded url/content dedup losers (downstream-IDENTICAL to their
  // keepers, so charging the refetch/mirror copy is funnel-invariant),
  // TRUE all-pairs 3-shingle Jaccard for the near tier with the
  // keep-most-complete loser rule, then the langid/gopher/pii/
  // decontamination gate replicas and first-fail accounting — shared by
  // q_pipeline_batch (hand-coded runChain) and q_pipeline_yaml (the
  // BatchConfig twin), which must produce the SAME funnel.
  private val PipelineFunnelOracleSql: String =
    """WITH raw AS (
        |  SELECT doc_id, text,
        |         CASE WHEN doc_id % 53 = 0
        |              THEN ' Contact: jane.roe@example.com or 555-867-5309.'
        |              ELSE '' END AS pii
        |  FROM documents
        |), ing AS (
        |  SELECT doc_id, 'main' AS kind,
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii AS t
        |  FROM raw
        |  UNION ALL
        |  SELECT doc_id, 'refetch',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii
        |  FROM raw WHERE doc_id % 37 = 0
        |  UNION ALL
        |  SELECT doc_id, 'mirror',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii
        |  FROM raw WHERE doc_id % 41 = 0
        |  UNION ALL
        |  SELECT doc_id, 'copy',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text
        |           || ' subscribe now' || pii
        |  FROM raw WHERE doc_id % 43 = 0
        |  UNION ALL
        |  SELECT -1, 'resync', 'resync survivor too short to pass gates'
        |), tokd AS (
        |  SELECT doc_id, kind, doc_id || '/' || kind AS rid, t,
        |         CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) AS tok
        |  FROM ing
        |), sh AS (
        |  SELECT rid, tok,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM (SELECT rid, tok,
        |               list_filter(string_split_regex(trim(lower(t)), '\s+'),
        |                           x -> x <> '') AS w
        |        FROM tokd WHERE kind IN ('main', 'copy', 'resync'))
        |), pairs AS (
        |  SELECT a.rid AS rid_a, a.tok AS tok_a, b.rid AS rid_b, b.tok AS tok_b
        |  FROM sh a, sh b
        |  WHERE a.rid < b.rid
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |), losers AS (
        |  SELECT DISTINCT CASE WHEN tok_a < tok_b THEN rid_a
        |                       WHEN tok_b < tok_a THEN rid_b
        |                       ELSE greatest(rid_a, rid_b) END AS rid
        |  FROM pairs
        |), bench AS (
        |  SELECT list(DISTINCT gram) AS bg FROM (
        |    SELECT unnest([array_to_string(w[i:i+7], ' ')
        |                   for i in range(1, greatest(len(w) - 6, 1))]) AS gram
        |    FROM (SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                             x -> x <> '') AS w
        |          FROM documents WHERE doc_id % 97 = 0))
        |), leak AS (
        |  SELECT rid FROM (
        |    SELECT rid, list_distinct([array_to_string(w[i:i+7], ' ')
        |                               for i in range(1, greatest(len(w) - 6, 1))]) AS s8
        |    FROM (SELECT rid, list_filter(string_split_regex(trim(lower(t)), '\s+'),
        |                                  x -> x <> '') AS w
        |          FROM tokd)) CROSS JOIN bench
        |  WHERE len(list_intersect(s8, bg)) >= 3
        |), g AS (
        |  SELECT doc_id, kind, rid, tok,
        |    len(regexp_extract_all(lower(t), '\b(the|and|of|is)\b')) AS g_en,
        |    len(regexp_extract_all(lower(t), '\b(der|die|das|und)\b')) AS g_de,
        |    len(regexp_extract_all(lower(t), '\b(el|la|los|que)\b')) AS g_es,
        |    len(regexp_extract_all(lower(t), '\b(le|les|et|est)\b')) AS g_fr,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / tok AS mwl,
        |    CAST(len(regexp_extract_all(t, '#')) AS DOUBLE) / tok AS hashr,
        |    CAST(len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE) / tok AS ellr,
        |    CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |                         w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / tok AS alphar,
        |    len(regexp_extract_all(lower(t),
        |        '\b(the|be|to|of|and|that|have|with)\b')) AS stoph,
        |    (len(regexp_extract_all(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+'))
        |     + len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        |     + len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |     + len(regexp_extract_all(t,
        |        '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b')))
        |      AS piihits
        |  FROM tokd
        |), lng AS (
        |  SELECT *,
        |    CASE WHEN g_en > 0 AND g_en >= g_de AND g_en >= g_es AND g_en >= g_fr THEN 'en'
        |         WHEN g_de > 0 AND g_de >= g_es AND g_de >= g_fr THEN 'de'
        |         WHEN g_es > 0 AND g_es >= g_fr THEN 'es'
        |         WHEN g_fr > 0 THEN 'fr' ELSE 'und' END AS lang
        |  FROM g
        |), ffs AS (
        |  SELECT tok, CASE
        |    WHEN kind = 'refetch' THEN 1
        |    WHEN kind = 'mirror' THEN 2
        |    WHEN lz.rid IS NOT NULL THEN 3
        |    WHEN tok < 20 THEN 4
        |    WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 5
        |    WHEN lang = 'en' AND NOT (tok >= 20 AND tok <= 100000
        |         AND mwl >= 3.0 AND mwl <= 10.0 AND hashr <= 0.1 AND ellr <= 0.1
        |         AND alphar >= 0.8 AND stoph >= 2) THEN 6
        |    WHEN piihits > 0 THEN 7
        |    WHEN lk.rid IS NOT NULL THEN 8
        |    ELSE 9 END AS ff
        |  FROM lng LEFT JOIN losers lz USING (rid) LEFT JOIN leak lk USING (rid)
        |), counts AS (
        |  SELECT ff, CAST(count(*) AS BIGINT) AS n, CAST(sum(tok) AS BIGINT) AS w
        |  FROM ffs GROUP BY ff
        |), stages(stage, gate) AS (
        |  VALUES (1, 'dedup_url'), (2, 'dedup_content'), (3, 'dedup_near'),
        |         (4, 'tokens'), (5, 'langid'), (6, 'gopher'),
        |         (7, 'pii'), (8, 'decontaminate')
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS w FROM counts
        |)
        |SELECT CAST(s.stage AS INT) AS stage, s.gate,
        |  CAST(tot.n - coalesce(sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS rows_in,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS rows_dropped,
        |  CAST(tot.n - sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage) AS BIGINT) AS rows_out,
        |  CAST(tot.w - coalesce(sum(coalesce(c.w, 0)) OVER (ORDER BY s.stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS weight_in,
        |  CAST(coalesce(c.w, 0) AS BIGINT) AS weight_dropped,
        |  CAST(tot.w - sum(coalesce(c.w, 0)) OVER (ORDER BY s.stage) AS BIGINT) AS weight_out
        |FROM stages s LEFT JOIN counts c ON c.ff = s.stage CROSS JOIN tot
        |ORDER BY s.stage""".stripMargin

  // the REDACT-policy twin of PipelineFunnelOracleSql (q_pipeline_redact):
  // same ingestion/dedup/gate replicas, but the pii stage KEEPS every row —
  // text is scrubbed with the exact 4-pass regex chain (email→SSN→IP→phone,
  // the Pii.redactPii contract), tok is re-derived from the scrubbed text,
  // decontamination shingles the SCRUBBED text, and the staged-weight
  // accounting charges raw tok through the pii stage and redacted tok
  // after, with the pii stage's weight_dropped = the scrubbed-away mass
  // (Curation.retentionFunnelStaged's conservation law, replayed in SQL).
  private val PipelineRedactOracleSql: String =
    """WITH raw AS (
        |  SELECT doc_id, text,
        |         CASE WHEN doc_id % 53 = 0
        |              THEN ' Contact: jane.roe@example.com or 555-867-5309.'
        |              ELSE '' END AS pii
        |  FROM documents
        |), ing AS (
        |  SELECT doc_id, 'main' AS kind,
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii AS t
        |  FROM raw
        |  UNION ALL
        |  SELECT doc_id, 'refetch',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii
        |  FROM raw WHERE doc_id % 37 = 0
        |  UNION ALL
        |  SELECT doc_id, 'mirror',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text || pii
        |  FROM raw WHERE doc_id % 41 = 0
        |  UNION ALL
        |  SELECT doc_id, 'copy',
        |         'Doc ' || doc_id || chr(10) || 'Don''t "quote" café ' || text
        |           || ' subscribe now' || pii
        |  FROM raw WHERE doc_id % 43 = 0
        |  UNION ALL
        |  SELECT -1, 'resync', 'resync survivor too short to pass gates'
        |), tokd AS (
        |  SELECT doc_id, kind, doc_id || '/' || kind AS rid, t,
        |         CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) AS tok
        |  FROM ing
        |), redt AS (
        |  SELECT rid, tr,
        |         CAST(len(regexp_split_to_array(trim(tr), '\s+')) AS BIGINT) AS tok_red
        |  FROM (
        |    SELECT rid,
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
        |            '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |          '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |        '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b', '<PHONE>', 'g') AS tr
        |    FROM tokd)
        |), sh AS (
        |  SELECT rid, tok,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM (SELECT rid, tok,
        |               list_filter(string_split_regex(trim(lower(t)), '\s+'),
        |                           x -> x <> '') AS w
        |        FROM tokd WHERE kind IN ('main', 'copy', 'resync'))
        |), pairs AS (
        |  SELECT a.rid AS rid_a, a.tok AS tok_a, b.rid AS rid_b, b.tok AS tok_b
        |  FROM sh a, sh b
        |  WHERE a.rid < b.rid
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |), losers AS (
        |  SELECT DISTINCT CASE WHEN tok_a < tok_b THEN rid_a
        |                       WHEN tok_b < tok_a THEN rid_b
        |                       ELSE greatest(rid_a, rid_b) END AS rid
        |  FROM pairs
        |), bench AS (
        |  SELECT list(DISTINCT gram) AS bg FROM (
        |    SELECT unnest([array_to_string(w[i:i+7], ' ')
        |                   for i in range(1, greatest(len(w) - 6, 1))]) AS gram
        |    FROM (SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                             x -> x <> '') AS w
        |          FROM documents WHERE doc_id % 97 = 0))
        |), leak AS (
        |  SELECT rid FROM (
        |    SELECT rid, list_distinct([array_to_string(w[i:i+7], ' ')
        |                               for i in range(1, greatest(len(w) - 6, 1))]) AS s8
        |    FROM (SELECT rid, list_filter(string_split_regex(trim(lower(tr)), '\s+'),
        |                                  x -> x <> '') AS w
        |          FROM redt)) CROSS JOIN bench
        |  WHERE len(list_intersect(s8, bg)) >= 3
        |), g AS (
        |  SELECT doc_id, kind, rid, tok,
        |    len(regexp_extract_all(lower(t), '\b(the|and|of|is)\b')) AS g_en,
        |    len(regexp_extract_all(lower(t), '\b(der|die|das|und)\b')) AS g_de,
        |    len(regexp_extract_all(lower(t), '\b(el|la|los|que)\b')) AS g_es,
        |    len(regexp_extract_all(lower(t), '\b(le|les|et|est)\b')) AS g_fr,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / tok AS mwl,
        |    CAST(len(regexp_extract_all(t, '#')) AS DOUBLE) / tok AS hashr,
        |    CAST(len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE) / tok AS ellr,
        |    CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |                         w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / tok AS alphar,
        |    len(regexp_extract_all(lower(t),
        |        '\b(the|be|to|of|and|that|have|with)\b')) AS stoph
        |  FROM tokd
        |), lng AS (
        |  SELECT *,
        |    CASE WHEN g_en > 0 AND g_en >= g_de AND g_en >= g_es AND g_en >= g_fr THEN 'en'
        |         WHEN g_de > 0 AND g_de >= g_es AND g_de >= g_fr THEN 'de'
        |         WHEN g_es > 0 AND g_es >= g_fr THEN 'es'
        |         WHEN g_fr > 0 THEN 'fr' ELSE 'und' END AS lang
        |  FROM g
        |), ffs AS (
        |  SELECT l.tok, r.tok_red, CASE
        |    WHEN l.kind = 'refetch' THEN 1
        |    WHEN l.kind = 'mirror' THEN 2
        |    WHEN lz.rid IS NOT NULL THEN 3
        |    WHEN l.tok < 20 THEN 4
        |    WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 5
        |    WHEN lang = 'en' AND NOT (l.tok >= 20 AND l.tok <= 100000
        |         AND mwl >= 3.0 AND mwl <= 10.0 AND hashr <= 0.1 AND ellr <= 0.1
        |         AND alphar >= 0.8 AND stoph >= 2) THEN 6
        |    WHEN lk.rid IS NOT NULL THEN 8
        |    ELSE 9 END AS ff
        |  FROM lng l JOIN redt r USING (rid)
        |    LEFT JOIN losers lz ON l.rid = lz.rid LEFT JOIN leak lk ON l.rid = lk.rid
        |), counts AS (
        |  SELECT ff, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(tok) AS BIGINT) AS w, CAST(sum(tok_red) AS BIGINT) AS wr
        |  FROM ffs GROUP BY ff
        |), stages(stage, gate) AS (
        |  VALUES (1, 'dedup_url'), (2, 'dedup_content'), (3, 'dedup_near'),
        |         (4, 'tokens'), (5, 'langid'), (6, 'gopher'),
        |         (7, 'pii'), (8, 'decontaminate')
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS w FROM counts
        |), reach8 AS (
        |  SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS wraw,
        |         CAST(coalesce(sum(wr), 0) AS BIGINT) AS wred
        |  FROM counts WHERE ff >= 8
        |)
        |SELECT CAST(s.stage AS INT) AS stage, s.gate,
        |  CAST(tot.n - coalesce(sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS rows_in,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS rows_dropped,
        |  CAST(tot.n - sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage) AS BIGINT) AS rows_out,
        |  CAST(CASE WHEN s.stage <= 7
        |       THEN tot.w - coalesce(sum(coalesce(c.w, 0)) OVER (ORDER BY s.stage
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       ELSE reach8.wred END AS BIGINT) AS weight_in,
        |  CAST(CASE WHEN s.stage <= 6 THEN coalesce(c.w, 0)
        |       WHEN s.stage = 7 THEN reach8.wraw - reach8.wred
        |       ELSE coalesce(c.wr, 0) END AS BIGINT) AS weight_dropped,
        |  CAST(CASE WHEN s.stage <= 6
        |       THEN tot.w - sum(coalesce(c.w, 0)) OVER (ORDER BY s.stage)
        |       WHEN s.stage = 7 THEN reach8.wred
        |       ELSE reach8.wred - coalesce(c.wr, 0) END AS BIGINT) AS weight_out
        |FROM stages s LEFT JOIN counts c ON c.ff = s.stage CROSS JOIN tot CROSS JOIN reach8
        |ORDER BY s.stage""".stripMargin

  private val JaccardPairsSql: String =
    """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM corpus)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7""".stripMargin

  /** the simhash operator replayed exactly in SQL, banding included
   * (q_dedup_simhash's oracle) — reused as the PREDICTED side of
   * q_dedup_eval. */
  private val SimhashPairsSql: String =
    """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id,
        |         array_to_string((string_split(text, ' '))[1 : len(string_split(text, ' ')) - 2], ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([ array_to_string(w[i : least(i + 2, len(w))], ' ')
        |      for i in range(1, greatest(len(w) - 3, 0) + 2) ]) AS shs
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus)
        |),
        |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        |hx AS (SELECT doc_id, s, hex(encode(s)) AS hx FROM shx),
        |by AS (SELECT doc_id, [strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))*16
        |                       + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17
        |                       for i in range(1, len(hx)//2 + 1)] AS bytes FROM hx),
        |f AS (SELECT doc_id, list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), bytes), (acc, b) -> ((acc - (acc % 256) + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS h FROM by),
        |s1 AS (SELECT doc_id, ((h + CAST('11400714819323198485' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)) AS z1 FROM f),
        |s2 AS (SELECT doc_id, (((((CASE WHEN (xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) AS HUGEINT) END)) % 4294967296) * CAST('13787848793156543929' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) + (((((CASE WHEN (xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z1) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1) END AS BIGINT), CAST(CASE WHEN (z1 // 1073741824) >= CAST('9223372036854775808' AS HUGEINT) THEN (z1 // 1073741824) - CAST('18446744073709551616' AS HUGEINT) ELSE (z1 // 1073741824) END AS BIGINT))) AS HUGEINT) END)) // 4294967296) * CAST('13787848793156543929' AS HUGEINT)) % 4294967296) * 4294967296) % CAST('18446744073709551616' AS HUGEINT) AS z2 FROM s1),
        |s3 AS (SELECT doc_id, (((((CASE WHEN (xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) AS HUGEINT) END)) % 4294967296) * CAST('10723151780598845931' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) + (((((CASE WHEN (xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z2) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2) END AS BIGINT), CAST(CASE WHEN (z2 // 134217728) >= CAST('9223372036854775808' AS HUGEINT) THEN (z2 // 134217728) - CAST('18446744073709551616' AS HUGEINT) ELSE (z2 // 134217728) END AS BIGINT))) AS HUGEINT) END)) // 4294967296) * CAST('10723151780598845931' AS HUGEINT)) % 4294967296) * 4294967296) % CAST('18446744073709551616' AS HUGEINT) AS z3 FROM s2),
        |hs AS (SELECT doc_id, list((CASE WHEN (CAST(CASE WHEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) >= CAST('9223372036854775808' AS HUGEINT) THEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) - CAST('18446744073709551616' AS HUGEINT) ELSE ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) END AS BIGINT)) < 0 THEN CAST((CAST(CASE WHEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) >= CAST('9223372036854775808' AS HUGEINT) THEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) - CAST('18446744073709551616' AS HUGEINT) ELSE ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) END AS BIGINT)) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((CAST(CASE WHEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) >= CAST('9223372036854775808' AS HUGEINT) THEN ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) - CAST('18446744073709551616' AS HUGEINT) ELSE ((CASE WHEN (xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) < 0 THEN CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) ELSE CAST((xor(CAST(CASE WHEN (z3) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3) END AS BIGINT), CAST(CASE WHEN (z3 // 2147483648) >= CAST('9223372036854775808' AS HUGEINT) THEN (z3 // 2147483648) - CAST('18446744073709551616' AS HUGEINT) ELSE (z3 // 2147483648) END AS BIGINT))) AS HUGEINT) END)) END AS BIGINT)) AS HUGEINT) END)) AS hl, count(*) AS n FROM s3 GROUP BY doc_id),
        |sigs AS (
        |  SELECT doc_id,
        |    list_sum([ CASE WHEN 2 * len(list_filter(hl, h -> (h // (CAST(1 AS HUGEINT) << b)) % 2 = 1)) > n
        |               THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END
        |               for b in range(0, 64) ]) AS su
        |  FROM hs
        |),
        |ss AS (SELECT doc_id, CAST(CASE WHEN (su) >= CAST('9223372036854775808' AS HUGEINT) THEN (su) - CAST('18446744073709551616' AS HUGEINT) ELSE (su) END AS BIGINT) AS sg, su FROM sigs)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  AND ((a.su // 1) % 65536 = (b.su // 1) % 65536
        |    OR (a.su // 65536) % 65536 = (b.su // 65536) % 65536
        |    OR (a.su // 4294967296) % 65536 = (b.su // 4294967296) % 65536
        |    OR (a.su // CAST('281474976710656' AS HUGEINT)) % 65536 = (b.su // CAST('281474976710656' AS HUGEINT)) % 65536)
        |WHERE bit_count(xor(a.sg, b.sg)) <= 8""".stripMargin

  /** clusters from the exact-jaccard pair graph by SIX unrolled rounds of
   * min-label propagation (near-dup components in this corpus are pairs
   * and small chains — diameter far below 6; soaked at sf0.01 and sf0.1 —
   * a longer chain would fail the hash match loudly, not silently), then
   * the per-cluster winner by (priority DESC, id ASC). */
  private val PreferringSql: String = {
    val rounds = (1 to 6).map { k =>
      val p = s"l${k - 1}"
      s"""l$k AS (SELECT $p.id, least($p.lbl, COALESCE(m.mn, $p.lbl)) AS lbl
         |        FROM $p LEFT JOIN (SELECT u.a AS id, min(x.lbl) AS mn
         |                           FROM und u JOIN $p x ON x.id = u.b GROUP BY 1) m
         |          ON $p.id = m.id),""".stripMargin
    }.mkString("\n")
    s"""WITH pairs AS (
       |$JaccardPairsSql
       |),
       |corpus AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + 10000 FROM documents WHERE doc_id % 10 = 0
       |),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION ALL SELECT id_b, id_a FROM pairs),
       |l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM corpus),
       |$rounds
       |w AS (SELECT id, row_number() OVER (PARTITION BY lbl
       |        ORDER BY CASE WHEN id < 10000 THEN 1 ELSE 0 END DESC, id) AS rn
       |      FROM l6)
       |SELECT id AS doc_id FROM w WHERE rn = 1""".stripMargin
  }

  /** clusters from the same closure as PreferringSql, but each family
   * elects its LARGEST member (whitespace token count DESC, id ASC) —
   * q_dedup_keep_largest_cc's oracle. */
  private val KeepLargestCcSql: String = {
    val rounds = (1 to 6).map { k =>
      val p = s"l${k - 1}"
      s"""l$k AS (SELECT $p.id, least($p.lbl, COALESCE(m.mn, $p.lbl)) AS lbl
         |        FROM $p LEFT JOIN (SELECT u.a AS id, min(x.lbl) AS mn
         |                           FROM und u JOIN $p x ON x.id = u.b GROUP BY 1) m
         |          ON $p.id = m.id),""".stripMargin
    }.mkString("\n")
    s"""WITH pairs AS (
       |$JaccardPairsSql
       |),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE doc_id % 10 = 0
       |),
       |toks AS (SELECT doc_id,
       |           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
       |         FROM corpus),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION ALL SELECT id_b, id_a FROM pairs),
       |l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM corpus),
       |$rounds
       |w AS (SELECT l6.id, row_number() OVER (PARTITION BY lbl
       |        ORDER BY t.tok DESC, l6.id) AS rn
       |      FROM l6 JOIN toks t ON t.doc_id = l6.id)
       |SELECT id AS doc_id FROM w WHERE rn = 1""".stripMargin
  }

  /** simhash predictions scored against exact-jaccard truth: tp/fp/fn and
   * exact-ppm precision/recall/F1, all integer arithmetic. */
  private val DedupEvalSql: String =
    "WITH pred AS (\n" + SimhashPairsSql + "\n), truthp AS (\n" + JaccardPairsSql + "\n),\n" +
    """p AS (SELECT DISTINCT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb FROM pred),
      |t AS (SELECT DISTINCT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb FROM truthp),
      |j AS (SELECT p.pa AS ppa, t.pa AS tpa
      |      FROM p FULL OUTER JOIN t ON p.pa = t.pa AND p.pb = t.pb),
      |m AS (SELECT CAST(count(CASE WHEN ppa IS NOT NULL AND tpa IS NOT NULL THEN 1 END) AS BIGINT) AS tp,
      |             CAST(count(CASE WHEN ppa IS NOT NULL AND tpa IS NULL THEN 1 END) AS BIGINT) AS fp,
      |             CAST(count(CASE WHEN ppa IS NULL AND tpa IS NOT NULL THEN 1 END) AS BIGINT) AS fn
      |      FROM j)
      |SELECT tp, fp, fn,
      |       tp * 1000000 // NULLIF(tp + fp, 0) AS precision_ppm,
      |       tp * 1000000 // NULLIF(tp + fn, 0) AS recall_ppm,
      |       2 * tp * 1000000 // NULLIF(2 * tp + fp + fn, 0) AS f1_ppm
      |FROM m""".stripMargin

  /** q_ann_bruteforce's oracle — reused as the exhaustive TRUTH side of
   * q_ann_eval. */
  private val BruteTopKSql: String =
    """SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q, embeddings n
        |WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) <= 3""".stripMargin

  /** q_ann_sq's oracle (quantize -> dequantize -> cosine -> top-3) —
   * reused as the PREDICTED side of q_ann_eval. */
  private val SqTopKSql: String =
    """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), dims AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e)
        |), mm AS (
        |  SELECT i, min(x) AS lo, max(x) AS hi FROM dims GROUP BY 1
        |), deq AS (
        |  SELECT vec_id, d.i,
        |         CASE WHEN hi - lo <= 0 THEN lo
        |              ELSE lo + CAST(least(255, greatest(0,
        |                     CAST(round((x - lo) / (hi - lo) * 255) AS INT))) AS DOUBLE)
        |                   / 255.0 * (hi - lo) END AS xd
        |  FROM dims d JOIN mm USING (i)
        |), sims AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |         sum(q.x * d.xd)
        |           / (sqrt(sum(q.x * q.x)) * sqrt(sum(d.xd * d.xd))) AS sim
        |  FROM dims q JOIN deq d USING (i)
        |  WHERE q.vec_id < 10 AND d.vec_id <> q.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id FROM sims
        |QUALIFY row_number() OVER (
        |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 3""".stripMargin

  /** SQ recall against brute-force truth, exact ppm. */
  private val AnnEvalSql: String =
    "WITH pred AS (\n" + SqTopKSql + "\n), truthp AS (\n" + BruteTopKSql + "\n),\n" +
    """ov AS (SELECT CAST(count(*) AS BIGINT) AS hits
      |       FROM (SELECT DISTINCT query_id, neighbor_id FROM pred) p
      |       JOIN (SELECT DISTINCT query_id, neighbor_id FROM truthp) t
      |         ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id),
      |ts AS (SELECT CAST(count(*) AS BIGINT) AS truth_size
      |       FROM (SELECT DISTINCT query_id, neighbor_id FROM truthp))
      |SELECT hits, truth_size, hits * 1000000 // NULLIF(truth_size, 0) AS recall_ppm
      |FROM ov, ts""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_cms_langs" ->
      "SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY source, lang",
    "q_theta_overlap" ->
      """WITH w AS (
        |  SELECT doc_id % 2 AS corpus, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT corpus,
        |    unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)]) AS g
        |  FROM w
        |), a AS (SELECT g FROM sh WHERE corpus = 0), b AS (SELECT g FROM sh WHERE corpus = 1)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |       (SELECT count(*) FROM b) AS n_b,
        |       (SELECT count(*) FROM (SELECT g FROM a INTERSECT SELECT g FROM b)) AS n_shared,
        |       (SELECT count(*) FROM (SELECT g FROM b EXCEPT SELECT g FROM a)) AS n_novel_b""".stripMargin,
    "q_decontaminate_containment" ->
      """WITH b AS (
        |  SELECT doc_id AS bench_id,
        |         string_split_regex(trim(lower(array_to_string(string_split(text, ' ')[5:40], ' '))), '\s+') AS ws
        |  FROM documents WHERE doc_id % 10 = 0
        |), bs AS (
        |  SELECT bench_id,
        |         len(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS nq,
        |         unnest(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS g
        |  FROM b
        |), c AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), cs AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS g
        |  FROM c
        |)
        |SELECT bs.bench_id, cs.doc_id, round(count(*) / any_value(bs.nq), 6) AS containment
        |FROM bs JOIN cs USING (g)
        |GROUP BY bs.bench_id, cs.doc_id
        |HAVING count(*) / any_value(bs.nq) >= 0.6""".stripMargin,
    "q_containment_gate" ->
      // max containment per doc over all benchmark items, same set math
      // as q_decontaminate_containment, then the 0.6 gate verdict
      """WITH b AS (
        |  SELECT doc_id AS bench_id,
        |         string_split_regex(trim(lower(array_to_string(string_split(text, ' ')[5:40], ' '))), '\s+') AS ws
        |  FROM documents WHERE doc_id % 10 = 0
        |), bs AS (
        |  SELECT bench_id,
        |         len(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS nq,
        |         unnest(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS g
        |  FROM b
        |), c AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), cs AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)])) AS g
        |  FROM c
        |), per AS (
        |  SELECT cs.doc_id, bs.bench_id, count(*) / any_value(bs.nq) AS cont
        |  FROM bs JOIN cs USING (g)
        |  GROUP BY 1, 2
        |), mx AS (
        |  SELECT doc_id, max(cont) AS m FROM per GROUP BY 1
        |)
        |SELECT d.doc_id, round(coalesce(mx.m, 0.0), 6) AS containment,
        |       coalesce(mx.m, 0.0) < 0.6 AS kept
        |FROM documents d LEFT JOIN mx USING (doc_id)""".stripMargin,
    "q_dq_ordering" ->
      """WITH f AS (
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
        |FROM l""".stripMargin,
    "q_dq_shadow" ->
      """WITH f AS (
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
        |FROM u GROUP BY 1, 2""".stripMargin,
    "q_dq_fd" ->
      """WITH f AS (
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
        |FROM g""".stripMargin,
    "q_dq_value_drift" ->
      """WITH n AS (
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
        |       c_text * 1000000 // nullif(rows, 0) FROM c""".stripMargin,
    "q_dq_benford" ->
      """WITH exp AS (
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
        |FROM exp e LEFT JOIN obs o USING (digit), tot""".stripMargin,
    // same profile stats, same rounding (ppm ceilinged to the next 10000),
    // same sorted-and-quoted value sets
    "q_dq_suggest" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
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
        |FROM prof WHERE ml IS NOT NULL AND nn > 0""".stripMargin,
    "q_dq_uniqueness" ->
      """WITH g AS (SELECT doc_id % 450 AS k, count(*) AS c FROM documents GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS distinct_keys,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rows_in_dup_keys,
        |       CAST(max(c) AS BIGINT) AS max_per_key,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(c) AS BIGINT), 0) AS dup_ppm
        |FROM g""".stripMargin,
    "q_dq_orphans" ->
      """WITH p AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS child_rows,
        |       CAST(count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS BIGINT) AS null_fk,
        |       CAST(count(CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS orphans,
        |       CAST(count(CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL THEN 1 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(count(*) AS BIGINT)
        |                   - CAST(count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS BIGINT), 0) AS orphan_ppm
        |FROM lineitem l LEFT JOIN p ON l.l_orderkey = p.o_orderkey""".stripMargin,
    "q_dq_completeness" ->
      """WITH f AS (
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
        |UNION ALL SELECT 'price', rows, n2, n2 * 1000000 // NULLIF(rows, 0) FROM t""".stripMargin,
    "q_dq_stats" ->
      """WITH r AS (
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
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "q_dq_flatten" ->
      """WITH r AS (
        |  SELECT 100 AS ruleId, CASE WHEN l_quantity <= 50 THEN 100000 ELSE 0 END AS ruleResult FROM lineitem
        |  UNION ALL SELECT 101, CASE WHEN l_extendedprice > 0 THEN 100000 ELSE 0 END FROM lineitem
        |  UNION ALL SELECT 200, CASE WHEN l_discount <= 0.06 THEN 100000 ELSE -1 END FROM lineitem
        |  UNION ALL SELECT 201, CASE WHEN l_tax < 0.04 THEN 100000 ELSE 50000 END FROM lineitem
        |) SELECT ruleId, ruleResult, count(*) AS cnt FROM r GROUP BY 1, 2""".stripMargin,
    "q_dq_flatten_fast" ->
      """WITH r AS (
        |  SELECT 100 AS ruleId, CASE WHEN l_quantity <= 50 THEN 100000 ELSE 0 END AS ruleResult FROM lineitem
        |  UNION ALL SELECT 101, CASE WHEN l_extendedprice > 0 THEN 100000 ELSE 0 END FROM lineitem
        |  UNION ALL SELECT 200, CASE WHEN l_discount <= 0.06 THEN 100000 ELSE -1 END FROM lineitem
        |  UNION ALL SELECT 201, CASE WHEN l_tax < 0.04 THEN 100000 ELSE 50000 END FROM lineitem
        |) SELECT ruleId, ruleResult, count(*) AS cnt FROM r GROUP BY 1, 2""".stripMargin,
    "q_dq_overall" ->
      """SELECT CASE WHEN l_quantity <= 50 AND l_extendedprice > 0 AND l_tax < 0.04
        |            THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_dq_examples" ->
      """WITH lang AS (
        |  SELECT doc_id,
        |         CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
        |              WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
        |              WHEN es > 0 AND es >= fr THEN 'es'
        |              WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lg
        |  FROM (SELECT doc_id,
        |               len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |               len(regexp_extract_all(lower(text), '\b(der|die|das|und)\b')) AS de,
        |               len(regexp_extract_all(lower(text), '\b(el|la|los|que)\b')) AS es,
        |               len(regexp_extract_all(lower(text), '\b(le|les|et|est)\b')) AS fr
        |        FROM documents)
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
        |FROM agg a JOIN ex e USING (ruleId) WHERE e.rank <= 5""".stripMargin,
    "q_dq_curation" ->
      """WITH lang AS (
        |  SELECT doc_id,
        |         CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
        |              WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
        |              WHEN es > 0 AND es >= fr THEN 'es'
        |              WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lg
        |  FROM (SELECT doc_id,
        |               len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |               len(regexp_extract_all(lower(text), '\b(der|die|das|und)\b')) AS de,
        |               len(regexp_extract_all(lower(text), '\b(el|la|los|que)\b')) AS es,
        |               len(regexp_extract_all(lower(text), '\b(le|les|et|est)\b')) AS fr
        |        FROM documents)
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
        |) SELECT ruleId, ruleResult, count(*) AS cnt FROM r GROUP BY 1, 2""".stripMargin,
    "q_dq_prob" ->
      """SELECT CAST(CASE WHEN l_tax < 0.04 THEN 100000 ELSE 50000 END AS DOUBLE) / 100000 AS p,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_rule_engine" ->
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
        |            WHEN o_totalprice >= 100000 THEN 'mid'
        |            WHEN o_totalprice >= 0 THEN 'low' END AS category,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "q_rule_engine_debug" ->
      """SELECT (CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS triggers,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "q_rule_folder" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_discount > 0.02 OR l_tax > 0.04 THEN
        |         (CASE WHEN l_discount > 0.02 THEN l_extendedprice * (1 - l_discount)
        |               ELSE l_extendedprice END
        |          + CASE WHEN l_tax > 0.04 THEN 10 ELSE 0 END)
        |       END AS folded_price
        |FROM lineitem""".stripMargin,
    "q_expression_runner" ->
      """SELECT CAST(CAST(l_quantity AS INT) * 2 AS VARCHAR) AS r1,
        |       'INT' AS ddl1, upper(l_returnflag) AS r2, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin,
    "q_expression_flat" ->
      """SELECT CAST(CAST(l_quantity AS INT) * 2 AS VARCHAR) AS r1,
        |       'INT' AS ddl1, upper(l_returnflag) AS r2, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin,
    "q_lambda" ->
      """SELECT CASE WHEN l_extendedprice * (1 - l_discount) < 90000 THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_lambda_sql" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net
        |FROM lineitem""".stripMargin,
    "q_pack_ints" ->
      """SELECT l_orderkey, l_linenumber,
        |       (CAST(l_partkey AS BIGINT) << 32) | (CAST(l_suppkey AS BIGINT) & 4294967295) AS packed,
        |       CAST(l_partkey AS INT) AS unpacked_id,
        |       CAST(l_suppkey AS INT) AS unpacked_version
        |FROM lineitem""".stripMargin,
    "q_update_field" ->
      """SELECT o_orderkey, o_totalprice * 2 AS price2, o_orderstatus AS status, 'x' AS flag
        |FROM orders""".stripMargin,
    "q_map_lookup" ->
      """SELECT c_custkey, n_name, n_name IS NOT NULL AS known
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_yaml" ->
      """SELECT o_orderkey, concat('s: ', o_orderstatus, chr(10)) AS y FROM orders""".stripMargin,
    "q_comparable_maps" ->
      """SELECT l_linestatus AS ls, l_returnflag AS rf, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_rules_roundtrip" ->
      """SELECT CASE WHEN l_quantity <= 50 AND l_extendedprice > 0 AND l_tax < 0.04
        |            THEN 100000 ELSE 0 END AS overallResult,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_events_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        |       count(*) AS rows, CAST(sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS passed
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_session_paths" ->
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) // 1000000 AS tsec, event_type AS t
        |  FROM events
        |), b AS (
        |  SELECT u, tsec, t,
        |    CASE WHEN tsec - lag(tsec) OVER (PARTITION BY u ORDER BY tsec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |), s AS (
        |  SELECT u, tsec, t,
        |    sum(brk) OVER (PARTITION BY u ORDER BY tsec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM b
        |), p AS (
        |  SELECT CASE WHEN len(l) > 12
        |              THEN array_to_string(l[1:12], '>') || '>…'
        |              ELSE array_to_string(l, '>') END AS path
        |  FROM (SELECT u, seq, list(t ORDER BY tsec, t) AS l FROM s GROUP BY u, seq)
        |), c AS (
        |  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path
        |)
        |SELECT path, n_sessions,
        |       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) AS rank
        |FROM c ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin,
    "q_stopword_candidates" ->
      """WITH totals AS (
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
        |  FROM ranked) WHERE rk <= 40""".stripMargin,
    "q_quantile_normalize" ->
      """SELECT doc_id, lang,
        |  CASE WHEN n = 1 THEN 0
        |       ELSE (r - 1) * 1000000 // (n - 1) END AS pct_ppm
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM documents)""".stripMargin,
    "q_event_funnel" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS t, epoch(ts) AS s FROM events),
        |c0 AS (SELECT u, min(s) AS t0 FROM ev WHERE t = 'view' GROUP BY u),
        |c1 AS (
        |  SELECT c0.u, c0.t0,
        |    min(CASE WHEN e.s > c0.t0 AND e.s - c0.t0 <= 259200 THEN e.s END) AS t1
        |  FROM c0 LEFT JOIN ev e ON e.u = c0.u AND e.t = 'click'
        |  GROUP BY c0.u, c0.t0
        |), c2 AS (
        |  SELECT c1.u, c1.t0, c1.t1,
        |    min(CASE WHEN e.s > c1.t1 AND e.s - c1.t0 <= 259200 THEN e.s END) AS t2
        |  FROM c1 LEFT JOIN ev e ON e.u = c1.u AND e.t = 'signup'
        |  GROUP BY c1.u, c1.t0, c1.t1
        |), c3 AS (
        |  SELECT c2.u, c2.t0, c2.t1, c2.t2,
        |    min(CASE WHEN e.s > c2.t2 AND e.s - c2.t0 <= 259200 THEN e.s END) AS t3
        |  FROM c2 LEFT JOIN ev e ON e.u = c2.u AND e.t = 'purchase'
        |  GROUP BY c2.u, c2.t0, c2.t1, c2.t2
        |), n AS (
        |  SELECT CAST(count(t0) AS BIGINT) AS n0, CAST(count(t1) AS BIGINT) AS n1,
        |         CAST(count(t2) AS BIGINT) AS n2, CAST(count(t3) AS BIGINT) AS n3
        |  FROM c3
        |)
        |SELECT 0 AS step, 'view' AS event_type, n0 AS n_users,
        |       n0 * 1000000 // nullif(n0, 0) AS conv_from_first_ppm,
        |       n0 * 1000000 // nullif(n0, 0) AS conv_from_prev_ppm FROM n
        |UNION ALL SELECT 1, 'click', n1, n1 * 1000000 // nullif(n0, 0),
        |       n1 * 1000000 // nullif(n0, 0) FROM n
        |UNION ALL SELECT 2, 'signup', n2, n2 * 1000000 // nullif(n0, 0),
        |       n2 * 1000000 // nullif(n1, 0) FROM n
        |UNION ALL SELECT 3, 'purchase', n3, n3 * 1000000 // nullif(n0, 0),
        |       n3 * 1000000 // nullif(n2, 0) FROM n""".stripMargin,
    "q_cohort_retention" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 1000000 // 86400 AS p
        |  FROM events
        |), cohorts AS (
        |  SELECT u, min(p) AS c0 FROM acts GROUP BY u
        |), cells AS (
        |  SELECT c.c0 AS cohort, a.p - c.c0 AS "offset", count(*) AS n_active
        |  FROM acts a JOIN cohorts c USING (u)
        |  GROUP BY 1, 2
        |)
        |SELECT x.cohort, x."offset", CAST(x.n_active AS BIGINT) AS n_active,
        |       CAST(z.n_active AS BIGINT) AS cohort_size,
        |       CAST(x.n_active AS BIGINT) * 1000000
        |         // CAST(z.n_active AS BIGINT) AS retained_ppm
        |FROM cells x JOIN cells z
        |  ON x.cohort = z.cohort AND z."offset" = 0""".stripMargin,
    // the same sequential fold, same IEEE doubles, same fixed-point floor.
    // SCALAR reduces only: DuckDB 1.0's list_reduce with a multi-field
    // struct accumulator whose fields read each other evaluates them
    // in-place on longer lists (field `a` sees the already-updated `s`),
    // so the alert test refolds the value prefix per position instead —
    // O(events²) per key, fine at gate SF, bit-identical semantics
    "q_ewma_anomalies" ->
      """WITH evs AS (
        |  SELECT user_id AS key,
        |         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS l
        |  FROM events GROUP BY user_id
        |)
        |SELECT key, CAST(len(l) AS BIGINT) AS n_events,
        |  CAST(floor(list_reduce(l, (acc, x) -> acc + 0.25 * (x - acc))
        |    * 1000000) AS BIGINT) AS ewma_fp,
        |  CAST(len(list_filter(range(2, len(l) + 1), i ->
        |    abs(l[i] - list_reduce(l[1:i-1], (acc, x) -> acc + 0.25 * (x - acc)))
        |      > 75.0)) AS BIGINT) AS n_alerts
        |FROM evs""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec FROM events
        |), flagged AS (
        |  SELECT user_id, tsec,
        |         CASE WHEN tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) > 1800
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e
        |), s AS (
        |  SELECT user_id, tsec,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, session_seq, count(*) AS events,
        |       min(tsec) AS session_start, max(tsec) - min(tsec) AS duration
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_heavy_hitters" ->
      "SELECT l_returnflag AS flag, count(*) AS cnt FROM lineitem GROUP BY 1",
    "q_delta_attribution" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS d, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (
        |  SELECT o_orderpriority AS d, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), oa AS (SELECT d, CAST(sum(c) AS BIGINT) AS m FROM o GROUP BY 1),
        |na AS (SELECT d, CAST(sum(c) AS BIGINT) AS m FROM n GROUP BY 1),
        |j AS (
        |  SELECT coalesce(oa.d, na.d) AS dim_value,
        |         coalesce(oa.m, 0) AS metric_old, coalesce(na.m, 0) AS metric_new
        |  FROM oa FULL OUTER JOIN na ON oa.d = na.d
        |)
        |SELECT dim_value, metric_old, metric_new,
        |       metric_new - metric_old AS delta,
        |       CAST((metric_new - metric_old) * 1000000
        |            // nullif((SELECT sum(metric_new - metric_old) FROM j), 0)
        |         AS BIGINT) AS share_ppm
        |FROM j""".stripMargin,
    "q_token_bucket" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id AS k, epoch_ms(ts) // 20000 AS t, event_id AS id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) // 20000, event_id) AS rn
        |  FROM events
        |), s AS (
        |  SELECT k, rn, t, id, TRUE AS allowed, CAST(1000000 AS BIGINT) AS tokens
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t, e.id,
        |         least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000) >= 1000000
        |           AS allowed,
        |         least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000)
        |           - CASE WHEN least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000)
        |                       >= 1000000 THEN 1000000 ELSE 0 END AS tokens
        |  FROM s JOIN e ON e.k = s.k AND e.rn = s.rn + 1
        |)
        |SELECT k AS key, id, allowed FROM s""".stripMargin,
    "q_transition_matrix" ->
      """WITH steps AS (
        |  SELECT event_type AS from_state,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_state
        |  FROM events
        |), m AS (
        |  SELECT from_state, to_state, count(*) AS n FROM steps
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_state, to_state, n,
        |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_state)
        |            AS BIGINT) AS p_ppm
        |FROM m""".stripMargin,
    "q_fd_discovery" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      (for (a <- cols; b <- cols if a != b) yield
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
           |       count(*) AS n_keys,
           |       CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           |         AS violating_keys,
           |       coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
           |FROM (SELECT $a, count(DISTINCT ROW($b)) AS d
           |      FROM orders GROUP BY 1)""".stripMargin)
        .mkString("", "\nUNION ALL\n", "")
    },
    "q_key_skew" -> Seq("l_returnflag", "l_linestatus", "l_suppkey").map(c =>
      s"""SELECT '$c' AS key_col, total_rows, distinct_keys, null_rows,
         |       max_key_rows, max_key_rows * 1000000 // total_rows AS max_share_ppm,
         |       (SELECT string_agg(kc, ',' ORDER BY c DESC, kc)
         |        FROM (SELECT k || ':' || c AS kc, c FROM (
         |                SELECT CAST($c AS VARCHAR) AS k, count(*) AS c
         |                FROM lineitem GROUP BY 1) WHERE k IS NOT NULL
         |              ORDER BY c DESC, k || ':' || c LIMIT 3)) AS top_keys
         |FROM (
         |  SELECT CAST(sum(c) AS BIGINT) AS total_rows,
         |         count(k) AS distinct_keys,
         |         CAST(coalesce(sum(CASE WHEN k IS NULL THEN c END), 0) AS BIGINT)
         |           AS null_rows,
         |         CAST(max(CASE WHEN k IS NOT NULL THEN c END) AS BIGINT)
         |           AS max_key_rows
         |  FROM (SELECT CAST($c AS VARCHAR) AS k, count(*) AS c
         |        FROM lineitem GROUP BY 1))""".stripMargin)
      .mkString("", "\nUNION ALL\n", ""),
    "q_frequent_pairs" ->
      """WITH base AS (
        |  SELECT DISTINCT user_id AS b, event_type AS i FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), n AS (SELECT count(DISTINCT b) AS nb FROM base),
        |ic AS (SELECT i, count(*) AS ni FROM base GROUP BY 1),
        |p AS (
        |  SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_baskets
        |  FROM base a JOIN base c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT item_a, item_b, n_baskets,
        |       CAST(CAST(n_baskets AS HUGEINT) * 1000000 * n.nb
        |            // (CAST(ia.ni AS HUGEINT) * ib.ni) AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN ic ia ON p.item_a = ia.i
        |JOIN ic ib ON p.item_b = ib.i, n""".stripMargin,
    "q_rfm" ->
      """WITH base AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, max(ts) AS last_ts,
        |         count(*) AS n_events,
        |         CAST(coalesce(sum(CAST(floor(value * 1e6) AS BIGINT)), 0) AS BIGINT)
        |           AS total_value_e6
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM base),
        |r AS (
        |  SELECT base.*,
        |    CAST((row_number() OVER (ORDER BY last_ts, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS r_score,
        |    CAST((row_number() OVER (ORDER BY n_events, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS f_score,
        |    CAST((row_number() OVER (ORDER BY total_value_e6, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS m_score
        |  FROM base
        |)
        |SELECT key, last_ts, CAST(n_events AS BIGINT) AS n_events, total_value_e6,
        |       r_score, f_score, m_score,
        |       r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM r""".stripMargin,
    "q_concentration" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c, k) AS rk FROM c
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(sum(c) AS BIGINT) AS total_rows,
        |         CAST(max(c) AS BIGINT) AS mx,
        |         sum(CAST(c AS HUGEINT) * c) AS c2,
        |         sum(CAST(rk AS HUGEINT) * c) AS rc
        |  FROM r
        |), t10 AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS s10
        |  FROM (SELECT c FROM c ORDER BY c DESC LIMIT 10)
        |)
        |SELECT n_keys, total_rows,
        |       mx * 1000000 // total_rows AS top1_ppm,
        |       (SELECT s10 FROM t10) * 1000000 // total_rows AS top10_ppm,
        |       CAST((2 * rc - CAST(n_keys + 1 AS HUGEINT) * total_rows) * 1000000
        |            // (CAST(n_keys AS HUGEINT) * total_rows) AS BIGINT) AS gini_ppm,
        |       CAST(CAST(total_rows AS HUGEINT) * total_rows * 1000000 // c2
        |            AS BIGINT) AS inv_simpson_e6
        |FROM t""".stripMargin,
    "q_vocab_coverage" ->
      """WITH c AS (
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
        |FROM v""".stripMargin,
    "q_neyman_allocation" ->
      """WITH st AS (
        |  SELECT event_type AS stratum, count(*) AS n_rows,
        |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |         sum(CAST(CAST(floor(value * 1e6) AS BIGINT) AS HUGEINT)
        |             * CAST(floor(value * 1e6) AS BIGINT)) AS s2
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), sd AS (
        |  SELECT stratum, n_rows,
        |         CAST(floor(sqrt(greatest(0.0,
        |           CAST(s2 AS DOUBLE) / n_rows
        |             - (CAST(s AS DOUBLE) / n_rows) * (CAST(s AS DOUBLE) / n_rows))))
        |           AS BIGINT) AS sd_e6
        |  FROM st
        |), w AS (
        |  SELECT stratum, n_rows, sd_e6, n_rows * sd_e6 AS weight_e6,
        |         (SELECT sum(n_rows * sd_e6) FROM sd) AS tw
        |  FROM sd
        |), q AS (
        |  SELECT stratum, n_rows, sd_e6, weight_e6,
        |         least(100 * weight_e6 // tw, n_rows) AS base,
        |         100 * weight_e6 % tw AS rem
        |  FROM w
        |), seats AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
        |         (SELECT 100 - sum(base) FROM q) AS leftover
        |  FROM q WHERE base < n_rows
        |)
        |SELECT q.stratum, q.n_rows, q.sd_e6, q.weight_e6,
        |       CAST(q.base + CASE WHEN s.rk IS NOT NULL AND s.rk <= s.leftover
        |                          THEN 1 ELSE 0 END AS BIGINT) AS allocation
        |FROM q LEFT JOIN seats s ON q.stratum = s.stratum""".stripMargin,
    "q_interval_attribution" ->
      """SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
        |       b.value AS amount
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id
        | AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 1 HOUR""".stripMargin,
    "q_asof_join" ->
      """SELECT c.event_id, v.value AS view_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin,
    "q_scd2" ->
      """WITH log AS (
        |  SELECT user_id AS id, event_type AS state,
        |         epoch_us(ts) // 1000000 AS ts
        |  FROM events
        |), d AS (
        |  SELECT id, state, ts FROM (
        |    SELECT id, state, ts,
        |           row_number() OVER (PARTITION BY id, ts ORDER BY state DESC) AS rn
        |    FROM log) WHERE rn = 1
        |), o AS (
        |  SELECT id, state, ts,
        |         lag(state) OVER (PARTITION BY id ORDER BY ts) AS prev
        |  FROM d
        |), v AS (
        |  SELECT id, state, ts AS valid_from FROM o
        |  WHERE prev IS NULL OR prev <> state
        |)
        |SELECT id, state, valid_from,
        |       lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from) AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from) IS NULL AS is_current
        |FROM v""".stripMargin,
    "q_asof_forward" ->
      """SELECT e.event_id, v.value AS next_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
        |  ON e.user_id = v.user_id AND v.ts >= e.ts""".stripMargin,
    // DuckDB's own backward and forward ASOF joins, then min-|delta| with
    // ties to the earlier row and the 600 s tolerance — exactly the
    // operator's pick rule
    "q_asof_nearest" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
        |b AS (
        |  SELECT c.event_id, epoch(c.ts) - epoch(v.ts) AS bd, v.value AS bval
        |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
        |), f AS (
        |  SELECT c.event_id, epoch(v.ts) - epoch(c.ts) AS fd, v.value AS fval
        |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts > c.ts
        |)
        |SELECT c.event_id,
        |  CASE WHEN bd IS NOT NULL AND bd <= 600.0
        |         AND (fd IS NULL OR fd > 600.0 OR bd <= fd) THEN bval
        |       WHEN fd IS NOT NULL AND fd <= 600.0 THEN fval
        |  END AS near_value
        |FROM c JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin,
    "q_range_join" ->
      """SELECT r.range AS band_id, count(*) AS cnt
        |FROM lineitem l
        |JOIN range(100) r
        |  ON l.l_extendedprice >= r.range * 1000
        | AND l.l_extendedprice <= r.range * 1000 + 1500
        |GROUP BY 1""".stripMargin,
    "q_interval_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_id, (o_orderkey * 37) % 1000000 AS a_lo,
        |         (o_orderkey * 37) % 1000000 + o_orderkey % 500 AS a_hi
        |  FROM orders
        |), b AS (
        |  SELECT c_custkey AS b_id, (c_custkey * 91) % 1000000 AS b_lo,
        |         (c_custkey * 91) % 1000000 + c_custkey % 800 AS b_hi
        |  FROM customer
        |)
        |SELECT a_id, b_id FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin,
    // three unrolled fixed-point iterations — every step integer arithmetic
    // (// is DuckDB integer division, div on the Spark side), so the hash
    // matches bit-for-bit; sums cast back to BIGINT (DuckDB sums to HUGEINT)
    "q_hits" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
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
        |ORDER BY auth_fp DESC, id LIMIT 100""".stripMargin,
    "q_pagerank" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |node AS (SELECT doc_id AS id FROM documents),
        |init AS (SELECT 1000000000000 // cnt AS v, (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |r0 AS (SELECT id, (SELECT v FROM init) AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id)
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin,
    // the expected host edges reconstructed arithmetically (the Spark side
    // gets them by REALLY parsing synthesized pages), then the same three
    // unrolled fixed-point iterations as q_pagerank, keyed by host string
    "q_host_rank" ->
      """WITH e AS (
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
        |node AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT count(*) AS cnt FROM node),
        |init AS (SELECT 1000000000000 // cnt AS v, (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |r0 AS (SELECT id, (SELECT v FROM init) AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id)
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id""".stripMargin,
    // expected fetchability computed arithmetically: even hosts → the
    // graftbot group's /g rule is the ONLY one that applies (blocked iff
    // the /g path variant); odd hosts → the * group, where /p is blocked
    // except the longer /p…/open allow
    // delays recomputed arithmetically (even host length: graftbot group
    // (len%3+1) s beats the * group's 9 s; odd: * group (len%3+2) s),
    // then the same partitioned row_number + slot arithmetic
    "q_crawl_schedule_robots" ->
      """WITH u AS (
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
        |), r AS (
        |  SELECT u.url, u.host,
        |         row_number() OVER (PARTITION BY u.host ORDER BY u.pri DESC, u.url) AS rk,
        |         coalesce(d.delay_ms, 1000) AS delay_ms
        |  FROM u LEFT JOIN d USING (host)
        |)
        |SELECT url, host, CAST(rk AS BIGINT) AS host_rank,
        |       CAST((rk - 1) * delay_ms AS BIGINT) AS fetch_at_ms,
        |       (rk - 1) * delay_ms < 8000 AS scheduled
        |FROM r""".stripMargin,
    // partitioned row_number + slot arithmetic replayed verbatim
    "q_crawl_schedule" ->
      """WITH u AS (
        |  SELECT 'https://' || source || '.example.com/d/' || doc_id AS url,
        |         source || '.example.com' AS host,
        |         CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents
        |), d AS (
        |  SELECT DISTINCT source || '.example.com' AS host,
        |         (length(source || '.example.com') % 3 + 1) * 500 AS delay_ms
        |  FROM documents
        |), r AS (
        |  SELECT u.url, u.host,
        |         row_number() OVER (PARTITION BY u.host ORDER BY u.pri DESC, u.url) AS rk,
        |         coalesce(d.delay_ms, 1000) AS delay_ms
        |  FROM u LEFT JOIN d USING (host)
        |)
        |SELECT url, host, CAST(rk AS BIGINT) AS host_rank,
        |       CAST((rk - 1) * delay_ms AS BIGINT) AS fetch_at_ms,
        |       (rk - 1) * delay_ms < 5000 AS scheduled
        |FROM r""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS c
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(sum(c) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS classes,
        |       CAST(min(c) AS BIGINT) AS min_class_size,
        |       CAST(count(CASE WHEN c < 5 THEN 1 END) AS BIGINT) AS classes_below_k,
        |       CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_below_k,
        |       CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(c) AS BIGINT), 0) AS risk_ppm
        |FROM g""".stripMargin,
    "q_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS rows_in_class,
        |         count(DISTINCT CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR)) AS div
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(sum(rows_in_class) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS classes,
        |       CAST(min(div) AS BIGINT) AS min_diversity,
        |       CAST(count(CASE WHEN div < 3 THEN 1 END) AS BIGINT) AS classes_below_l,
        |       CAST(sum(CASE WHEN div < 3 THEN rows_in_class ELSE 0 END) AS BIGINT) AS rows_below_l,
        |       CAST(sum(CASE WHEN div < 3 THEN rows_in_class ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(rows_in_class) AS BIGINT), 0) AS risk_ppm
        |FROM cls""".stripMargin,
    "q_robots" ->
      """SELECT DISTINCT
        |  concat('https://h', CAST((doc_id // 4) % 10 AS VARCHAR),
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN concat('/p', CAST((doc_id // 4) % 10 AS VARCHAR), '/x', CAST(doc_id AS VARCHAR))
        |      WHEN doc_id % 4 = 1 THEN concat('/p', CAST((doc_id // 4) % 10 AS VARCHAR), '/open/y')
        |      WHEN doc_id % 4 = 2 THEN concat('/g', CAST((doc_id // 4) % 10 AS VARCHAR), '/z')
        |      ELSE concat('/ok', CAST(doc_id AS VARCHAR))
        |    END) AS url,
        |  CASE WHEN ((doc_id // 4) % 10) % 2 = 0 THEN NOT (doc_id % 4 = 2)
        |       ELSE NOT (doc_id % 4 = 0) END AS allowed
        |FROM documents""".stripMargin,
    "q_robots_sitemaps" ->
      """WITH hk AS (SELECT DISTINCT (doc_id // 4) % 10 AS k FROM documents)
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
        |FROM hk WHERE k % 2 = 0""".stripMargin,
    // rank CTEs as in q_host_rank, plus the reciprocal/degree columns the
    // profile joins — all from the same arithmetic edge reconstruction
    "q_host_profile" ->
      """WITH e0 AS (
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com') AS src,
        |         concat('h', CAST((doc_id * 7 + 1) % 16 AS VARCHAR), '.example.com') AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com'),
        |         concat('h', CAST((doc_id * 13 + 5) % 16 AS VARCHAR), '.example.com')
        |  FROM documents
        |),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |node AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT count(*) AS cnt FROM node),
        |init AS (SELECT 1000000000000 // cnt AS v, (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |r0 AS (SELECT id, (SELECT v FROM init) AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id),
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
        |        LEFT JOIN il ON r3.id = il.dst""".stripMargin,
    "q_connected_components" ->
      "SELECT doc_id AS id, doc_id - doc_id % 10 AS component FROM documents",
    "q_readability" ->
      """WITH c AS (
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
        |FROM c""".stripMargin,
    "q_sitemap" ->
      """SELECT doc_id,
        |       concat('https://s', CAST(doc_id % 9 AS VARCHAR), '.com/page?a=1&b=',
        |              CAST(doc_id AS VARCHAR)) AS loc,
        |       concat('2024-0', CAST(doc_id % 9 + 1 AS VARCHAR), '-01') AS lastmod
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |       concat('https://s', CAST(doc_id % 9 AS VARCHAR), '.com/plain/',
        |              CAST(doc_id AS VARCHAR)),
        |       ''
        |FROM documents""".stripMargin,
    "q_registrable_domain" ->
      """WITH u AS (
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
        |FROM d""".stripMargin,
    "q_robust_outliers" ->
      """WITH b AS (
        |  SELECT lang AS key, doc_id AS id, CAST(n_chars AS DOUBLE) AS value
        |  FROM documents
        |), m AS (
        |  SELECT key, quantile_cont(value, 0.5) AS median FROM b GROUP BY 1
        |), d AS (
        |  SELECT b.key, b.id, b.value, m.median, abs(b.value - m.median) AS dev
        |  FROM b JOIN m ON b.key = m.key
        |), md AS (
        |  SELECT key, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1
        |)
        |SELECT d.key, d.id, d.value, d.median, md.mad,
        |       d.dev > 3.5 * 1.4826 * md.mad AS outlier
        |FROM d JOIN md ON d.key = md.key""".stripMargin,
    "q_link_spam" ->
      """WITH e0 AS (
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com') AS src,
        |         concat('h', CAST((doc_id * 7 + 1) % 16 AS VARCHAR), '.example.com') AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com'),
        |         concat('h', CAST((doc_id * 13 + 5) % 16 AS VARCHAR), '.example.com')
        |  FROM documents
        |),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |recip AS (SELECT a.src, count(*) AS reciprocal
        |          FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
        |o AS (SELECT src, count(*) AS out_hosts FROM e GROUP BY 1)
        |SELECT o.src AS host, o.out_hosts,
        |       COALESCE(r.reciprocal, 0) AS reciprocal,
        |       COALESCE(r.reciprocal, 0) * 1000000 // o.out_hosts AS ratio_ppm
        |FROM o LEFT JOIN recip r ON o.src = r.src""".stripMargin,
    "q_cocitation" ->
      """WITH e0 AS (
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com') AS src,
        |         concat('h', CAST((doc_id * 7 + 1) % 16 AS VARCHAR), '.example.com') AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT concat('h', CAST(doc_id % 16 AS VARCHAR), '.example.com'),
        |         concat('h', CAST((doc_id * 13 + 5) % 16 AS VARCHAR), '.example.com')
        |  FROM documents
        |),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |kept AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 100),
        |k AS (SELECT e.src, e.dst FROM e JOIN kept ON e.src = kept.src)
        |SELECT a.dst AS host_a, b.dst AS host_b, count(*) AS cocites
        |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // the order→part bipartite graph: same unrolled fixed-point recipe,
    // node universe from the edge endpoints (the operator's default)
    "q_pagerank_lineitem" ->
      """WITH e AS (SELECT l_orderkey AS src, l_partkey + 10000000 AS dst FROM lineitem),
        |node AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT count(*) AS cnt FROM node),
        |init AS (SELECT 1000000000000 // cnt AS v, (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |r0 AS (SELECT id, (SELECT v FROM init) AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id)
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin,
    // same unrolled iterations as q_pagerank, but init mass and teleport
    // are CASE-gated to the seed set (doc_id % 10 = 0)
    "q_trustrank" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |ns AS (SELECT count(*) AS scnt FROM documents WHERE doc_id % 10 = 0),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
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
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin,
    "q_pagerank_weighted" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
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
        |SELECT id, rank_fp FROM r3 ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin,
    "q_clustering" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e0 AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0
        |),
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
        |FROM deg LEFT JOIN tc ON deg.id = tc.id""".stripMargin,
    "q_triangles" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e0 AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0
        |),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT id, count(*) AS triangles
        |FROM (SELECT unnest([u, v, w]) AS id FROM tri)
        |GROUP BY 1""".stripMargin,
    "q_seed_distance" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |bfs AS (
        |  SELECT doc_id AS id, 0 AS dist FROM documents WHERE doc_id % 100 = 0
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.dist < 6
        |)
        |SELECT id, CAST(min(dist) AS INT) AS dist FROM bfs GROUP BY 1""".stripMargin,
    "q_html_jsonld" ->
      """SELECT doc_id,
        |       concat('Doc ', CAST(doc_id AS VARCHAR)) AS headline,
        |       (doc_id * 31) % 1000 AS word_count
        |FROM documents""".stripMargin,
    "q_dedup_canonical" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY doc_id // 5",
    "q_translation_pairs" ->
      """WITH l(i, lang) AS (VALUES (0, 'en'), (1, 'de'), (2, 'es'), (3, 'fr'), (4, 'zh')),
        |fam AS (SELECT DISTINCT doc_id // 5 AS f FROM documents),
        |p AS (
        |  SELECT concat('https://site.com/', a.lang, '/art/', CAST(f.f AS VARCHAR)) AS ua,
        |         a.lang AS la,
        |         concat('https://site.com/', b.lang, '/art/', CAST(f.f AS VARCHAR)) AS ub,
        |         b.lang AS lb
        |  FROM fam f, l a, l b WHERE a.i <> b.i
        |)
        |SELECT ua AS url_a, la AS lang_a, ub AS url_b, lb AS lang_b
        |FROM p WHERE ua < ub""".stripMargin,
    "q_html_canonical" ->
      """SELECT concat('https://a.com/article/', CAST(doc_id // 5 AS VARCHAR)) AS canonical,
        |       CAST(count(*) AS BIGINT) AS variants
        |FROM documents GROUP BY 1""".stripMargin,
    "q_html_robots" ->
      """SELECT doc_id,
        |       doc_id % 5 IN (0, 1) AS noindex,
        |       doc_id % 5 IN (1, 2, 4) AS nofollow
        |FROM documents""".stripMargin,
    "q_html_meta" ->
      """SELECT doc_id,
        |       concat('Doc & Page ', CAST(doc_id AS VARCHAR)) AS title,
        |       'description' AS name,
        |       concat('summary ', CAST(doc_id % 7 AS VARCHAR)) AS content
        |FROM documents
        |UNION ALL
        |SELECT doc_id, concat('Doc & Page ', CAST(doc_id AS VARCHAR)),
        |       'og:type', 'article'
        |FROM documents""".stripMargin,
    // the anchor texts the parser should capture, reconstructed directly:
    // entity already decoded ('&'), inline <b> gone, lowercased terms
    "q_anchor_text" ->
      """WITH a AS (
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
        |SELECT host, term, count(*) AS cnt FROM t GROUP BY 1, 2""".stripMargin,
    // BM25 list + PageRank static-prior list fused by reciprocal rank:
    // ranks via row_number with id tie-breaks, contributions in integer
    // fixed-point, so the fused score is bit-exact across engines
    "q_hybrid_rrf" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM documents),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM nn) AS dst FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 97 + 13) % (SELECT cnt FROM nn) FROM documents
        |    UNION ALL SELECT doc_id, (doc_id * 5 + 1) % (SELECT cnt FROM nn) FROM documents
        |  ) WHERE src <> dst
        |),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |node AS (SELECT doc_id AS id FROM documents),
        |init AS (SELECT 1000000000000 // cnt AS v, (15 * (1000000000000 // cnt)) // 100 AS base FROM nn),
        |r0 AS (SELECT id, (SELECT v FROM init) AS rank_fp FROM node),
        |c1 AS (SELECT e.dst AS id, CAST(sum(r0.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c1.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c1 ON node.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c2.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c2 ON node.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.rank_fp // d.dg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT node.id, (SELECT base FROM init) + (85 * COALESCE(c3.s, 0)) // 100 AS rank_fp
        |       FROM node LEFT JOIN c3 ON node.id = c3.id),
        |base AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), b2 AS (
        |  SELECT id, toks, len(toks)::DOUBLE AS dl FROM base
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sumdl,
        |         sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN list_contains(toks, 'vector') THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN list_contains(toks, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM b2
        |), tf AS (
        |  SELECT id, dl,
        |         len(list_filter(toks, x -> x = 'join'))::DOUBLE AS tf0,
        |         len(list_filter(toks, x -> x = 'vector'))::DOUBLE AS tf1,
        |         len(list_filter(toks, x -> x = 'stream'))::DOUBLE AS tf2
        |  FROM b2
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
        |FROM f GROUP BY id ORDER BY rrf_fp DESC, id LIMIT 50""".stripMargin,
    "q_fuzzy_crosscorpus" ->
      """WITH t AS (
        |  SELECT doc_id, substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 48) AS title
        |  FROM documents
        |), r AS (
        |  SELECT doc_id + 5000 AS doc_id,
        |         substring(title, 1, 2) || substring(title, 4) AS title
        |  FROM t
        |)
        |SELECT t.doc_id AS id_l, r.doc_id AS id_r,
        |       levenshtein(t.title, r.title) AS dist
        |FROM t, r
        |WHERE abs(length(t.title) - length(r.title)) <= 3
        |  AND levenshtein(t.title, r.title) <= 3""".stripMargin,
    // the blocked join must equal TRUE all-pairs levenshtein (len-diff
    // prefilter is implied by dist <= 3)
    "q_fuzzy_join" ->
      """WITH t AS (
        |  SELECT doc_id, substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 48) AS title
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.title, b.title) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.title) - length(b.title)) <= 3
        |  AND levenshtein(a.title, b.title) <= 3""".stripMargin,
    "q_record_linkage" ->
      """WITH corpus AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
        |         c_acctbal AS bal, c_mktsegment AS seg FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substr(c_name, 1, 4) || substr(c_name, 6),
        |         c_nationkey, c_acctbal + 0.5, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, 'RELOCATED'
        |  FROM customer WHERE c_custkey % 11 = 0
        |), scored AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         levenshtein(a.name, b.name) <= 1 AS name_agree,
        |         a.seg = b.seg AS segment_agree,
        |         abs(a.bal - b.bal) <= 1.0 AS bal_agree,
        |         CAST(CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 4000000 ELSE -3000000 END
        |            + CASE WHEN a.seg = b.seg THEN 1500000 ELSE -700000 END
        |            + CASE WHEN abs(a.bal - b.bal) <= 1.0 THEN 3000000 ELSE -400000 END
        |           AS BIGINT) AS score_micro
        |  FROM corpus a JOIN corpus b ON a.nk = b.nk AND a.id < b.id
        |   AND (floor(a.bal / 2) = floor(b.bal / 2)
        |     OR floor((a.bal + 1) / 2) = floor((b.bal + 1) / 2))
        |)
        |SELECT id_a, id_b, name_agree, segment_agree, bal_agree, score_micro,
        |       CASE WHEN score_micro >= 7000000 THEN 'match' ELSE 'possible' END AS decision
        |FROM scored WHERE score_micro > 3000000""".stripMargin,
    "q_jaro_winkler" ->
      """SELECT c_custkey AS id,
        |       jaro_winkler_similarity(c_name,
        |         substr(c_name, 1, 4) || substr(c_name, 6)) AS jw_dropped,
        |       jaro_winkler_similarity(c_name, reverse(c_name)) AS jw_reversed
        |FROM customer""".stripMargin,
    "q_sorted_neighborhood" ->
      """WITH corpus AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substr(c_name, 1, 4) || substr(c_name, 6)
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name
        |  FROM customer WHERE c_custkey % 11 = 0
        |), ranked AS (
        |  SELECT id, row_number() OVER (ORDER BY name, id) AS r
        |  FROM corpus WHERE name IS NOT NULL
        |)
        |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |       CAST(b.r - a.r AS INT) AS dist
        |FROM ranked a, ranked b
        |WHERE b.r > a.r AND b.r - a.r < 3""".stripMargin,
    "q_entity_resolution" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
        |         c_acctbal AS bal, c_mktsegment AS seg FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substr(c_name, 1, 4) || substr(c_name, 6),
        |         c_nationkey, c_acctbal + 0.5, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, 'RELOCATED'
        |  FROM customer WHERE c_custkey % 11 = 0
        |), m AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM corpus a JOIN corpus b ON a.nk = b.nk AND a.id < b.id
        |   AND (floor(a.bal / 2) = floor(b.bal / 2)
        |     OR floor((a.bal + 1) / 2) = floor((b.bal + 1) / 2))
        |  WHERE levenshtein(a.name, b.name) <= 1 AND a.seg = b.seg
        |    AND abs(a.bal - b.bal) <= 1.0
        |), edges AS (
        |  SELECT id_a AS s, id_b AS d FROM m UNION SELECT id_b, id_a FROM m
        |), reach(id, r) AS (
        |  SELECT id, id FROM corpus
        |  UNION
        |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
        |)
        |SELECT id, min(r) AS entity_id FROM reach GROUP BY id""".stripMargin,
    "q_bot_detection" ->
      """WITH t AS (
        |  SELECT 'u' || user_id AS client, CAST(floor(epoch(ts)) AS BIGINT) AS te,
        |         '/' || event_type AS path,
        |         CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS st,
        |         'Mozilla/5.0' AS ua
        |  FROM events
        |  UNION ALL
        |  SELECT 'bot-1', 1704067200 + (event_id // 5) * 60,
        |         '/page' || (event_id % 7), 200, 'cron/1.0'
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT 'spider-9', CAST(floor(epoch(ts)) AS BIGINT), '/' || event_type,
        |         200, 'FancySpider/2.0'
        |  FROM events WHERE event_id % 11 = 0
        |), g AS (
        |  SELECT client, path, st, ua,
        |         te - lag(te) OVER (PARTITION BY client ORDER BY te, path) AS gap
        |  FROM t
        |), a AS (
        |  SELECT client, count(*) AS n_requests,
        |         count(DISTINCT path) AS distinct_paths,
        |         count(CASE WHEN path = '/robots.txt' THEN 1 END) AS robots_hits,
        |         count(CASE WHEN st >= 400 THEN 1 END) AS errors,
        |         bool_or(regexp_matches(ua,
        |           '(?i)(bot|crawler|spider|scrapy|curl|wget|python-requests)'))
        |           AS declared_bot,
        |         count(gap) AS m, sum(gap) AS s, sum(gap * gap) AS s2
        |  FROM g GROUP BY 1
        |), r AS (
        |  SELECT client, n_requests, distinct_paths, robots_hits,
        |         CAST(errors * 1000000 // nullif(n_requests, 0) AS BIGINT) AS err_ppm,
        |         declared_bot,
        |         CASE WHEN m >= 1
        |           THEN CAST(floor(s / m) AS BIGINT) END AS mean_gap_s,
        |         CASE WHEN s > 0
        |           THEN CAST(floor((CAST(m AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
        |                  / (CAST(s AS DOUBLE) * s) * 1e6) AS BIGINT) END AS cv2_ppm
        |  FROM a
        |)
        |SELECT client, n_requests, distinct_paths, robots_hits, err_ppm,
        |       declared_bot, mean_gap_s, cv2_ppm,
        |       coalesce(cv2_ppm <= 10000 AND n_requests >= 10, false) AS metronomic,
        |       coalesce(mean_gap_s < 2 AND n_requests >= 30, false) AS hammering,
        |       CAST(CASE WHEN declared_bot THEN 500000 ELSE 0 END
        |          + CASE WHEN coalesce(cv2_ppm <= 10000 AND n_requests >= 10, false)
        |                 THEN 300000 ELSE 0 END
        |          + CASE WHEN coalesce(mean_gap_s < 2 AND n_requests >= 30, false)
        |                 THEN 200000 ELSE 0 END AS BIGINT) AS bot_score_ppm
        |FROM r""".stripMargin,
    "q_mutual_information" ->
      """WITH cells AS (
        |  SELECT lang AS x, source AS y, count(*) AS nxy FROM documents GROUP BY 1, 2
        |), mx AS (SELECT x, sum(nxy) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT y, sum(nxy) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT max(n) AS n, count(*) AS cells,
        |         sum(CAST(floor((CAST(nxy AS DOUBLE) / n)
        |               * ln((CAST(nxy AS DOUBLE) * n) / (CAST(nx AS DOUBLE) * ny))
        |               * 1e9) AS BIGINT)) AS mi_e9
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        |), hx AS (
        |  SELECT count(*) AS x_values,
        |         sum(CAST(floor(-(CAST(nx AS DOUBLE) / n)
        |               * ln(CAST(nx AS DOUBLE) / n) * 1e9) AS BIGINT)) AS hx_e9
        |  FROM mx CROSS JOIN tot
        |), hy AS (
        |  SELECT count(*) AS y_values,
        |         sum(CAST(floor(-(CAST(ny AS DOUBLE) / n)
        |               * ln(CAST(ny AS DOUBLE) / n) * 1e9) AS BIGINT)) AS hy_e9
        |  FROM my CROSS JOIN tot
        |)
        |SELECT n, x_values, y_values, cells,
        |       CAST(mi_e9 AS BIGINT) AS mi_e9, CAST(hx_e9 AS BIGINT) AS hx_e9,
        |       CAST(hy_e9 AS BIGINT) AS hy_e9,
        |       CAST(coalesce(2 * mi_e9 * 1000000 // nullif(hx_e9 + hy_e9, 0), 0)
        |            AS BIGINT) AS nmi_ppm
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,
    "q_gap_fill" ->
      """WITH a AS (
        |  SELECT user_id AS key,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 21600 * 21600 AS bucket_ts,
        |         max(value) AS v
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT key, unnest(range(lo, hi + 21600, 21600)) AS bucket_ts
        |  FROM (SELECT key, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM a GROUP BY 1)
        |), j AS (
        |  SELECT g.key, g.bucket_ts, a.v, a.v IS NULL AS filled
        |  FROM g LEFT JOIN a USING (key, bucket_ts)
        |)
        |SELECT key, bucket_ts,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket_ts)
        |         AS value,
        |       filled
        |FROM j""".stripMargin,
    "q_phrase_search" ->
      """WITH w AS (
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
        |SELECT query_id, id, occurrences FROM m WHERE occurrences > 0""".stripMargin,
    "q_best_snippet" ->
      """WITH w AS (
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
        |WHERE rn = 1""".stripMargin,
    "q_prefix_search" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                            t -> t != '')) AS term
        |  FROM documents
        |)
        |SELECT id, count(DISTINCT term) AS matched_terms,
        |       count(*) AS occurrences
        |FROM t WHERE term LIKE 'spar%' GROUP BY 1""".stripMargin,
    "q_spell_correct" ->
      """WITH w AS (
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
        |) WHERE rank <= 3""".stripMargin,
    "q_proximity_search" ->
      """WITH w AS (
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
        |SELECT query_id, id, anchors FROM c WHERE anchors > 0""".stripMargin,
    "q_dedup_confusables" ->
      ("""WITH corpus AS (
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
        |SELECT min(doc_id) AS doc_id FROM sk GROUP BY s""").stripMargin,
    "q_pareto_front" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x, doc_id * 37 % 1000 AS y,
        |         doc_id * 91 % 773 AS z
        |  FROM documents
        |)
        |SELECT a.doc_id, a.x, a.y, a.z FROM s a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s b
        |  WHERE b.x >= a.x AND b.y >= a.y AND b.z >= a.z
        |    AND (b.x > a.x OR b.y > a.y OR b.z > a.z))""".stripMargin,
    "q_threshold_sweep" ->
      """WITH s AS (
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
        |FROM c""".stripMargin,
    "q_dp_count" ->
      """WITH g AS (
        |  SELECT c_nationkey AS nk, count(*) AS n,
        |         sum(least(greatest(CAST(floor(c_acctbal) AS BIGINT), 0), 5000)) AS sm
        |  FROM customer GROUP BY 1
        |), u AS (
        |  SELECT nk, n, sm,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':42:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ua,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':42:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ub,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':7:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS uc,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':7:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ud
        |  FROM g
        |)
        |SELECT nk,
        |  CAST(n + (CASE WHEN ua = 0 THEN 52 ELSE 52 - length(bin(ua)) END)
        |         - (CASE WHEN ub = 0 THEN 52 ELSE 52 - length(bin(ub)) END) AS BIGINT) AS dp_count,
        |  CAST(sm + (CASE WHEN uc = 0 THEN 52 ELSE 52 - length(bin(uc)) END)
        |          - (CASE WHEN ud = 0 THEN 52 ELSE 52 - length(bin(ud)) END) AS BIGINT) AS dp_sum
        |FROM u""".stripMargin,
    "q_dp_quantile" ->
      """WITH v AS (
        |  SELECT least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer
        |), tot AS (SELECT count(*) AS n FROM v),
        |h AS (
        |  SELECT CAST(least(floor((x - (-1000.0)) / 11000.0 * 64), 63) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1
        |), g AS (SELECT unnest(range(0, 64)) AS b),
        |cum AS (
        |  SELECT g.b, sum(coalesce(h.cnt, 0)) OVER (ORDER BY g.b) AS c
        |  FROM g LEFT JOIN h USING (b)
        |), s50 AS (
        |  SELECT b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.5 * CAST((SELECT n FROM tot) AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:42:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), p50 AS (
        |  SELECT CAST(0.5 AS DOUBLE) AS q,
        |         -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |         CAST(b AS BIGINT) AS bucket
        |  FROM s50
        |  ORDER BY 1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC LIMIT 1
        |), s90 AS (
        |  SELECT b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.9 * CAST((SELECT n FROM tot) AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:43:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), p90 AS (
        |  SELECT CAST(0.9 AS DOUBLE) AS q,
        |         -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |         CAST(b AS BIGINT) AS bucket
        |  FROM s90
        |  ORDER BY 1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC LIMIT 1
        |)
        |SELECT * FROM p50 UNION ALL SELECT * FROM p90""".stripMargin,
    "q_dp_quantiles" ->
      """WITH v AS (
        |  SELECT c_nationkey AS nk,
        |         least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer
        |), h AS (
        |  SELECT nk,
        |         CAST(least(floor((x - (-1000.0)) / 11000.0 * 64), 63) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1, 2
        |), g AS (
        |  SELECT nk, gb.b
        |  FROM (SELECT DISTINCT nk FROM v)
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) gb
        |), cum AS (
        |  SELECT g.nk, g.b,
        |         sum(coalesce(h.cnt, 0)) OVER (PARTITION BY g.nk ORDER BY g.b) AS c,
        |         sum(coalesce(h.cnt, 0)) OVER (PARTITION BY g.nk) AS tot
        |  FROM g LEFT JOIN h ON h.nk = g.nk AND h.b = g.b
        |), s AS (
        |  SELECT nk, b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.5 * CAST(tot AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:' || CAST(nk AS VARCHAR) || ':7:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), ranked AS (
        |  SELECT nk, b,
        |         row_number() OVER (PARTITION BY nk ORDER BY
        |           1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC) AS rk
        |  FROM s
        |)
        |SELECT nk, CAST(0.5 AS DOUBLE) AS q,
        |       -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |       CAST(b AS BIGINT) AS bucket
        |FROM ranked WHERE rk = 1""".stripMargin,
    "q_dp_histogram" ->
      """WITH v AS (
        |  SELECT c_nationkey AS nk,
        |         least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |), h AS (
        |  SELECT nk,
        |         CAST(least(floor((x - (-1000.0)) / 11000.0 * 32), 31) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1, 2
        |), g AS (
        |  SELECT nk, gb.b
        |  FROM (SELECT DISTINCT nk FROM v)
        |  CROSS JOIN (SELECT unnest(range(0, 32)) AS b) gb
        |), filled AS (
        |  SELECT g.nk, g.b, coalesce(h.cnt, 0) AS n
        |  FROM g LEFT JOIN h ON h.nk = g.nk AND h.b = g.b
        |), u AS (
        |  SELECT nk, b, n,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dph:' || CAST(nk AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':9:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ua,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dph:' || CAST(nk AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':9:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ub
        |  FROM filled
        |)
        |SELECT nk, CAST(b AS BIGINT) AS bucket,
        |       -1000.0 + CAST(b AS DOUBLE) * 343.75 AS bucket_lo,
        |       CAST(n + (CASE WHEN ua = 0 THEN 52 ELSE 52 - length(bin(ua)) END) // 2
        |              - (CASE WHEN ub = 0 THEN 52 ELSE 52 - length(bin(ub)) END) // 2 AS BIGINT) AS dp_count
        |FROM u""".stripMargin,
    "q_mirror_hosts" ->
      """WITH corpus AS (
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
        |WHERE i * 1000000 // (sa.n + sb.n - i) >= 800000""".stripMargin,
    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0
        |) SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text""".stripMargin,
    // exact all-pairs trigram jaccard over the same constructed corpus —
    // the testdata also contains organic planted near-dups the LSH must find
    "q_dedup_minhash" -> JaccardPairsSql,
    "q_dedup_weighted_drop" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id AS id,
        |         unnest([array_to_string(w[i:i+2], ' ')
        |                 for i in range(1, len(w) - 1)]) AS t
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
        |        FROM corpus)
        |), tf AS (SELECT id, t, count(*) AS c FROM toks GROUP BY 1, 2),
        |lens AS (SELECT id, count(*) AS lw FROM toks GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, sum(least(a.c, b.c)) AS smin
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.id < b.id GROUP BY 1, 2
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
        |SELECT id FROM comp WHERE id = c""".stripMargin,
    "q_dedup_weighted" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id AS id,
        |         unnest([array_to_string(w[i:i+2], ' ')
        |                 for i in range(1, len(w) - 1)]) AS t
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
        |        FROM corpus)
        |), tf AS (SELECT id, t, count(*) AS c FROM toks GROUP BY 1, 2),
        |lens AS (SELECT id, count(*) AS lw FROM toks GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, sum(least(a.c, b.c)) AS smin
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.id < b.id GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |       CAST(smin AS DOUBLE) / (la.lw + lb.lw - smin) AS w_jaccard
        |FROM inter
        |JOIN lens la ON inter.id_a = la.id
        |JOIN lens lb ON inter.id_b = lb.id
        |WHERE CAST(smin AS DOUBLE) / (la.lw + lb.lw - smin) >= 0.8""".stripMargin,
    "q_similarity_join" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
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
        |) WHERE overlap > 0 AND jaccard >= 0.7""".stripMargin,
    "q_similarity_crosscorpus" ->
      """WITH sh AS (
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
        |) WHERE overlap > 0 AND jaccard >= 0.7""".stripMargin,
    "q_dedup_crosscorpus" ->
      """WITH m AS (
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
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
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
        |FROM sh""".stripMargin,
    "q_dedup_embedding" ->
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b
        |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin,
    "q_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 20 = 0
        |), a AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |                   AND embedding[1] >= embedding[4] THEN 0
        |              WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |              WHEN embedding[3] >= embedding[4] THEN 2
        |              ELSE 3 END AS cid
        |  FROM base
        |), drops AS (
        |  SELECT DISTINCT r.vec_id
        |  FROM a l JOIN a r ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |                               CAST(r.embedding AS DOUBLE[])) >= 0.999
        |)
        |SELECT vec_id, cid FROM a ANTI JOIN drops USING (vec_id)""".stripMargin,
    "q_embedding_outliers" ->
      """WITH a AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
        |         CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |                   AND embedding[1] >= embedding[4] THEN 0
        |              WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |              WHEN embedding[3] >= embedding[4] THEN 2
        |              ELSE 3 END AS cid
        |  FROM embeddings)
        |SELECT vec_id, cid,
        |       (ed[cid + 1] / sqrt(list_sum(list_transform(ed, x -> x * x)))) < 0.18 AS is_outlier
        |FROM a""".stripMargin,
    "q_ann_bruteforce" -> BruteTopKSql,
    "q_hard_negatives" ->
      """SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q, embeddings n
        |WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id AND q.label <> n.label
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) <= 3""".stripMargin,
    "q_ann_matryoshka" ->
      """SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q, embeddings n
        |WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding[1:16], n.embedding[1:16]) DESC,
        |           n.vec_id) <= 3""".stripMargin,
    "q_ann_sq" -> SqTopKSql,
    "q_ann_eval" -> AnnEvalSql,
    "q_curate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
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
        |           WHEN fr > 0 THEN 'fr' ELSE 'und' END = 'en'""".stripMargin,
    "q_split_hash" ->
      """SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |      FROM documents)""".stripMargin,
    // q_dedup_clusters' recursive reachability + q_split_hash's md5 recipe,
    // keyed on the cluster id
    "q_leakage_split" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM corpus)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM corpus
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
        |), cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             CAST(concat('0x', substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |      FROM cl)""".stripMargin,
    "q_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 40""".stripMargin,
    "q_sample_budget" ->
      """WITH base AS (
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
        |       / 4294967296.0) < fr.frac""".stripMargin,
    "q_length_quantiles" ->
      """WITH b AS (
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
        |FROM cum GROUP BY 1""".stripMargin,
    "q_weighted_sample" ->
      """WITH c AS (
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
        |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin,
    "q_pack_sequences" ->
      """WITH base AS (
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
        |FROM c""".stripMargin,
    "q_pack_greedy" ->
      """WITH RECURSIVE base AS (
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
        |FROM packed""".stripMargin,
    "q_lm_score" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), stats AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab FROM uni
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(
        |           text || CASE WHEN doc_id % 6 = 0 THEN ' zzqx9 vvkk7 zzqx9' ELSE '' END
        |         ), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
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
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS sum_prob_e12,
        |         count(CASE WHEN cw IS NULL THEN 1 END) AS n_oov
        |  FROM j GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(n_trans, 0) AS n_trans,
        |       CAST(coalesce(sum_prob_e12, 0) AS BIGINT) AS sum_prob_e12,
        |       coalesce(n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_bm25_index_build" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |)
        |SELECT term, CAST(count(*) AS BIGINT) AS df
        |FROM (SELECT DISTINCT id, unnest(toks) AS term FROM base)
        |GROUP BY 1""".stripMargin,
    "q_bm25_search" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), docs AS (
        |  SELECT id, toks, len(toks) AS dl FROM base
        |), stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docs
        |), postings AS (
        |  SELECT term, id, dl, count(*) AS tf
        |  FROM (SELECT id, dl, unnest(toks) AS term FROM docs)
        |  GROUP BY 1, 2, 3
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM postings GROUP BY 1
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs WHERE id % 50 = 0
        |), j AS (
        |  SELECT qt.query_id, p.id,
        |         CAST(floor(
        |           (ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |            * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |               / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
        |                  + 0.75 * CAST(dl AS DOUBLE)
        |                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |           * 1000000000.0) AS BIGINT) AS p9
        |  FROM qt
        |  JOIN postings p USING (term)
        |  JOIN dfs USING (term)
        |  CROSS JOIN stats
        |), agg AS (
        |  SELECT query_id, id, CAST(sum(p9) AS BIGINT) AS score_e9 FROM j GROUP BY 1, 2
        |)
        |SELECT query_id, id, score_e9, CAST(rnk AS INT) AS rank FROM (
        |  SELECT query_id, id, score_e9,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score_e9 DESC, id) AS rnk
        |  FROM agg)
        |WHERE rnk <= 5""".stripMargin,
    // identical BM25 math as q_bm25_search on the FIXED 100-query batch
    "q_bm25_search_steady" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), docs AS (
        |  SELECT id, toks, len(toks) AS dl FROM base
        |), stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docs
        |), postings AS (
        |  SELECT term, id, dl, count(*) AS tf
        |  FROM (SELECT id, dl, unnest(toks) AS term FROM docs)
        |  GROUP BY 1, 2, 3
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM postings GROUP BY 1
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs
        |  WHERE id % 5 = 0 AND id < 500
        |), j AS (
        |  SELECT qt.query_id, p.id,
        |         CAST(floor(
        |           (ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |            * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |               / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
        |                  + 0.75 * CAST(dl AS DOUBLE)
        |                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |           * 1000000000.0) AS BIGINT) AS p9
        |  FROM qt
        |  JOIN postings p USING (term)
        |  JOIN dfs USING (term)
        |  CROSS JOIN stats
        |), agg AS (
        |  SELECT query_id, id, CAST(sum(p9) AS BIGINT) AS score_e9 FROM j GROUP BY 1, 2
        |)
        |SELECT query_id, id, score_e9, CAST(rnk AS INT) AS rank FROM (
        |  SELECT query_id, id, score_e9,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score_e9 DESC, id) AS rnk
        |  FROM agg)
        |WHERE rnk <= 5""".stripMargin,
    // identical whole-corpus BM25 math as q_bm25_search (append==rebuild is
    // the property under test), on the % 70 query slice
    "q_bm25_append" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), docs AS (
        |  SELECT id, toks, len(toks) AS dl FROM base
        |), stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docs
        |), postings AS (
        |  SELECT term, id, dl, count(*) AS tf
        |  FROM (SELECT id, dl, unnest(toks) AS term FROM docs)
        |  GROUP BY 1, 2, 3
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM postings GROUP BY 1
        |), qt AS (
        |  SELECT DISTINCT id AS query_id, unnest(toks) AS term FROM docs WHERE id % 70 = 0
        |), j AS (
        |  SELECT qt.query_id, p.id,
        |         CAST(floor(
        |           (ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |            * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |               / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
        |                  + 0.75 * CAST(dl AS DOUBLE)
        |                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |           * 1000000000.0) AS BIGINT) AS p9
        |  FROM qt
        |  JOIN postings p USING (term)
        |  JOIN dfs USING (term)
        |  CROSS JOIN stats
        |), agg AS (
        |  SELECT query_id, id, CAST(sum(p9) AS BIGINT) AS score_e9 FROM j GROUP BY 1, 2
        |)
        |SELECT query_id, id, score_e9, CAST(rnk AS INT) AS rank FROM (
        |  SELECT query_id, id, score_e9,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score_e9 DESC, id) AS rnk
        |  FROM agg)
        |WHERE rnk <= 5""".stripMargin,
    "q_lm3_score" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), stats AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab FROM uni
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
        |), trit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM corpus)
        |), tri AS (
        |  SELECT w1, w2, w3, count(*) AS ct FROM trit GROUP BY 1, 2, 3
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(
        |           text || CASE WHEN doc_id % 6 = 0 THEN ' zzqx9 vvkk7 zzqx9' ELSE '' END
        |         ), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
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
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS sum_prob_e12,
        |         count(CASE WHEN cw IS NULL THEN 1 END) AS n_oov
        |  FROM j GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(n_trans, 0) AS n_trans,
        |       CAST(coalesce(sum_prob_e12, 0) AS BIGINT) AS sum_prob_e12,
        |       coalesce(n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_lm5_score" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), stats AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab FROM uni
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
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(
        |           text || CASE WHEN doc_id % 6 = 0 THEN ' zzqx9 vvkk7 zzqx9' ELSE '' END
        |         ), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
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
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_trans,
        |         sum(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS sum_prob_e12,
        |         count(CASE WHEN cw IS NULL THEN 1 END) AS n_oov
        |  FROM j GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(n_trans, 0) AS n_trans,
        |       CAST(coalesce(sum_prob_e12, 0) AS BIGINT) AS sum_prob_e12,
        |       coalesce(n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_lm_kn" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
        |), trit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM corpus)
        |), tri AS (
        |  SELECT w1, w2, w3, count(*) AS ct FROM trit GROUP BY 1, 2, 3
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
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(
        |           text || CASE WHEN doc_id % 6 = 0 THEN ' zzqx9 vvkk7 zzqx9' ELSE '' END
        |         ), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
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
        |)
        |SELECT d.doc_id, coalesce(n_trans, 0) AS n_trans,
        |       CAST(coalesce(sum_prob_e12, 0) AS BIGINT) AS sum_prob_e12,
        |       coalesce(n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_lm_mkn" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
        |), trit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM corpus)
        |), tri AS (
        |  SELECT w1, w2, w3, count(*) AS ct FROM trit GROUP BY 1, 2, 3
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
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(
        |           text || CASE WHEN doc_id % 6 = 0 THEN ' zzqx9 vvkk7 zzqx9' ELSE '' END
        |         ), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
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
        |)
        |SELECT d.doc_id, coalesce(n_trans, 0) AS n_trans,
        |       CAST(coalesce(sum_prob_e12, 0) AS BIGINT) AS sum_prob_e12,
        |       coalesce(n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_lm_buckets" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), stats AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab FROM uni
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
        |), sdoc AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM sdoc)
        |), j AS (
        |  SELECT st.doc_id,
        |         0.5 * coalesce(CAST(bi.cb AS DOUBLE) / CAST(up.c AS DOUBLE), 0.0)
        |           + 0.5 * ((coalesce(CAST(uc.c AS DOUBLE), 0.0) + 1.0)
        |                    / (CAST(stats.n_tokens AS DOUBLE) + 1.0 * CAST(stats.vocab AS DOUBLE))) AS p
        |  FROM st
        |  LEFT JOIN bi ON bi.w1 = st.w1 AND bi.w2 = st.w2
        |  LEFT JOIN uni up ON up.w = st.w1
        |  LEFT JOIN uni uc ON uc.w = st.w2
        |  CROSS JOIN stats
        |), agg AS (
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
        |FROM m, thr""".stripMargin,
    "q_lm_filter" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
        |), stats AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab FROM uni
        |), bit AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM corpus)
        |), bi AS (
        |  SELECT w1, w2, count(*) AS cb FROM bit GROUP BY 1, 2
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
        |         0.5 * coalesce(CAST(bi.cb AS DOUBLE) / CAST(up.c AS DOUBLE), 0.0)
        |           + 0.5 * ((coalesce(CAST(uc.c AS DOUBLE), 0.0) + 1.0)
        |                    / (CAST(stats.n_tokens AS DOUBLE) + 1.0 * CAST(stats.vocab AS DOUBLE))) AS p
        |  FROM st
        |  LEFT JOIN bi ON bi.w1 = st.w1 AND bi.w2 = st.w2
        |  LEFT JOIN uni up ON up.w = st.w1
        |  LEFT JOIN uni uc ON uc.w = st.w2
        |  CROSS JOIN stats
        |), agg AS (
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
        |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin,
    "q_collocations" ->
      """WITH corpus AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), uw AS (
        |  SELECT unnest(ws) AS w FROM corpus
        |), uni AS (
        |  SELECT w, count(*) AS c FROM uw GROUP BY 1
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
        |CROSS JOIN stats""".stripMargin,
    "q_dsir_weights" ->
      """WITH wdoc AS (
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
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_bm25" ->
      """WITH base AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), b2 AS (
        |  SELECT id, toks, len(toks)::DOUBLE AS dl FROM base
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sumdl,
        |         sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN list_contains(toks, 'vector') THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN list_contains(toks, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM b2
        |), tf AS (
        |  SELECT id, dl,
        |         len(list_filter(toks, x -> x = 'join'))::DOUBLE AS tf0,
        |         len(list_filter(toks, x -> x = 'vector'))::DOUBLE AS tf1,
        |         len(list_filter(toks, x -> x = 'stream'))::DOUBLE AS tf2
        |  FROM b2
        |)
        |SELECT id,
        |       round(
        |         ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |       + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS bm25
        |FROM tf, stats""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+7], ' ')
        |                        for i in range(1, greatest(len(w) - 8, 0) + 2)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS ng FROM sh WHERE doc_id % 25 = 0
        |), doc_ng AS (
        |  SELECT doc_id, unnest(s) AS ng FROM sh
        |)
        |SELECT d.doc_id AS id, count(*) AS shared_ngrams
        |FROM doc_ng d JOIN bench USING (ng)
        |GROUP BY 1 HAVING count(*) >= 1""".stripMargin,
    "q_decontaminate_spans" ->
      """WITH d AS (
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
        |), p AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM w
        |), cov AS (
        |  SELECT DISTINCT p.doc_id, p.j
        |  FROM p JOIN f ON f.doc_id = p.doc_id AND p.j >= f.i AND p.j < f.i + 20
        |), rebuilt AS (
        |  SELECT p.doc_id,
        |         string_agg(CASE WHEN cov.j IS NULL THEN p.ws[p.j] END, ' ' ORDER BY p.j) AS text,
        |         count(*) AS n_words,
        |         count(cov.j) AS n_removed
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.j = cov.j
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text,
        |       coalesce(r.n_words, 0) AS n_words,
        |       coalesce(r.n_removed, 0) AS n_removed
        |FROM d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id""".stripMargin,
    "q_decontaminate_attr" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+7], ' ')
        |                        for i in range(1, greatest(len(w) - 8, 0) + 2)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |), bench AS (
        |  SELECT DISTINCT doc_id AS bid, unnest(s) AS ng FROM sh WHERE doc_id % 25 = 0
        |), doc_ng AS (
        |  SELECT doc_id, unnest(s) AS ng FROM sh
        |), pairs AS (
        |  SELECT d.doc_id AS id, b.bid, count(*) AS c
        |  FROM doc_ng d JOIN bench b USING (ng)
        |  GROUP BY 1, 2 HAVING count(*) >= 1
        |)
        |SELECT id, bid AS bench_id, c AS shared_ngrams FROM pairs
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, bid) = 1""".stripMargin,
    "q_badwords" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text),
        |         '(?:\bslow\b|\bhash\s+value\b|\bbroken\s+pipe\b)')) AS n_blocklist_hits,
        |       len(regexp_extract_all(lower(text),
        |         '(?:\bslow\b|\bhash\s+value\b|\bbroken\s+pipe\b)')) > 0 AS blocked
        |FROM documents""".stripMargin,
    "q_pipeline_config" ->
      """WITH gated AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 40
        |    AND len(regexp_extract_all(lower(text), '(?:\bslow\b)')) = 0
        |), kept AS (
        |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY lower(text)
        |)
        |SELECT g.doc_id, g.text FROM gated g JOIN kept USING (doc_id)""".stripMargin,
    "q_redact_ac" ->
      """SELECT doc_id, replace(replace(text, 'slow', '#'), 'hash value', '#') AS red
        |FROM documents""".stripMargin,
    "q_funnel" ->
      """WITH d AS (
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
        |FROM d""".stripMargin,
    "q_blocklist_ac" ->
      """WITH norm AS (
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
        |FROM hits GROUP BY doc_id""".stripMargin,
    "q_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+7], ' ')
        |                        for i in range(1, greatest(len(w) - 8, 0) + 2)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS ng FROM sh WHERE doc_id % 25 = 0
        |), doc_ng AS (
        |  SELECT doc_id, unnest(s) AS ng FROM sh
        |)
        |SELECT d.doc_id AS id, count(*) AS shared_ngrams
        |FROM doc_ng d JOIN bench USING (ng)
        |GROUP BY 1 HAVING count(*) >= 1""".stripMargin,
    "q_chunk_docs" ->
      """WITH w AS (
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
        |FROM c""".stripMargin,
    "q_corpus_report" ->
      """WITH m AS (
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
        |FROM m GROUP BY 1""".stripMargin,
    "q_temperature_sample" ->
      """WITH base AS (
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
        |       / 4294967296.0) < fr.frac""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, array_to_string(w[1:len(w)-2], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 10 = 0
        |), sh AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM corpus)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM corpus
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
        |)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    // skew oracle mirrors the exact-collapse semantics: reps = min doc_id per
    // distinct text, then near-dup losers among reps only (cheap all-pairs
    // over ~500 distinct texts, never the 10k copies)
    "q_dedup_skew" ->
      """WITH corpus AS (
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
        |SELECT doc_id FROM reps WHERE doc_id NOT IN (SELECT d FROM losers)""".stripMargin,
    "q_bloom" ->
      // the no-false-negative contract pins the whole result: one row,
      // all 60k probes positive
      """SELECT true AS hit, count(*) AS cnt FROM lineitem""",
    "q_multimodal_features" ->
      // per-row outcome fully determined: real image/audio decodes must
      // succeed, video must honestly fail
      """SELECT doc_id AS media_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       doc_id % 3 <> 2 AS decodedOk,
        |       CAST(16 AS INT) AS feat_dim
        |FROM documents""".stripMargin,
    "q_video_meta" ->
      // every video row's parse result is determined by the fixed
      // synthesis parameters — the whole box walk is pinned field by field
      """SELECT doc_id AS media_id, true AS parsed_ok, 'isom' AS brand,
        |       CAST(2000 AS BIGINT) AS duration_ms,
        |       CAST(64 AS INT) AS width, CAST(48 AS INT) AS height,
        |       'avc1' AS video_codec, CAST(2 AS BIGINT) AS n_keyframes,
        |       CAST(32 AS BIGINT) AS keyframe_bytes
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    // q_video_frames: the MJPEG pixel decode is fully determined — the
    // planted gray (a multiple of 4 in 96..156) is pure-DC luminance
    // that round-trips exactly at quality 1.0, so the oracle recomputes
    // every decoded mean from the same md5 hex char the synthesizer used
    "q_video_frames" ->
      """WITH f(frame_idx) AS (VALUES (1), (2), (3)),
        |v AS (SELECT doc_id, frame_idx,
        |             CAST(96 + CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#f' || CAST(frame_idx - 1 AS VARCHAR)), 2, 1)) AS INT) * 4 AS DOUBLE) AS gray
        |      FROM documents CROSS JOIN f WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |       true AS decoded_ok,
        |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |       gray AS mean_r, gray AS mean_g, gray AS mean_b
        |FROM v""".stripMargin,
    "q_dedup_simhash" -> SimhashPairsSql,
    "q_dedup_eval" -> DedupEvalSql,
    "q_dedup_preferring" -> PreferringSql,
    "q_dedup_keep_largest_cc" -> KeepLargestCcSql,
    "q_text_fingerprint" ->
      // winnowing replayed exactly: FNV-1a 64-bit over each lowercased
      // 9-gram (wrap-around multiply = HUGEINT mod 2^64; the xor touches
      // only the low 16 bits for BMP chars), SIGNED window-of-4 minima,
      // distinct — unnested to one row per selected hash
      """WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
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
        |SELECT doc_id, unnest(list_distinct(mn)) AS fp FROM mins""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |       CAST(ceil(length(text) / 4.0) AS INT) AS n_bpe,
        |       len(regexp_extract_all(text,
        |         '(''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+)')) AS n_bpe_regex
        |FROM documents""".stripMargin,
    "q_dedup_lines" ->
      """WITH d AS (
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
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin,
    "q_dedup_sentences" ->
      """WITH d AS (
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
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin,
    "q_dedup_prioritized" ->
      """WITH u AS (
        |  SELECT doc_id, text, 1 AS prio FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000, text, 2 FROM documents WHERE doc_id % 3 = 0
        |), k AS (
        |  SELECT text, min(struct_pack(p := -prio, i := doc_id)) AS keep
        |  FROM u GROUP BY 1
        |)
        |SELECT u.doc_id, u.prio
        |FROM u JOIN k ON u.text = k.text
        |WHERE -u.prio = k.keep.p AND u.doc_id = k.keep.i""".stripMargin,
    "q_corpus_diff" ->
      """WITH v2 AS (
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
        |FROM documents a FULL OUTER JOIN v2 b USING (doc_id)""".stripMargin,
    "q_dedup_withindoc" ->
      // empty lines are STRUCTURE (paragraph boundaries), kept verbatim;
      // only non-empty lines census to their first occurrence
      """WITH d AS (
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
        |FROM keep GROUP BY doc_id""".stripMargin,
    "q_dedup_paragraphs" ->
      """WITH d AS (
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
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin,
    "q_dedup_spans" ->
      """WITH d AS (
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
        |), p AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM w
        |), cov AS (
        |  SELECT DISTINCT p.doc_id, p.j
        |  FROM p JOIN f ON f.doc_id = p.doc_id AND p.j >= f.i AND p.j < f.i + 20
        |), rebuilt AS (
        |  SELECT p.doc_id,
        |         string_agg(CASE WHEN cov.j IS NULL THEN p.ws[p.j] END, ' ' ORDER BY p.j) AS text,
        |         count(*) AS n_words,
        |         count(cov.j) AS n_removed
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.j = cov.j
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text,
        |       coalesce(r.n_words, 0) AS n_words,
        |       coalesce(r.n_removed, 0) AS n_removed
        |FROM d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id""".stripMargin,
    "q_span_lengths" ->
      // duplicated windows by STRING, (doc_id, pos) first-occurrence
      // ranking, then gaps-and-islands over flagged positions: a window at
      // p covers [p, p+20), adjacent-or-overlapping islands merge, length
      // = max(end) - min(start)
      """WITH d AS (
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
        |FROM sp GROUP BY 1, 2""".stripMargin,
    "q_pii" ->
      """WITH p AS (
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
        |FROM m""".stripMargin,
    "q_url_parse" ->
      """WITH u AS (
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
        |FROM u""".stripMargin,
    "q_shards" ->
      """SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // q_wds_roundtrip's expected values come straight from documents: the
    // Spark side computes them from the RE-INGESTED tar shards, so a
    // byte-level round-trip fault surfaces as a hash mismatch here
    "q_wds_roundtrip" ->
      """SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens,
        |       CAST(sum(CAST(concat('0x', substring(md5(printf('%020d', doc_id) || text), 1, 8)) AS BIGINT)) AS BIGINT) AS member_hash
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // q_wds_epoch: the oracle REPLAYS the epoch-salted pseudo-shuffle —
    // row_number over md5(id || '#ord#e<epoch>') must equal the parse
    // position the tar ingest reports, so membership AND order are pinned
    "q_wds_epoch" ->
      """WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2),
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
        |GROUP BY 1, 2""".stripMargin,
    // q_wds_epoch_sidecar: the oracle replays the epoch-1 salted order
    // (row_number over md5(id || '#ord#e1')) exactly as q_wds_epoch's
    // epoch-1 leg — the sidecar-applied pos must reproduce it with zero
    // tar bytes rewritten
    "q_wds_epoch_sidecar" ->
      """WITH b AS (
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
        |GROUP BY 1""".stripMargin,
    // q_wds_manifest: verify="manifest" returns the commit-site
    // accumulator manifest — expected (shard, docs, tokens) recomputed
    // straight from documents, same recipe as q_shards
    "q_wds_manifest" ->
      """SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // q_wds_gzip: identical expected values to q_wds_roundtrip — the
    // compression layer must be invisible to the round-tripped content
    "q_wds_gzip" ->
      """SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens,
        |       CAST(sum(CAST(concat('0x', substring(md5(printf('%020d', doc_id) || text), 1, 8)) AS BIGINT)) AS BIGINT) AS member_hash
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // q_wds_multimodal: the binary part is unhex(md5(id)), so its hex
    // dump equals upper(md5(id)) and DuckDB can recompute the per-shard
    // payload hash without blob support
    "q_wds_multimodal" ->
      """SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |       count(*) AS docs,
        |       CAST(sum(CAST(concat('0x', substring(md5(upper(md5(CAST(doc_id AS VARCHAR)))), 1, 8)) AS BIGINT)) AS BIGINT) AS bin_hash,
        |       CAST(sum(CAST(concat('0x', substring(md5(printf('%020d', doc_id) || text), 1, 8)) AS BIGINT)) AS BIGINT) AS member_hash
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // q_mixture: the oracle replays the epoch-copy + fractional-copy
    // keep rule; 0.5 and 0.375 are exact binary fractions so the
    // threshold compare agrees bit-for-bit across engines. mix_id is
    // the FULL first 64 bits of the md5, signed two's-complement —
    // DuckDB can't parse 16 hex chars straight to BIGINT, so the oracle
    // assembles it from two 32-bit halves in HUGEINT and wraps
    "q_mixture" ->
      """WITH src AS (
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
        |GROUP BY 1, 2""".stripMargin,
    "q_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem""".stripMargin,
    "q_domain_blocklist" ->
      """SELECT doc_id,
        |       'https://' || CASE WHEN doc_id % 4 = 0 THEN 'ads.Tracker.com'
        |                          WHEN doc_id % 4 = 1 THEN 'tracker.com'
        |                          WHEN doc_id % 4 = 2 THEN 'example.com'
        |                          ELSE 'sub.example.com' END
        |         || '/p' || doc_id AS url
        |FROM documents
        |WHERE doc_id % 4 NOT IN (0, 1)""".stripMargin,
    "q_url_canonicalize" ->
      // the EXPECTED canonical form computed directly: scheme/host lowered,
      // :443 gone, tracking params and fragment gone, kept param preserved,
      // trailing slash dropped
      """SELECT doc_id,
        |       'https://www.example' || (doc_id % 5) || '.com/Docs/Page' || doc_id
        |         || '?id=' || doc_id AS canon_url
        |FROM documents""".stripMargin,
    "q_fix_encoding" ->
      // the EXPECTED repaired text computed directly from the text column
      """SELECT doc_id,
        |       'Don''t "quote" café ''ok'' - fin... ' || text AS fixed
        |FROM documents""".stripMargin,
    "q_unicode_normalize" ->
      // nfc_normalize of the decomposed plant == Spark's NFC output
      """SELECT doc_id,
        |       nfc_normalize('cafe' || chr(769) || ' nai' || chr(776) || 've ' || text) AS norm
        |FROM documents""".stripMargin,
    "q_text_gopher" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS word_count,
        |         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS mean_word_len,
        |         CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS hash_ratio,
        |         CAST(len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS ellipsis_ratio,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS alpha_word_ratio,
        |         len(regexp_extract_all(lower(text), '\b(the|be|to|of|and|that|have|with)\b')) AS stopword_hits
        |  FROM documents
        |)
        |SELECT doc_id, word_count, mean_word_len,
        |       hash_ratio + ellipsis_ratio AS symbol_ratio,
        |       alpha_word_ratio, stopword_hits,
        |       (word_count >= 20 AND word_count <= 100000
        |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |        AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        |        AND alpha_word_ratio >= 0.8
        |        AND stopword_hits >= 2) AS pass
        |FROM m""".stripMargin,
    "q_code_language" ->
      """SELECT doc_id,
        |       CASE doc_id % 6 WHEN 0 THEN 'python' WHEN 1 THEN 'scala'
        |            WHEN 2 THEN 'javascript' WHEN 3 THEN 'c'
        |            WHEN 4 THEN 'python' ELSE 'unknown' END AS language
        |FROM documents""".stripMargin,
    "q_license_detect" ->
      """SELECT doc_id,
        |       CASE doc_id % 7 WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
        |            WHEN 2 THEN 'BSD-3-Clause' WHEN 3 THEN 'GPL-3.0-only'
        |            WHEN 4 THEN 'GPL-3.0-only' WHEN 5 THEN 'LGPL-3.0-only'
        |            ELSE 'none' END AS license,
        |       (doc_id % 7) IN (0, 1, 2) AS permissive
        |FROM documents""".stripMargin,
    // the EXPECTED stripped source, built from the same sanitized parts
    // the engine's fixture used — never by re-parsing comments in SQL
    "q_strip_comments" ->
      """WITH d AS (
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
        |FROM d""".stripMargin,
    "q_code_stats" ->
      """WITH d AS (
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
        |FROM l""".stripMargin,
    "q_sft_validate" ->
      """SELECT doc_id,
        |       doc_id % 5 = 0 AS valid,
        |       CASE doc_id % 5 WHEN 1 THEN 6 WHEN 3 THEN 4 ELSE 5 END AS n_turns,
        |       CASE doc_id % 5 WHEN 0 THEN 'ok' WHEN 1 THEN 'empty_content'
        |            WHEN 2 THEN 'order' WHEN 3 THEN 'order'
        |            ELSE 'bad_role' END AS reason
        |FROM documents""".stripMargin,
    "q_sft_flatten" ->
      """WITH w AS (
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
        |FROM p""".stripMargin,
    // offsets: per message the template adds 2+len(role)+2 before the
    // content and 8 after ('<|end|>' + newline); the system turn spans
    // [10,26), so turn 1 starts at 42 and the arithmetic below follows
    "q_sft_spans" ->
      """WITH w AS (
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
        |FROM p""".stripMargin,
    "q_decontaminate_semantic" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |                   AND embedding[1] >= embedding[4] THEN 0
        |              WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |              WHEN embedding[3] >= embedding[4] THEN 2
        |              ELSE 3 END AS cid
        |  FROM embeddings
        |), b AS (
        |  SELECT vec_id + 10000 AS vec_id, embedding,
        |         CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |                   AND embedding[1] >= embedding[4] THEN 0
        |              WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |              WHEN embedding[3] >= embedding[4] THEN 2
        |              ELSE 3 END AS cid
        |  FROM embeddings WHERE vec_id % 7 = 0
        |), leaks AS (
        |  SELECT DISTINCT l.vec_id
        |  FROM a l JOIN b r ON l.cid = r.cid
        |  WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |                               CAST(r.embedding AS DOUBLE[])) >= 0.999
        |)
        |SELECT vec_id, cid FROM a ANTI JOIN leaks USING (vec_id)""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |       (CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |       + (1.0 - (CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE))) AS q
        |FROM documents""".stripMargin,
    "q_top_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+2], ' ') for i in range(1, greatest(len(ws) - 2, 1) + 1)])) AS ngram
        |  FROM w
        |)
        |SELECT ngram, COUNT(*) AS doc_freq
        |FROM sh GROUP BY ngram
        |ORDER BY doc_freq DESC, ngram ASC
        |LIMIT 100""".stripMargin,
    "q_tfidf" ->
      """WITH w AS (
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
        |QUALIFY rank <= 5""".stripMargin,
    "q_ingest_jsonl" ->
      """SELECT count(*) + 2 AS total_lines, count(*) AS ok_lines,
        |       CAST(2 AS BIGINT) AS corrupt_lines
        |FROM documents""".stripMargin,
    "q_drift_categorical" ->
      """WITH o AS (SELECT lang AS c FROM documents),
        |n AS (
        |  SELECT lang AS c FROM documents WHERE NOT (lang = 'zh' AND doc_id % 2 = 0)
        |  UNION ALL SELECT lang FROM documents WHERE lang = 'es'
        |),
        |ob AS (SELECT COALESCE(c, '<null>') AS b, CAST(count(*) AS BIGINT) AS oc FROM o GROUP BY 1),
        |nb AS (SELECT COALESCE(c, '<null>') AS b, CAST(count(*) AS BIGINT) AS nc FROM n GROUP BY 1),
        |j AS (SELECT COALESCE(ob.oc, 0) AS oc, COALESCE(nb.nc, 0) AS nc
        |      FROM ob FULL OUTER JOIN nb ON ob.b = nb.b),
        |t AS (SELECT CAST(sum(oc) AS BIGINT) AS tn, CAST(sum(nc) AS BIGINT) AS tm,
        |             CAST(count(*) AS BIGINT) AS tb FROM j)
        |SELECT CAST(sum(CAST(floor(
        |         (CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE)
        |          - CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE))
        |         * ln((CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE))
        |              / (CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE)))
        |         * 1e9) AS BIGINT)) AS BIGINT) AS psi_e9,
        |       tb AS n_categories, tn AS old_total, tm AS new_total
        |FROM j, t GROUP BY tb, tn, tm""".stripMargin,
    "q_release_report" ->
      """WITH v2 AS (
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
        |ob AS (SELECT CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS oc
        |       FROM o GROUP BY 1),
        |nb AS (SELECT CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS nc
        |       FROM n GROUP BY 1),
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
        |SELECT counts.*, psi.* FROM counts, psi""".stripMargin,
    "q_drift" ->
      """WITH o AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents),
        |n AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT CAST(n_chars * 2 AS DOUBLE) FROM documents WHERE doc_id % 7 = 0
        |),
        |ob AS (SELECT CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS oc
        |       FROM o GROUP BY 1),
        |nb AS (SELECT CASE WHEN v IS NULL OR v <= 0 THEN -2147483648
        |              ELSE CAST(floor(log10(v) * 20 + 1e-9) AS INT) END AS b,
        |              CAST(count(*) AS BIGINT) AS nc
        |       FROM n GROUP BY 1),
        |j AS (SELECT COALESCE(ob.oc, 0) AS oc, COALESCE(nb.nc, 0) AS nc
        |      FROM ob FULL OUTER JOIN nb ON ob.b = nb.b),
        |t AS (SELECT CAST(sum(oc) AS BIGINT) AS tn, CAST(sum(nc) AS BIGINT) AS tm,
        |             CAST(count(*) AS BIGINT) AS tb FROM j)
        |SELECT CAST(sum(CAST(floor(
        |         (CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE)
        |          - CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE))
        |         * ln((CAST(oc + 1 AS DOUBLE) / CAST(tn + tb AS DOUBLE))
        |              / (CAST(nc + 1 AS DOUBLE) / CAST(tm + tb AS DOUBLE)))
        |         * 1e9) AS BIGINT)) AS BIGINT) AS psi_e9,
        |       tb AS n_buckets, tn AS old_total, tm AS new_total
        |FROM j, t GROUP BY tb, tn, tm""".stripMargin,
    "q_drift_sketch" ->
      """WITH o AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents),
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
        |FROM j JOIN t ON j.lang = t.lang GROUP BY j.lang""".stripMargin,
    "q_pii_iban" ->
      """WITH t AS (
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
        |FROM t""".stripMargin,
    "q_pii_cards" ->
      """WITH t AS (
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
        |FROM t""".stripMargin,
    "q_pseudonymize" ->
      """SELECT doc_id,
        |       sha256(concat('k2024:user', CAST(doc_id % 37 AS VARCHAR))) AS user_pseudo
        |FROM documents""".stripMargin,
    "q_ingest_csv" ->
      """SELECT count(*) + 2 AS total_lines, count(*) AS ok_lines,
        |       CAST(2 AS BIGINT) AS corrupt_lines
        |FROM documents""".stripMargin,
    "q_ingest_clf" ->
      """SELECT CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status,
        |       count(*) AS n_requests,
        |       CAST(sum(greatest(0, CAST(floor(value * 100) AS BIGINT))) AS BIGINT)
        |         AS total_bytes,
        |       CAST(count(CASE WHEN event_id % 5 = 0 THEN 1 END) AS BIGINT) AS n_combined,
        |       min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts,
        |       max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts
        |FROM events GROUP BY 1""".stripMargin,
    "q_ingest_fixedwidth" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents,
        |       min(CAST(o_orderdate AS DATE)) AS min_date,
        |       max(CAST(o_orderdate AS DATE)) AS max_date
        |FROM orders GROUP BY 1""".stripMargin,
    // the healthy shards together hold exactly the documents table; the
    // corrupt/drifted plants are gated by the require inside the query
    "q_ingest_shards" ->
      """SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang""",
    // the sorted prefix-sum water-fill replayed with window functions:
    // same cap/r/prefix/suffix/candidate arithmetic, same -1 sentinel
    "q_mixing_schedule" ->
      """WITH base AS (
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
        |FROM alloc""".stripMargin,
    // exact integer-ratio kappa: same n/n^2 numerators, one double
    // division under the floor on each side
    "q_gate_agreement" ->
      """WITH g AS (
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
        |FROM c""".stripMargin,
    "q_ingest_warc" ->
      // every parsed column rebuilt from the documents table (even ids were
      // exported as HTTP responses wrapping the text in the html shell, odd
      // ids as WET conversion records) plus the one planted resync record;
      // the three malformed records must NOT appear
      """SELECT concat('https://example.com/doc/', doc_id) AS url,
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
        |       9, 1704067200, md5('resync ok')""".stripMargin,
    "q_quantile_gate" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents
        |), thr AS (
        |  -- 1.0 - 0.7 (not literal 0.3): Spark computes the fraction as
        |  -- 1.0 - keepFraction, whose double (0.30000000000000004) differs
        |  -- from 0.3 by one ulp — both engines must share the dust or a
        |  -- threshold landing exactly on an integer count hash-mismatches
        |  SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 1.0 - 0.7) AS v FROM t
        |)
        |SELECT doc_id, n_tokens FROM t, thr WHERE CAST(n_tokens AS DOUBLE) >= thr.v""".stripMargin,
    "q_percentiles" ->
      """SELECT source AS domain, count(*) AS n_docs,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.1) AS p10,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.5) AS p50,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.9) AS p90,
        |       quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.99) AS p99
        |FROM documents GROUP BY 1""".stripMargin,
    "q_quality_gate" ->
      """WITH p AS (
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
        |  AND pii_hits = 0""".stripMargin,
    // replay of the composed pipeline: the gate is q_quality_gate's gopher
    // arithmetic (repetition/PII caps are pass-through at these settings),
    // the sketch estimate is exact count(DISTINCT) in the small-set regime,
    // the pruned read is the plain n_chars range (pruning is exact)
    "q_streaming_e2e" ->
      """WITH m AS (
        |  SELECT doc_id, lang, n_chars,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS word_count,
        |         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS mean_word_len,
        |         CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS hash_ratio,
        |         CAST(len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS ellipsis_ratio,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |           / len(regexp_split_to_array(trim(text), '\s+')) AS alpha_word_ratio,
        |         len(regexp_extract_all(lower(text), '\b(the|be|to|of|and|that|have|with)\b')) AS stopword_hits
        |  FROM documents
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
        |HAVING count(*) FILTER (WHERE n_chars BETWEEN 150 AND 400) > 0""".stripMargin,
    "q_text_repetition" ->
      """SELECT doc_id,
        |       1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE)
        |             / CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS rep
        |FROM documents""".stripMargin,
    "q_text_clean" ->
      """SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         '  ' || chr(7) || 'head' || chr(9) || chr(9) || text
        |           || '   ' || chr(10) || 'line  ' || repeat(chr(10), 4) || 'tail  ',
        |         '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |         '[ \t]+', ' ', 'g'),
        |         ' *\n *', chr(10), 'g'),
        |         '\n{3,}', chr(10) || chr(10), 'g'),
        |         '^\s+|\s+$', '', 'g') AS clean
        |FROM documents""".stripMargin,
    "q_html_extract" ->
      // the EXPECTED extraction, computed from the raw text column: title and
      // h1 blocks, the document body, the entity-decoded paragraph; the
      // all-link nav/footer blocks are dropped by the 0.5 link-density cut
      """SELECT doc_id,
        |       'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10)
        |         || text || chr(10) || 'Tom & Jerry <3 ABC' AS extracted
        |FROM documents""".stripMargin,
    "q_pipeline_batch" -> PipelineFunnelOracleSql,
    // q_pipeline_mixture replays the CONFIG-declared pretraining mix:
    // the token gate plus the mix stage's gained-mass accounting, with
    // the fractional copy's content-addressed keep rule recomputed from
    // the same md5 the engine hashes (0.5/0.375 are exact binary
    // fractions, so the threshold compare agrees bit-for-bit)
    "q_pipeline_mixture" ->
      """WITH d AS (
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
        |FROM sagg, magg""".stripMargin,
    // q_pipeline_yaml replays the CONFIG execution of the same chain —
    // identical funnel contract, identical oracle
    "q_pipeline_yaml" -> PipelineFunnelOracleSql,
    // q_pipeline_redact replays the chain under the redact-and-keep PII
    // policy: rows survive the pii stage with scrubbed text; the staged
    // funnel charges the scrubbed token mass to pii and re-weights the
    // decontamination stage with the redacted counts
    "q_pipeline_redact" -> PipelineRedactOracleSql,
    "q_curate_crawl" ->
      // each front-door step's expected output computed directly: extracted
      // text (h1 + repaired paragraph), canonical URL, then URL keep-first
      // dedup and the token/language gates
      """WITH front AS (
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
        |           WHEN fr > 0 THEN 'fr' ELSE 'und' END = 'en'""".stripMargin,
    "q_text_repsignals" ->
      """WITH t AS (
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
        |FROM lm LEFT JOIN tg ON lm.doc_id = tg.doc_id""".stripMargin,
    "q_text_langid" ->
      """WITH c AS (
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
        |FROM scr""".stripMargin,
    "q_agg_expr" ->
      """SELECT CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_quantity > 25) AS BIGINT) AS qty_sum,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_quantity > 25) AS DOUBLE)
        |         / count(*) FILTER (WHERE l_quantity > 25) AS mean_qty
        |FROM lineitem""".stripMargin,
    "q_agg_map_with" ->
      """SELECT l_returnflag AS flag, count(*) AS flag_cnt
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_as_uuid" ->
      """SELECT l_orderkey, l_linenumber,
        |       lower(concat(substr(h,1,8),'-',substr(h,9,4),'-',substr(h,13,4),'-',substr(l,1,4),'-',substr(l,5,12))) AS uuid
        |FROM (SELECT l_orderkey, l_linenumber,
        |             lpad(hex(l_partkey),16,'0') AS h, lpad(hex(l_orderkey),16,'0') AS l
        |      FROM lineitem) t""".stripMargin)
}
