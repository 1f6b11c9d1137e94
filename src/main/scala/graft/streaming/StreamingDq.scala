package graft.streaming

import graft.rules.{RuleRunner, RuleSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Structured-Streaming DQ (reference: docs — Quality rules run identically in
 * streaming apps since rule evaluation is a stateless projection).
 *
 * addDataQuality composes directly onto a streaming DataFrame; the windowed
 * aggregation below adds watermarked pass/fail-rate monitoring — the
 * standard "DQ dashboard" stream shape.
 */
object StreamingDq {

  /** Stateless: works identically on batch and streaming frames. */
  def withDataQuality(stream: DataFrame, suite: RuleSuite, name: String = "DataQuality"): DataFrame =
    RuleRunner.addDataQuality(stream, suite, name)

  /** Windowed PER-RULE health on a live stream — [[RuleRunner.ruleStats]]'
   * streaming twin: the same outcome counts and exact-ppm pass rate (same
   * denominator: disabled evaluations don't count against it) per (window,
   * set, rule), one append row each per watermark-closed window. A rule
   * whose live pass rate dives tells the operator WHICH gate the intake
   * is failing while it happens, not at the nightly batch report. */
  def windowedRuleStats(
      stream: DataFrame, suite: RuleSuite,
      tsCol: String, windowDuration: String, watermark: String): DataFrame = {
    val counts = RuleRunner.outcomeCounts(col("graft_res"))
    RuleRunner.perRule(stream.withWatermark(tsCol, watermark), suite)(_ => Seq(col(tsCol)))
      .groupBy(window(col(tsCol), windowDuration),
        col("graft_set").as("setId"), col("graft_rule").as("ruleId"))
      .agg(counts.head, counts.tail: _*)
      .select(Seq(col("window.start").as("window_start"), col("setId"), col("ruleId")) ++
        RuleRunner.outcomeColumns: _*)
  }

  /**
   * Streaming exact dedup on a content fingerprint: keeps the FIRST arrival
   * of each distinct content, with state bounded by the event-time watermark
   * (dropDuplicatesWithinWatermark — late duplicates beyond the watermark
   * age out of the state store instead of growing it forever, the only
   * viable shape for an unbounded 100 TB/day stream). The shuffle carries the
   * 128-bit fingerprint, never the content.
   */
  def streamingExactDedup(
      stream: DataFrame, tsCol: String, watermark: String,
      contentCols: org.apache.spark.sql.Column*): DataFrame =
    stream
      .withColumn("graft_fp", graft.pipeline.Dedup.fingerprint(contentCols))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("graft_fp")
      .drop("graft_fp")

  /**
   * Streaming gap-based sessionization — the streaming counterpart of
   * `graft.operators.Sessionize.sessionStats`, on Spark's native
   * `session_window`: a key's session stays open while events keep arriving
   * within `gap` and closes once the watermark passes its end, so state is
   * bounded and each finalized session emits exactly one append-mode row
   * (key, session_start, session_end, events, duration_secs).
   */
  def streamingSessionStats(
      stream: DataFrame, keyCol: String, tsCol: String,
      gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("events"),
        (unix_timestamp(col("session_window.end")) -
          unix_timestamp(col("session_window.start"))).as("duration_secs"))

  /**
   * Streaming corpus report — the live-ingest counterpart of
   * `graft.pipeline.Curation.corpusReport`: the same codegen'd per-row
   * signals (token count, PII flag, quality mass, Gopher gate) aggregated
   * per (window, domain) under a watermark. Signals are stateless, the
   * aggregation is the standard windowed-agg state shape — one append-mode
   * row per closed (window, domain).
   */
  def streamingCorpusReport(
      stream: DataFrame, tsCol: String, textCol: String, domainCol: String,
      window: String, slide: String, watermark: String,
      gopherMinWords: Int = 50): DataFrame = {
    import graft.pipeline.{Pii, Text}
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(domainCol).as("domain"),
        Text.tokenCount(col(textCol)).as("graft_tok"),
        Pii.piiSignals(col(textCol)).getField("has_pii").as("graft_pii"),
        Text.qualityScore(col(textCol)).as("graft_q"),
        Text.gopherQuality(col(textCol), gopherMinWords).getField("pass").as("graft_g"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide), col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("graft_tok").cast("long")).as("n_tokens"),
        count(when(col("graft_pii"), 1)).as("pii_docs"),
        count(when(col("graft_g"), 1)).as("gopher_pass_docs"),
        sum(floor(col("graft_q") * lit(1e9))).as("sum_quality_e9"))
  }

  /** Watermarked per-window pass/fail counts of the suite's overall result. */
  def windowedPassRate(
      stream: DataFrame, suite: RuleSuite,
      tsCol: String, windowDuration: String, watermark: String): DataFrame =
    withDataQuality(stream, suite)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("DataQuality.overallResult") === graft.rules.RuleResults.PassedInt, 1L)
          .otherwise(0L)).as("passed"))
      .select(col("window.start").as("window_start"), col("rows"), col("passed"),
        (col("passed").cast("double") / col("rows")).as("pass_rate"))
}
