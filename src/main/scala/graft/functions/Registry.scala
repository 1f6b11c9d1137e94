package graft.functions

import graft.rules.RuleResults._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/**
 * The graft SQL function surface (reference inventory:
 * impl/RuleRegistrationFunctions.scala:54-65). Each function is a builder
 * from argument expressions to an expression tree; most compose existing
 * Catalyst operators (codegen for free), a few are small custom expressions.
 *
 * Functions are usable two ways:
 *  - `Registry.rewrite` expands them inside parsed rule texts (no session
 *    state needed — rules stay self-contained),
 *  - `Registry.registerAll(spark)` registers them in the session's
 *    FunctionRegistry for plain `spark.sql` use.
 *
 * Names are registered snake_case plus the underscore-free alias, matching
 * the reference's convention (e.g. `soft_fail` and `softfail`).
 */
object Registry {

  type Builder = Seq[Expression] => Expression

  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  private def str(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case _ => throw new IllegalArgumentException(s"$what must be a string literal, got $e")
  }

  private def litLong(e: Expression): Long = e match {
    case Literal(i: Int, IntegerType) => i.toLong
    case Literal(l: Long, LongType) => l
    case _ => throw new IllegalArgumentException(s"expected an integer literal, got $e")
  }

  // algo parameter accepted for reference-API parity; implementation is fixed
  private def requireAlgo(e: Expression): Unit = str(e, "algo")

  private def litDouble(e: Expression): Double = e match {
    case Literal(d: Double, DoubleType) => d
    case Literal(d: Decimal, _) => d.toDouble
    case Literal(i: Int, IntegerType) => i.toDouble
    case _ => throw new IllegalArgumentException(s"expected a numeric literal, got $e")
  }

  private def struct(cs: Column*): Column = org.apache.spark.sql.functions.struct(cs: _*)
  private def array(cs: Column*): Column = org.apache.spark.sql.functions.array(cs: _*)

  /** to_yaml render options: map('useFullScalarType','true') — string-literal
   * pairs readable both pre-analysis (UnresolvedFunction map) and post
   * (CreateMap). */
  private def yamlFullScalar(es: Seq[Expression]): Boolean = es.headOption.exists { e =>
    val kvs: Seq[Expression] = e match {
      case cm: org.apache.spark.sql.catalyst.expressions.CreateMap => cm.children
      case uf: UnresolvedFunction if uf.nameParts.last.equalsIgnoreCase("map") => uf.arguments
      case _ => Seq.empty
    }
    kvs.grouped(2).exists {
      case Seq(Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType),
               Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        k.toString.equalsIgnoreCase("useFullScalarType") && v.toString.equalsIgnoreCase("true")
      case _ => false
    }
  }

  /** Coerce any rule output to the result-int encoding. */
  def coerce(c: Column): Column = col(RuleResultCoerce(ex(c)))

  /** soft_fail: failed→-1.0, passed→1.0, disabled→-2.0, probability kept
   * (reference impl/SoftFailExpr.scala). */
  def softFail(c: Column): Column = {
    val r = coerce(c)
    when(r === FailedInt || r === SoftFailedInt, -1.0)
      .when(r === PassedInt, 1.0)
      .when(r === DisabledRuleInt, -2.0)
      .otherwise(r.cast(DoubleType) / PassedInt)
  }

  def packInts(id: Column, version: Column): Column =
    shiftleft(id.cast(LongType), 32)
      .bitwiseOR(version.cast(LongType).bitwiseAND(lit(0xffffffffL)))

  def idHi(l: Column): Column = shiftright(l, 32).cast(IntegerType)
  def idLo(l: Column): Column = shiftright(shiftleft(l, 32), 32).cast(IntegerType)

  def unpackCol(l: Column): Column =
    struct(idHi(l).as("id"), idLo(l).as("version"))

  def unpackIdTripleCol(t: Column): Column = struct(
    idHi(t.getField("ruleSuiteId")).as("ruleSuiteId"),
    idLo(t.getField("ruleSuiteId")).as("ruleSuiteVersion"),
    idHi(t.getField("ruleSetId")).as("ruleSetId"),
    idLo(t.getField("ruleSetId")).as("ruleSetVersion"),
    idHi(t.getField("ruleId")).as("ruleId"),
    idLo(t.getField("ruleId")).as("ruleVersion"))

  def longPair(lower: Column, higher: Column): Column =
    struct(lower.cast(LongType).as("lower"), higher.cast(LongType).as("higher"))

  /** Field-path update on nested structs — native Column.withField
   * (reference update_field: impl/util/StructFunctions.scala). */
  def updateField(structCol: Column, pairs: Seq[(String, Column)]): Column =
    pairs.foldLeft(structCol) { case (c, (path, v)) => c.withField(path, v) }

  def dropField(structCol: Column, paths: Seq[String]): Column =
    structCol.dropFields(paths: _*)

  /** The builder table: canonical snake_case name → builder. */
  val builders: Map[String, Builder] = Map[String, Builder](
    "passed" -> (_ => Literal(PassedInt, IntegerType)),
    "failed" -> (_ => Literal(FailedInt, IntegerType)),
    "soft_failed" -> (_ => Literal(SoftFailedInt, IntegerType)),
    "disabled_rule" -> (_ => Literal(DisabledRuleInt, IntegerType)),
    "probability" -> (es => ex(col(es.head).cast(DoubleType) / PassedInt)),
    "soft_fail" -> (es => ex(softFail(col(es.head)))),
    "pack_ints" -> (es => ex(packInts(col(es(0)), col(es(1))))),
    "unpack" -> (es => ex(unpackCol(col(es.head)))),
    "unpack_id_triple" -> (es => ex(unpackIdTripleCol(col(es.head)))),
    "as_uuid" -> (es => AsUuidExpr(
      ex(col(es(0)).cast(LongType)), ex(col(es(1)).cast(LongType)))),
    "long_pair" -> (es => ex(longPair(col(es(0)), col(es(1))))),
    "long_pair_from_uuid" -> (es => UuidToLongPairExpr(es.head)),
    "rng_uuid" -> (es => BytesAsUuidExpr(es.head)),
    "rule_result" -> (es =>
      ex(graft.rules.RuleRunner.ruleResult(col(es(0)), col(es(1)), col(es(2)), col(es(3))))),
    "rule_suite_result_details" -> (es => ex(graft.rules.RuleRunner.details(col(es.head)))),
    "flatten_results" -> (es => ex(graft.rules.RuleRunner.flattenResults(col(es.head)))),
    "flatten_rule_results" -> (es => ex(graft.rules.RuleEngine.flattenRuleResults(col(es.head)))),
    "flatten_folder_results" -> (es => ex(graft.rules.RuleFolder.flattenFolderResults(col(es.head)))),
    "update_field" -> (es => {
      val pairs = es.tail.grouped(2).map(p => str(p.head, "update_field path") -> col(p.last)).toSeq
      ex(updateField(col(es.head), pairs))
    }),
    "drop_field" -> (es =>
      ex(dropField(col(es.head), es.tail.zipWithIndex.map { case (p, i) => str(p, s"drop_field path $i") }))),
    "long_pair_equal" -> (es => {
      val (a, b) = (str(es(0), "prefix a"), str(es(1), "prefix b"))
      Bridge.parse(s"${a}_lower = ${b}_lower AND ${a}_higher = ${b}_higher")
    }),
    "id_equal" -> (es => {
      val (a, b) = (str(es(0), "prefix a"), str(es(1), "prefix b"))
      Bridge.parse(s"${a}_base = ${b}_base AND ${a}_i0 = ${b}_i0 AND ${a}_i1 = ${b}_i1")
    }),
    // debug passthroughs: log the expression/plan at build time, value unchanged
    "print_expr" -> (es => {
      val (msg, e) = if (es.size == 2) (str(es.head, "msg"), es.last) else ("print_expr", es.last)
      // scalastyle:off println
      println(s"[$msg] ${e.sql}")
      // scalastyle:on println
      e
    }),
    "print_code" -> (es => {
      val (msg, e) = if (es.size == 2) (str(es.head, "msg"), es.last) else ("print_code", es.last)
      println(s"[$msg] ${e.treeString}")
      e
    }),
    "strip_result_ddl" -> (es => ex(graft.rules.ExpressionRunner.stripResultDdl(col(es.head)))),
    // reference sparkless/ProcessFunctions.scala:94 + impl/util/Utils.scala:552
    // (InputWrapper): the left argument exists ONLY to force resolution of
    // processor expressions against the input row — it is NEVER evaluated
    // (a left that would throw at runtime — ANSI cast failure, failing
    // UDF — passes through untouched, exactly the reference semantics).
    // ProcessorInputWrapper's eval/codegen delegate to right alone.
    "processor_input_wrapper" -> (es => {
      require(es.size >= 2, "processor_input_wrapper needs (input, expression)")
      ProcessorInputWrapper(es.head, es.last)
    }),
    // ---- training-data pipeline functions (graft.pipeline), SQL-callable ----
    "shingles" -> (es => ex(graft.pipeline.Text.shingles(col(es.head),
      if (es.size >= 2) litLong(es(1)).toInt else 3))),
    "minhash" -> (es => graft.pipeline.MinHashExpression(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 64)),
    "simhash" -> (es => graft.pipeline.SimHashExpression(es.head)),
    "hashed_bow" -> (es => graft.pipeline.HashedBowExpression(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 256)),
    "unicode_normalize" -> (es => graft.pipeline.NormalizeUnicodeExpression(es.head,
      if (es.size >= 2) str(es(1), "form") else "NFC")),
    "winnow_fingerprint" -> (es => graft.pipeline.WinnowFingerprintExpression(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 9,
      if (es.size >= 3) litLong(es(2)).toInt else 4)),
    "token_count" -> (es => ex(graft.pipeline.Text.tokenCount(col(es.head)))),
    "token_count_cjk" -> (es => ex(graft.pipeline.Text.tokenCountCjk(col(es.head)))),
    "bpe_token_estimate" -> (es => ex(graft.pipeline.Text.bpeTokenEstimate(col(es.head)))),
    "bpe_token_count" -> (es => ex(graft.pipeline.Text.bpeTokenCount(col(es.head)))),
    "lang_id" -> (es => ex(graft.pipeline.Text.langId(col(es.head)))),
    "lang_id_full" -> (es => graft.pipeline.LangIdFullExpression(es.head)),
    "sentence_split" -> (es => ex(graft.pipeline.Text.sentences(col(es.head)))),
    "quality_score" -> (es => ex(graft.pipeline.Text.qualityScore(col(es.head)))),
    "url_host" -> (es => ex(graft.pipeline.Text.urlHost(col(es.head)))),
    "url_path" -> (es => ex(graft.pipeline.Text.urlPath(col(es.head)))),
    "url_tld" -> (es => ex(graft.pipeline.Text.urlTld(col(es.head)))),
    "registrable_domain" -> (es => ex(graft.pipeline.Text.registrableDomain(col(es.head)))),
    "gopher_quality" -> (es => ex(graft.pipeline.Text.gopherQuality(col(es.head),
      if (es.size >= 2) litLong(es(1)).toInt else 50,
      if (es.size >= 3) litLong(es(2)).toInt else 100000))),
    "repetition_ratio" -> (es => ex(graft.pipeline.Text.repetitionRatio(col(es.head)))),
    "readability" -> (es => ex(graft.pipeline.Text.readability(col(es.head)))),
    "repetition_signals" -> (es => graft.pipeline.RepetitionSignalsExpression(es.head)),
    "compression_ratio" -> (es => graft.pipeline.CompressionRatioExpression(es.head)),
    "clean_text" -> (es => ex(graft.pipeline.Text.cleanText(col(es.head)))),
    "extract_html" -> (es => graft.pipeline.HtmlExtractExpression(es.head,
      if (es.size >= 2) litDouble(es(1)) else 1.0)),
    "html_links" -> (es => graft.pipeline.HtmlLinksExpression(es.head)),
    "html_anchors" -> (es => graft.pipeline.HtmlAnchorsExpression(es.head)),
    "html_jsonld" -> (es => graft.pipeline.HtmlJsonLdExpression(es.head)),
    "html_alternates" -> (es => graft.pipeline.HtmlAlternatesExpression(es.head)),
    "html_canonical" -> (es => graft.pipeline.HtmlCanonicalExpression(es.head)),
    "html_meta" -> (es => graft.pipeline.HtmlMetaExpression(es.head)),
    "url_canonicalize" -> (es => graft.pipeline.UrlCanonicalizeExpression(es.head)),
    "fix_encoding" -> (es => graft.pipeline.FixEncodingExpression(es.head)),
    // code-corpus curation family (see pipeline/Code.scala)
    "code_language" -> (es => graft.pipeline.CodeLanguageExpression(es(0), es(1))),
    "detect_license" -> (es => graft.pipeline.DetectLicenseExpression(es.head)),
    "strip_comments" -> (es => graft.pipeline.StripCommentsExpression(es(0), es(1))),
    "code_stats" -> (es => graft.pipeline.CodeStatsExpression(es.head)),
    // SFT / conversation-data family (see pipeline/Sft.scala)
    "validate_chat" -> (es => graft.pipeline.ValidateChatExpression(es.head)),
    "flatten_chat" -> (es => graft.pipeline.FlattenChatExpression(es.head)),
    "assistant_spans" -> (es => graft.pipeline.AssistantSpansExpression(es.head)),
    "containment_in" -> (es => ex(graft.lookups.Lookups.containmentIn(
      col(es.head), str(es(1), "name"),
      if (es.size >= 3) litLong(es(2)).toInt else 5))),
    "pii_signals" -> (es => ex(graft.pipeline.Pii.piiSignals(col(es.head)))),
    "redact_pii" -> (es => ex(graft.pipeline.Pii.redactPii(col(es.head)))),
    "pii_density" -> (es => ex(graft.pipeline.Pii.piiDensity(col(es.head)))),
    "iban_count" -> (es => ex(graft.pipeline.Pii.ibanCount(col(es.head)))),
    "redact_ibans" -> (es => ex(graft.pipeline.Pii.redactIbans(col(es.head)))),
    "credit_card_count" -> (es => ex(graft.pipeline.Pii.creditCardCount(col(es.head)))),
    "redact_credit_cards" -> (es => ex(graft.pipeline.Pii.redactCreditCards(col(es.head)))),
    "pseudonymize" -> (es => ex(graft.pipeline.Pii.pseudonymize(
      col(es.head), str(es(1), "key")))),
    "ngram_jaccard" -> (es => ex(graft.pipeline.Dedup.ngramJaccard(col(es(0)), col(es(1)),
      if (es.size >= 3) litLong(es(2)).toInt else 3))),
    "cosine_similarity" -> (es => ex(graft.pipeline.Similarity.cosine(col(es(0)), col(es(1))))),
    "jaro_winkler" -> (es => JaroWinklerExpression(es(0), es(1))),
    "jaro" -> (es => JaroExpression(es(0), es(1))),
    "icws_signature" -> (es => graft.pipeline.IcwsSignatureExpression(es(0),
      if (es.size >= 2) litLong(es(1)).toInt else 64)),
    "weighted_jaccard" -> (es => graft.pipeline.WeightedJaccardExpression(es(0), es(1))),
    "shingles_multiset" -> (es => graft.pipeline.ShinglesAllExpression(es(0),
      if (es.size >= 2) litLong(es(1)).toInt else 3)),
    "confusable_skeleton" -> (es => ex(graft.pipeline.Text.confusableSkeleton(col(es.head)))),
    "dp_noise" -> (es => ex(graft.pipeline.Pii.dpNoise(col(es.head),
      if (es.size >= 2) litLong(es(1)).toInt else 1,
      if (es.size >= 3) litLong(es(2)) else 0L))),
    // media / binary-payload hashes, SQL-callable for ad-hoc dedup queries
    "image_phash" -> (es => graft.pipeline.ImagePhashExpression(es.head)),
    "audio_phash" -> (es => graft.pipeline.AudioPhashExpression(es.head)),
    "cdc_chunks" -> (es => ex(graft.pipeline.Cdc.chunksOf(col(es.head),
      if (es.size >= 2) litLong(es(1)).toInt else 256,
      if (es.size >= 3) litLong(es(2)).toInt else 10,
      if (es.size >= 4) litLong(es(3)).toInt else 8192))),
    // these are placeholders resolved by MissingAttributes.processIfAttributeMissing
    // BEFORE planning; reaching the registry means that step was skipped
    "coalesce_if_attributes_missing" -> (_ => throw new IllegalArgumentException(
      "coalesce_if_attributes_missing must be rewritten via MissingAttributes.processIfAttributeMissing before running")),
    "coalesce_if_attributes_missing_disable" -> (_ => throw new IllegalArgumentException(
      "coalesce_if_attributes_missing_disable must be rewritten via MissingAttributes.processIfAttributeMissing before running")),
    "to_yaml" -> (es => YamlEncodeExpression(es.head, yamlFullScalar(es.drop(1)))),
    "from_yaml" -> (es => YamlDecodeExpression(es(0), str(es(1), "ddl"))),
    "comparable_maps" -> (es => ComparableMapsExpression(es.head)),
    "reverse_comparable_maps" -> (es => ReverseComparableMapsExpression(es.head)),
    // lookups + blooms (see graft.lookups / graft.bloom)
    "map_lookup" -> (es => graft.lookups.MapLookupExpression(es(0), str(es(1), "map name"))),
    "map_contains" -> (es => graft.lookups.MapContainsExpression(es(0), str(es(1), "map name"))),
    "probability_in" -> (es => graft.lookups.ProbabilityInExpression(es(0), str(es(1), "bloom name"))),
    "approx_heavy_hitters" -> (es =>
      HeavyHittersAggregate(es(0), litLong(es(1)).toInt).toAggregateExpression()),
    "top_k_by" -> (es =>
      TopKAggregate(
        org.apache.spark.sql.catalyst.expressions.Cast(es(0), org.apache.spark.sql.types.DoubleType),
        es(1), litLong(es(2)).toInt).toAggregateExpression()),
    "vector_mean" -> (es => VectorMeanAggregate(es.head).toAggregateExpression()),
    "vector_minmax" -> (es => VectorMinMaxAggregate(es.head).toAggregateExpression()),
    "log_histogram" -> (es => LogHistogramAggregate(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 20).toAggregateExpression()),
    "histogram_merge" -> (es => HistogramMergeAggregate(es.head).toAggregateExpression()),
    "histogram_quantile" -> (es => HistogramQuantileExpression(es(0),
      org.apache.spark.sql.catalyst.expressions.Cast(
        es(1), org.apache.spark.sql.types.DoubleType),
      if (es.size >= 3) litLong(es(2)).toInt else 20)),
    "hll_sketch" -> (es => HllSketchAggregate(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 12).toAggregateExpression()),
    "hll_merge" -> (es => HllMergeAggregate(es.head).toAggregateExpression()),
    "hll_estimate" -> (es => HllEstimateExpression(es.head)),
    "theta_sketch" -> (es => ThetaSketchAggregate(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else Theta.DefaultK).toAggregateExpression()),
    "theta_union" -> (es => ThetaUnionAggregate(es.head).toAggregateExpression()),
    "theta_intersect" -> (es => ThetaIntersectExpression(es(0), es(1))),
    "theta_a_not_b" -> (es => ThetaANotBExpression(es(0), es(1))),
    "theta_estimate" -> (es => ThetaEstimateExpression(es.head)),
    "cms_sketch" -> (es => CmsSketchAggregate(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else Cms.DefaultW,
      if (es.size >= 3) litLong(es(2)).toInt else Cms.DefaultD).toAggregateExpression()),
    "cms_merge" -> (es => CmsMergeAggregate(es.head).toAggregateExpression()),
    "cms_estimate" -> (es => CmsEstimateExpression(es(0), es(1))),
    "small_bloom" -> (es =>
      graft.bloom.BloomAggregate(es(0), litLong(es(1)), litDouble(es(2))).toAggregateExpression()),
    "big_bloom" -> (es =>
      graft.bloom.BigBloomAggregate(es(0), litLong(es(1)), litDouble(es(2))).toAggregateExpression()),
    // ids, hashes, rng (see IdExprs/HashExprs/RngExprs)
    "digest_to_longs" -> (es => DigestToLongsExpression(es.tail, str(es.head, "algo"), asStruct = false)),
    "digest_to_longs_struct" -> (es => DigestToLongsExpression(es.tail, str(es.head, "algo"), asStruct = true)),
    "hash_with" -> (es => { requireAlgo(es.head); Murmur128Expression(es.tail) }),
    "hash_with_struct" -> (es => { requireAlgo(es.head); Murmur128Expression(es.tail) }),
    "za_hash_with" -> (es => { requireAlgo(es.head)
      new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 42L) }),
    "za_hash_with_struct" -> (es => { requireAlgo(es.head)
      ex(struct(col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 42L)).as("i0"))) }),
    "za_hash_longs_with" -> (es => { requireAlgo(es.head)
      ex(array(
        col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 42L)),
        col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 43L)))) }),
    "za_hash_longs_with_struct" -> (es => { requireAlgo(es.head)
      ex(struct(
        col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 42L)).as("i0"),
        col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.tail, 43L)).as("i1"))) }),
    "murmur3_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.FieldBasedHeader, Murmur128Expression(es.tail))),
    "hash_field_based_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.FieldBasedHeader,
        Murmur128Expression(es.drop(2)))),
    "field_based_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.FieldBasedHeader,
        DigestToLongsExpression(es.drop(2), str(es(1), "algo"), asStruct = true))),
    "za_field_based_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.FieldBasedHeader,
        ex(struct(
          col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.drop(2), 42L)).as("i0"),
          col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.drop(2), 43L)).as("i1"))))),
    "za_longs_field_based_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.FieldBasedHeader,
        ex(struct(
          col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.drop(2), 42L)).as("i0"),
          col(new org.apache.spark.sql.catalyst.expressions.XxHash64(es.drop(2), 43L)).as("i1"))))),
    "provided_id" -> (es =>
      LongsIdExpression(str(es.head, "prefix"), IdModel.ProvidedHeader, es(1))),
    "unique_id" -> (es => GuaranteedUniqueIdExpression(str(es.head, "prefix"))),
    "rng_id" -> (es => RngIdExpression(str(es.head, "prefix"),
      if (es.size >= 3) litLong(es(2)) else 0L)),
    "rng" -> (es => RandomLongsExpression(if (es.size >= 2) litLong(es(1)) else 0L)),
    "rng_bytes" -> (es => RandomBytesExpression(
      if (es.size >= 3) litLong(es(2)).toInt else 16,
      if (es.size >= 2) litLong(es(1)) else 0L)),
    "id_size" -> (es => IdSizeExpression(es.head)),
    "id_raw_type" -> (es => IdRawTypeExpression(es.head)),
    "id_base64" -> (es => IdBase64Expression(es)),
    "id_from_base64" -> (es => IdFromBase64Expression(es.head,
      if (es.size >= 2) litLong(es(1)).toInt else 2)),
    "prefixed_to_long_pair" -> (es => {
      val p = str(es.head, "prefix")
      ex(struct(
        col(es(1)).getField(s"${p}_i0").as("lower"),
        col(es(1)).getField(s"${p}_i1").as("higher")))
    }),
    // aggregation family (see AggExprs.scala)
    "agg_expr" -> (AggExprBuilder.aggExpr _),
    "sum_with" -> (AggExprBuilder.sumWith _),
    "results_with" -> (AggExprBuilder.resultsWith _),
    "map_with" -> (AggExprBuilder.mapWith _),
    "inc" -> (AggExprBuilder.inc _),
    "meanf" -> (AggExprBuilder.meanF _),
    "return_sum" -> (AggExprBuilder.returnSum _)
  )

  /** Every registered SQL-callable function, canonical snake_case —
   * the docs index (graft.DocsGen) and its parity spec enumerate this. */
  def registeredNames: Seq[String] = builders.keys.toSeq.sorted

  private def canonical(n: String): String = n.toLowerCase.replaceAll("_", "")

  /** flattened-name → builder, so fooBar / foo_bar / foobar all resolve. */
  private lazy val byFlat: Map[String, Builder] =
    builders.map { case (k, v) => canonical(k) -> v }

  def lookup(name: String): Option[Builder] = byFlat.get(canonical(name))

  /** Expand graft function calls appearing in a parsed expression tree. */
  def rewrite(e: Expression): Expression = e.transformUp {
    case uf: UnresolvedFunction if lookup(uf.nameParts.last).isDefined &&
        // never shadow real catalog functions in multipart form
        uf.nameParts.size == 1 =>
      lookup(uf.nameParts.last).get(uf.arguments)
  }

  def rewriteCol(c: Column): Column = Bridge.column(rewrite(Bridge.expression(c)))

  /** (identifier, info, builder) triples for FunctionRegistry /
   * SparkSessionExtensions.injectFunction — snake_case + flattened alias. */
  def functionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.toSeq.flatMap { case (name, b) =>
      Seq(name, name.replaceAll("_", "")).distinct.map { n =>
        (FunctionIdentifier(n),
          new ExpressionInfo("graft.functions.Registry", n),
          (es: Seq[Expression]) => b(es))
      }
    }

  /** Register every function in an existing session's registry; a name
   * graft already registered (an earlier call, or GraftExtension) is left
   * as it is, so a second call changes nothing. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionDescriptions.foreach { case (id, info, fb) =>
      if (!reg.lookupFunction(id).exists(_.getClassName == info.getClassName))
        reg.registerFunction(id, info, fb)
    }
  }
}

/** processor_input_wrapper (reference impl/util/Utils.scala:552,
 * InputWrapper): `left` exists only so the analyzer resolves processor
 * expressions against the input row; eval and codegen alias `right`
 * verbatim and NEVER touch `left` — a left expression that would throw
 * at runtime passes through, matching the reference. */
case class ProcessorInputWrapper(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = right.dataType
  override def nullable: Boolean = right.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    right.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val r = right.genCode(ctx)
    ev.copy(code = r.code, isNull = r.isNull, value = r.value)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
