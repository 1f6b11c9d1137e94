package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The COMPOSED batch curation pipeline, end to end — the product's actual
 * shape (VERDICT r14 next-round #2): every stage below is an
 * individually-gated operator; this main chains them the way a production
 * crawl-to-training-shards job runs them and audits the composition
 * (per-stage wall time, funnel accounting, plan regressions) at whatever
 * scale `srcDir` holds — /root/testdata/sf0.1 for the gate shape,
 * /tmp/graft_sf1 for the 10x soak.
 *
 *   raw WARC shards + JSONL drops            (staged from documents.parquet)
 *     → Warc.read / Jsonl.read               quarantining front doors
 *     → Text.extractHtml → fixEncoding       boilerplate + mojibake repair
 *     → Text.urlCanonicalize                 canonical URL identity
 *     → Dedup.exact(url) → exact(text)       crawler re-fetch + mirror collapse
 *     → MinHash LSH near-dup tier            keep the most complete member
 *                                            of each verified pair
 *     → token / Gopher / langid / PII gates  quality tier
 *     → Curation.decontaminate               benchmark n-gram hygiene
 *     → Curation.temperatureSample           domain-temperature mixing
 *     → Curation.writeShards                 content-addressed export
 *   artifacts: Curation.retentionFunnel over the WHOLE chain (dedup stages
 *   included, as join-derived flags) + DataCard.generate, written to
 *   `workDir` alongside a one-line JSON summary.
 *
 * Scale shape of the composition (each stage is spec'd/soaked alone; the
 * claims below are what composing them must not break):
 *   - staging writes WARC shards one file per PARTITION (foreachPartition,
 *     never a driver collect) — the crawl-drop-box shape;
 *   - the ingested frame is persisted ONCE and every downstream stage
 *     reads that one materialization; the cache is released before exit;
 *   - dedup survivor sets join back as FLAGS on ingest_id (keyed
 *     equi-joins — at 100 TB these are corpus-sized, so they must stay
 *     shuffles on the id, never broadcasts of the corpus);
 *   - the funnel is ONE first-fail aggregate; temperature fractions are a
 *     domain-sized broadcast; the shard write is ONE shuffle keyed on the
 *     content-addressed shard.
 *
 * Fixture plants (deterministic, by original doc id) make every stage's
 * drop observable: %37 → tracking-param URL variant (canonical-URL dup),
 * %41 → /mirror/ byte-identical copy (content dup), %43 → /copy/
 * two-word-suffix near-dup (MinHash dup), %53 → appended email+phone
 * (PII gate), %97 → the doc doubles as a benchmark item (decontamination
 * must remove it from the training side). Three corrupt JSONL lines and
 * one malformed WARC region exercise the quarantines.
 *
 * Usage:
 *   SPARK_GRAFT_CPUS=32 sbt -batch \
 *     "runMain graft.BatchPipeline /root/testdata/sf0.1 /tmp/graft_pipe01"
 *     "runMain graft.BatchPipeline /tmp/graft_sf1 /tmp/graft_pipe10"
 */
object BatchPipeline {

  /** Raw records staged per doc: (raw url, html payload, jsonl side?). */
  private def rawRecords(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val moji = "Donât âquoteâ cafÃ© "
    val pii = when(id % 53 === 0,
      lit(" Contact: jane.roe@example.com or 555-867-5309."))
      .otherwise(lit(""))
    def html(text: Column): Column = concat(
      lit("<html><head><script>var x = \"<p>no</p>\";</script><style>.x{}</style>" +
        "</head><body><div class=\"nav\"><a href=\"/\">Home</a></div><h1>Doc "),
      id.cast("string"),
      lit("</h1><p>"), lit(moji), text, pii,
      lit("</p><div class=\"footer\"><a href=\"/a\">About</a></div></body></html>"))
    def url(path: Column, extra: String, scheme: String): Column = concat(
      lit(scheme + "://WWW."), col("source"),
      lit(".Example"), (id % 5).cast("string"), lit(".COM:443"),
      path, lit("/?utm_source=x&ref="), (id % 7).cast("string"),
      lit(extra), lit("#frag"))
    def docPath = concat(lit("/doc/"), id.cast("string"))
    val main = docs.select(id,
      url(docPath, "", "HTTPS").as("url"), html(col("text")).as("html"))
    // crawler re-fetch under a tracking-param/case URL variant: same
    // canonical URL, same content — the canonical-URL dedup's prey
    val refetch = docs.where(id % 37 === 0).select(id,
      url(docPath, "&utm_campaign=y", "https").as("url"), html(col("text")).as("html"))
    // byte-identical mirror under a different path: content-dedup's prey
    val mirror = docs.where(id % 41 === 0).select(id,
      url(concat(lit("/mirror/"), id.cast("string")), "", "HTTPS").as("url"),
      html(col("text")).as("html"))
    // two-word-suffix near-copy: the MinHash tier's prey (3-shingle
    // Jaccard (w-2)/(w+2) >= 0.7 for the corpus' >= 15-word docs)
    val nearCopy = docs.where(id % 43 === 0).select(id,
      url(concat(lit("/copy/"), id.cast("string")), "", "HTTPS").as("url"),
      html(concat(col("text"), lit(" subscribe now"))).as("html"))
    main.unionAll(refetch).unionAll(mirror).unionAll(nearCopy)
  }

  /** Stage the raw side: even original ids as WARC response records (one
   * shard per partition, every 4th gzipped), odd ids as JSONL lines;
   * plant one malformed WARC region and three corrupt JSONL lines. */
  private def stageFrontDoor(spark: SparkSession, src: String, work: String): (String, String) = {
    import spark.implicits._
    val warcDir = s"$work/raw_warc"
    val jsonlDir = s"$work/raw_jsonl"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val records = rawRecords(docs)
    records.where(col("doc_id") % 2 === 0)
      .select(col("url"), col("html"))
      .as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val gz = pid % 4 == 3
        val f = new java.io.FileOutputStream(new java.io.File(
          warcDir, if (gz) f"part-$pid%05d.warc.gz" else f"part-$pid%05d.warc"))
        val out: java.io.OutputStream =
          if (gz) new java.util.zip.GZIPOutputStream(f) else f
        try it.foreach { case (url, html) =>
          graft.sources.WarcAlgos.writeRecord(out, "response", url,
            "2024-01-01T00:00:00Z", "application/http; msgtype=response",
            graft.sources.WarcAlgos.httpResponsePayload(
              200, "text/html; charset=utf-8", html.getBytes("UTF-8")))
        } finally out.close()
      }
    // malformed region + resync survivor in one extra shard
    val extra = new java.io.FileOutputStream(new java.io.File(warcDir, "part-bad.warc"))
    try {
      extra.write("NOT A WARC RECORD\r\njunk\r\n".getBytes("UTF-8"))
      graft.sources.WarcAlgos.writeRecord(extra, "conversion",
        "https://resync.example9.com/doc/999999999", "2024-01-01T00:00:00Z",
        "text/plain", "resync survivor too short to pass gates".getBytes("UTF-8"))
    } finally extra.close()
    records.where(col("doc_id") % 2 === 1)
      .select(col("url"), col("html"))
      .write.mode("overwrite").json(jsonlDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(jsonlDir, "part-corrupt.json"),
      "{\"url\": \"https://x/doc/1\", \"html\": \"tru\nnot json at all\n{broken\n")
    (warcDir, jsonlDir)
  }

  /**
   * Survivor-id frames for the three dedup tiers, each tier's work
   * executed exactly ONCE: tier k+1 is built from `base` semi-joined
   * against tier k's already-CHECKPOINTED ids, never from tier k's lazy
   * plan — the r15 shape re-ran the exact-URL groupBy three times and the
   * exact-text groupBy twice through un-checkpointed lineage (VERDICT r15
   * what's-wrong #1). `localCheckpoint` is eager, so by the time tier k+1
   * is constructed, tier k's ids are a materialized RDD scan; the
   * checkpoints are ContextCleaner-managed (die with the reference, no
   * pinned cache). `checkpoint` is a test seam: BatchPipelineSpec passes a
   * capturing hook to pin the one-aggregate-per-tier plan shape.
   *
   * The near tier is [[Dedup.dropNearDupsKeepLargest]] on token count —
   * pairwise keep-most-complete, one LSH pass plus one slim (id → tok)
   * join; the cluster-true [[Dedup.dropNearDupsPreferring]] buys
   * transitive-family selection at the cost of a connected-components
   * fixpoint the chain doesn't need (measured +5 s fixed at sf0.1 for
   * identical fixture results).
   */
  private[graft] def dedupTierIds(base: DataFrame,
      checkpoint: DataFrame => DataFrame = graft.pipeline.Checkpoints.stage)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.pipeline.Dedup
    val urlIds = checkpoint(
      Dedup.exact(base, col("ingest_id"), col("url")).select(col("ingest_id")))
    val afterUrl = base.join(urlIds, Seq("ingest_id"), "leftsemi")
    val textIds = checkpoint(
      Dedup.exact(afterUrl, col("ingest_id"), col("text")).select(col("ingest_id")))
    val afterText = base.join(textIds, Seq("ingest_id"), "leftsemi")
    val nearIds = checkpoint(
      Dedup.dropNearDupsKeepLargest(afterText, col("ingest_id"), col("text"),
          col("tok"), shingleSize = 3, threshold = 0.7)
        .select(col("ingest_id")))
    (urlIds, textIds, nearIds)
  }

  /**
   * The YAML CONFIG TWIN of [[runChain]] over an already-staged front
   * door — one source of truth shared by BatchConfigSpec's bit-identity
   * parity spec and the q_pipeline_yaml driver query (which hash-gates
   * the CONFIG EXECUTION against the same DuckDB funnel replay as
   * q_pipeline_batch every round, not just at spec time).
   */
  private[graft] def configTwin(src: String, warcDir: String,
      jsonlDir: String,
      piiPolicy: String = "drop"): graft.pipeline.BatchConfig.BatchSpec = {
    import graft.pipeline.BatchConfig
    BatchConfig.BatchSpec(
      version = 1, name = "crawl_batch_twin",
      sources = Seq(
        BatchConfig.Source("warc", warcDir,
          map = Seq("url" -> "url", "html" -> "text")),
        BatchConfig.Source("jsonl", jsonlDir,
          schemaDdl = Some("url STRING, html STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(url)",
      prepare = Seq(
        "url" -> "url_canonicalize(url)",
        "text" -> "fix_encoding(extract_html(html, 0.5D))",
        "tok" -> "token_count(text)",
        "domain" -> "registrable_domain(url)",
        "lang" -> "lang_id(text)"),
      select = Seq("url", "text", "tok", "domain", "lang"),
      dedup = Seq(
        BatchConfig.ExactTier("dedup_url", Seq("url")),
        BatchConfig.ExactTier("dedup_content", Seq("text")),
        BatchConfig.NearTier("dedup_near", "text", "tok",
          shingleSize = 3, threshold = 0.7)),
      gates = Seq(
        "tokens" -> "tok >= 20",
        "langid" -> "lang IN ('en', 'es', 'de', 'fr', 'zh')",
        "gopher" -> "lang != 'en' OR gopher_quality(text, 20).pass"),
      pii = Some(BatchConfig.PiiStage("pii", "text", piiPolicy,
        recompute =
          if (piiPolicy == "redact") Seq("tok" -> "token_count(text)")
          else Nil)),
      decontaminate = Some(BatchConfig.Decon("decontaminate",
        s"$src/documents.parquet", Some("doc_id % 97 = 0"), "text", "text",
        n = 8, minShared = 3)),
      weight = Some("tok"),
      sample = Some(BatchConfig.TempSample("domain", "tok",
        budgetFraction = 0.6, alpha = 0.5)),
      shards = Some(BatchConfig.ShardSpec(32)))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val spark = Harness.session()
    // args: src work [stageDir|-] [piiPolicy] [shardFormat]
    try run(spark, src, work,
      stageDir = if (args.length > 2 && args(2) != "-") Some(args(2)) else None,
      piiPolicy = if (args.length > 3) args(3) else "drop",
      shardFormat = if (args.length > 4) args(4) else "parquet")
    finally spark.stop()
  }

  /** Everything the retention funnel accounts, materialized: the one
   * persisted base frame, the gate/dedup-flagged frame, the gate order,
   * the quarantine count, and the PII policy the chain ran under (it
   * decides the funnel's weight accounting — see [[chainFunnel]]). */
  private[graft] final case class Chain(
      base: DataFrame, flagged: DataFrame,
      gateCols: Seq[(String, Column)], quarantined: Long, ingested: Long,
      piiPolicy: String = "drop")

  /** The chain's token-weighted retention funnel under either PII policy.
   * drop: every stage charges the raw token count. redact: rows KEEP
   * flowing through the pii stage with scrubbed text; the funnel charges
   * the scrubbed-away token mass to the pii stage via the staged-weight
   * accounting ([[graft.pipeline.Curation.retentionFunnelStaged]] — raw
   * `tok_raw` through the pii stage, redacted `tok` after). */
  private[graft] def chainFunnel(chain: Chain): DataFrame =
    if (chain.piiPolicy == "redact") {
      val piiIdx = chain.gateCols.indexWhere(_._1 == "pii")
      val weights = chain.gateCols.indices.map(i =>
        if (i <= piiIdx) col("tok_raw") else col("tok")) :+ col("tok")
      graft.pipeline.Curation.retentionFunnelStaged(
        chain.flagged, chain.gateCols, weights)
    } else graft.pipeline.Curation.retentionFunnel(
      chain.flagged, chain.gateCols, weight = col("tok"))

  /** Per-stage wall-time hook; [[run]] records, the gate query doesn't. */
  private[graft] trait Timer {
    def apply[T](name: String)(body: => T): T
  }
  private[graft] object NoTimer extends Timer {
    def apply[T](name: String)(body: => T): T = body
  }

  /** Staged raw front door per src, synthesized once per JVM: fixture
   * synthesis is not the pipeline under test, so repeated gate/bench runs
   * of the chain re-run the PIPELINE (front-door parse included), not the
   * fixture writer. */
  private[graft] def stagedOnce(spark: SparkSession, src: String): (String, String) =
    Harness.once("pipe_stage", src) {
      val work = java.nio.file.Files
        .createTempDirectory("graft_pipe_stage").toString
      stageFrontDoor(spark, src, work)
    }

  /** The chain's unpersisted base frame (front doors parsed, HTML
   * extracted and repaired, URLs canonicalized, tok + domain) and the two
   * quarantine frames; [[runChain]] persists the base. */
  private[graft] def ingest(spark: SparkSession, warcDir: String,
      jsonlDir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.pipeline.Text
    val (warcRows, warcBad) = graft.sources.Warc.read(spark, warcDir)
    val (jsonlRows, jsonlBad) = graft.sources.Jsonl.read(spark, jsonlDir,
      org.apache.spark.sql.types.StructType.fromDDL("url STRING, html STRING"))
    val base = warcRows.select(col("url"), col("text").as("html"))
      .unionAll(jsonlRows.select(col("url"), col("html")))
      .select(
        xxhash64(col("url")).as("ingest_id"),
        Text.urlCanonicalize(col("url")).as("url"),
        Text.fixEncoding(
          Text.extractHtml(col("html"), maxLinkDensity = 0.5)).as("text"))
      .withColumn("tok", Text.tokenCount(col("text")))
      .withColumn("domain", Text.registrableDomain(col("url")))
    (base, warcBad, jsonlBad)
  }

  /**
   * The LAZY pre-checkpoint gates frame: tier flags + quality/hygiene
   * gates + the PII policy, over the one persisted base frame. Factored
   * out of [[runChain]] so the plan is dumpable and the gates stage
   * A/B-benchable without running the whole chain. The pre-AQE plan at
   * sf0.1 (plans/r20/q_pipeline_gates_harness.txt, from PlanDump) shows
   * the scale shape below: three same-key sort-merge joins over ONE
   * corpus exchange.
   *
   * One left flag-join per tier, deliberately KEPT after an r20 A/B
   * measured two "fused" rewrites slower (see OPTIMIZATION_r20.md): all
   * three joins key on ingest_id, so locally the slim checkpointed id
   * frames broadcast and all three probes fuse into ONE codegen stage
   * (plan: 3×BroadcastHashJoin, zero corpus exchanges, min 0.58 s at
   * sf0.1), and at scale — where the id sets outgrow the broadcast
   * threshold — the three same-key sort-merge joins SHARE the single
   * corpus exchange+sort (output partitioning/ordering propagates), so
   * the text payload still crosses the network exactly once. The
   * pre-combined variants (id-frames joined/aggregated first, one corpus
   * join) measured 0.97 s / 0.70 s against 0.58 s: the corpus join's
   * build side becomes a join/aggregate result, which locally either
   * demotes the join to sort-merge (shuffling the corpus payload that
   * the old shape never moves) or pays an extra slim shuffle for no
   * payload saving at any scale.
   */
  private[graft] def gateFlags(base: DataFrame, urlIds: DataFrame,
      textIds: DataFrame, nearIds: DataFrame, redact: Boolean): DataFrame = {
    import graft.pipeline.{Pii, Text}
    def surviveFlag(ids: DataFrame, name: String)(df: DataFrame): DataFrame =
      df.join(ids.withColumn(name, lit(true)), Seq("ingest_id"), "left")
        .withColumn(name, coalesce(col(name), lit(false)))
    val gated = base
      .transform(surviveFlag(urlIds, "f_url"))
      .transform(surviveFlag(textIds, "f_text"))
      .transform(surviveFlag(nearIds, "f_near"))
      .withColumn("lang", Text.langId(col("text")))
      .withColumn("f_tokens", col("tok") >= 20)
      .withColumn("f_lang",
        col("lang").isin("en", "es", "de", "fr", "zh"))
      // the Gopher stop-word heuristic is an ENGLISH-table measure —
      // applied blindly it silently deletes every non-English doc (the
      // first 10x DataCard read 100% en for exactly this reason), so it
      // gates en docs only; other languages are gated by tokens/langid.
      // langid runs BEFORE gopher in the funnel so drops attribute to
      // the right stage.
      .withColumn("f_gopher", col("lang") =!= "en" ||
        Text.gopherQuality(col("text"), minWords = 20).getField("pass"))
    // pii policy: drop rejects any doc carrying a PII span whole;
    // redact KEEPS the doc, scrubbing the spans and recomputing the
    // token count — tok_raw preserves the pre-scrub mass so the funnel
    // can charge the difference to the pii stage (chainFunnel)
    if (redact) gated
      .withColumn("f_pii", lit(true))
      .withColumn("tok_raw", col("tok"))
      .withColumn("text", Pii.redactPii(col("text")))
      .withColumn("tok", Text.tokenCount(col("text")))
    else gated
      // match-only detection — provably redactPii(text) === text, minus
      // four per-doc string copies and a full-text compare (r20 opt, see
      // Pii.hasPii's equivalence argument + spec)
      .withColumn("f_pii", !Pii.hasPii(col("text")))
  }

  /** The chain's funnel order — fixed flag columns on the flagged frame,
   * shared by the live build and the stage-resume path. */
  private[graft] val chainGateCols: Seq[(String, Column)] = Seq(
    "dedup_url" -> col("f_url"), "dedup_content" -> col("f_text"),
    "dedup_near" -> col("f_near"), "tokens" -> col("f_tokens"),
    "langid" -> col("f_lang"), "gopher" -> col("f_gopher"),
    "pii" -> col("f_pii"), "decontaminate" -> col("f_decon"))

  /**
   * The composed chain through the gate flags: stage the raw fixture,
   * ingest through the quarantining front doors, extract/repair/
   * canonicalize into ONE persisted base frame, run the three dedup tiers
   * ([[dedupTierIds]]) and the quality/hygiene gates as flags. Shared
   * VERBATIM by [[run]] (the artifact-writing main) and the
   * q_pipeline_batch correctness gate, so the per-round gate exercises
   * the exact production composition rather than a test twin. Caller
   * owns `chain.base` — unpersist it when done. `staged` short-circuits
   * fixture synthesis with an already-staged front door ([[stagedOnce]]).
   *
   * RESTARTABILITY: with `stageDir` set, the two expensive stage outputs
   * — the ingested `base` frame (everything upstream of dedup: the WARC/
   * JSONL parse, HTML extraction, repair, canonicalization) and the
   * `flagged` frame (dedup tiers + gates + decontamination) — are
   * committed under it with [[graft.pipeline.Incremental.commitStage]]'s
   * manifest-guarded protocol, and a re-run resumes from the LAST
   * COMMITTED stage instead of raw WARC (at 100 TB a crash in hour 30 of
   * a 40-hour chain must not re-parse the crawl). Torn writes read as
   * absent and recompute; retries are idempotent; resuming assumes the
   * same `src`/config — use one stageDir per run like any checkpoint dir.
   */
  private[graft] def runChain(spark: SparkSession, src: String, work: String,
      timed: Timer = NoTimer,
      staged: Option[(String, String)] = None,
      stageDir: Option[String] = None,
      piiPolicy: String = "drop"): Chain = {
    import graft.pipeline.{Curation, Incremental}
    require(piiPolicy == "drop" || piiPolicy == "redact",
      s"piiPolicy must be drop|redact, got '$piiPolicy'")
    val redact = piiPolicy == "redact"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    // ---- resume from the flagged stage if a committed copy exists
    stageDir.filter(d => Incremental.committedStage(spark, s"$d/flagged"))
      .foreach { d =>
        val meta = Incremental.stageMeta(spark, s"$d/flagged")
        // the flagged stage's content depends on the PII policy (redact
        // rewrites text/tok and adds tok_raw) — resuming under a
        // DIFFERENT policy would silently mislabel the funnel (or crash
        // on the missing tok_raw), so the commit stamps the policy and
        // the resume verifies it; pre-stamp commits were all drop
        val recorded =
          if (meta.getOrElse("pii_redact", 0L) == 1L) "redact" else "drop"
        require(recorded == piiPolicy,
          s"stageDir '$d' was committed under piiPolicy=$recorded but " +
            s"this run requests $piiPolicy — use a fresh stageDir per config")
        val flagged = spark.read.parquet(s"$d/flagged")
        val q = meta.getOrElse("quarantined", 0L)
        return Chain(flagged, flagged, chainGateCols, q, flagged.count(),
          piiPolicy)
      }

    // ---- resume base, or ingest and (optionally) commit it
    val resumeBase = stageDir
      .filter(d => Incremental.committedStage(spark, s"$d/base"))

    // ---- stage the raw front door (fixture synthesis, not the pipeline)
    val (warcDir, jsonlDir) =
      if (resumeBase.nonEmpty) ("", "")
      else staged.getOrElse(timed("stage_raw") {
        stageFrontDoor(spark, src, work)
      })

    // ---- ingest + extract + canonicalize: ONE persisted base frame
    val (base, quarantined) = resumeBase match {
      case Some(d) => timed("ingest_extract") {
        (spark.read.parquet(s"$d/base")
           .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
         Incremental.stageMeta(spark, s"$d/base").getOrElse("quarantined", 0L))
      }
      case None => timed("ingest_extract") {
        val (lazyBase, warcBad, jsonlBad) = ingest(spark, warcDir, jsonlDir)
        val b = lazyBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val q = warcBad.count() + jsonlBad.count() // forces b's sources too
        stageDir.foreach(d =>
          Incremental.commitStage(spark, s"$d/base", b,
            Map("quarantined" -> q)))
        (b, q)
      }
    }
    val ingested = base.count()

    // ---- dedup tier: survivors as frames, then flags keyed on ingest_id
    val (afterUrlIds, afterTextIds, afterNearIds) = timed("dedup") {
      dedupTierIds(base)
    }

    // ---- quality + hygiene flags on the one base frame
    val flagged = timed("gates") {
      // benchmark side: the %97 docs' ORIGINAL text (public eval fixture)
      val bench = spark.read.parquet(s"$src/documents.parquet")
        .where(col("doc_id") % 97 === 0).select(col("text"))
      // checkpoint BEFORE decontamination: every gate (and the redact
      // scrub) runs exactly once, and decon reads the post-pii text FROM
      // the materialized frame instead of re-scrubbing the corpus a
      // second time; truncation posture (local vs reliable) per the
      // session conf
      val staged = graft.pipeline.Checkpoints.stage(
        gateFlags(base, afterUrlIds, afterTextIds, afterNearIds, redact))
      val leaking = Curation.decontaminate(
          staged, col("ingest_id"), col("text"), bench, col("text"),
          n = 8, minShared = 3)
        .select(col("id").as("ingest_id")).withColumn("graft_leak", lit(true))
        .localCheckpoint() // small (leak ids only) — decon runs once
      staged
        .join(leaking, Seq("ingest_id"), "left")
        .withColumn("f_decon", col("graft_leak").isNull)
    }
    stageDir.foreach(d =>
      Incremental.commitStage(spark, s"$d/flagged", flagged,
        Map("quarantined" -> quarantined,
          "pii_redact" -> (if (redact) 1L else 0L))))
    Chain(base, flagged, chainGateCols, quarantined, ingested, piiPolicy)
  }

  /** Runs the whole pipeline; returns the one-line JSON summary (also
   * printed and written to `workDir/pipeline_summary.json`). With
   * `stageDir` set, a re-run resumes from the last committed stage
   * (see [[runChain]]'s restartability contract). */
  def run(spark: SparkSession, src: String, work: String,
      stageDir: Option[String] = None,
      piiPolicy: String = "drop",
      shardFormat: String = "parquet"): String = {
    require(shardFormat == "parquet" || shardFormat == "wds",
      s"shardFormat must be parquet|wds, got '$shardFormat'")
    import graft.pipeline.{Curation, DataCard}
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val audits = scala.collection.mutable.ArrayBuffer.empty[Map[String, Int]]
    val timed: Timer = new Timer {
      def apply[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        stages(name) = (System.nanoTime() - t0) / 1e9
        r
      }
    }

    val chain = runChain(spark, src, work, timed, stageDir = stageDir,
      piiPolicy = piiPolicy)
    val Chain(base, flagged, gateCols, quarantined, ingested, _) = chain
    audits += Soak.planAudit(flagged)

    val funnel = timed("funnel") {
      chainFunnel(chain).localCheckpoint()
    }

    // ---- temperature sample the survivors, then shard
    val survivors = flagged.where(gateCols.map(_._2).reduce(_ && _))
      .select(col("ingest_id"), col("url"), col("domain"),
        col("text"), col("tok"))
    val (sampled, sampledRows, totalTok) = timed("sample") {
      // coalesce: sum over ZERO survivors is NULL — an all-dropped funnel
      // must report a zero-row summary, not NPE (ADVICE r15)
      val tot = survivors.agg(coalesce(sum(col("tok")), lit(0L)).as("t"))
        .head().getLong(0)
      val s = Curation.temperatureSample(
          survivors, col("ingest_id"), col("domain"), col("tok"),
          totalBudget = math.max(1L, (tot * 0.6).toLong), alpha = 0.5)
        .localCheckpoint()
      (s, s.count(), tot)
    }
    audits += Soak.planAudit(sampled)

    val manifest = timed("write_shards") {
      (if (shardFormat == "wds")
        // the WebDataset leg of the same one-shuffle export — url/domain
        // provenance rides each sample's json sidecar. The verification
        // posture is soak-switchable (SPARK_GRAFT_WDS_VERIFY=manifest
        // measures the commit-site-tally path's I/O saving at scale);
        // the default stays the full read-back audit.
        graft.sources.Wds.write(sampled, col("ingest_id"), col("text"),
          col("tok"), s"$work/shards", nShards = 32,
          metaCols = Seq("url" -> col("url"), "domain" -> col("domain")),
          verify = sys.env.getOrElse("SPARK_GRAFT_WDS_VERIFY", "full"))
      else
        Curation.writeShards(sampled, col("ingest_id"), col("tok"),
          s"$work/shards", nShards = 32)).localCheckpoint()
    }
    audits += Soak.planAudit(manifest)

    // ---- artifacts
    val card = timed("datacard") {
      DataCard.generate(sampled, col("text"), col("domain"),
        title = s"Curated corpus ($src)", gopherMinWords = 20)
    }
    funnel.write.mode("overwrite").parquet(s"$work/funnel.parquet")
    val funnelRows = funnel.collect()
    val funnelMd = new StringBuilder
    funnelMd.append("| stage | gate | rows_in | dropped | rows_out | tokens_in | tokens_dropped | tokens_out |\n")
    funnelMd.append("|---|---|---|---|---|---|---|---|\n")
    funnelRows.foreach { r =>
      funnelMd.append(s"| ${r.get(0)} | ${r.get(1)} | ${r.get(2)} | ${r.get(3)} | " +
        s"${r.get(4)} | ${r.get(5)} | ${r.get(6)} | ${r.get(7)} |\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(work, "funnel.md"), funnelMd.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(work, "datacard.md"), card)

    val shardDocs = manifest.agg(coalesce(sum(col("docs")), lit(0L)))
      .head().getLong(0)
    val shardCount = manifest.count()
    base.unpersist(blocking = false)
    val cart = audits.map(_("cartesian")).sum
    val bnlj = audits.map(_("bnlj")).sum
    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val stageJson = stages.map { case (k, v) => s"\"$k\":${f2(v)}" }.mkString("{", ",", "}")
    val summary =
      s"""{"pipeline":"batch_e2e","src":"$src","ingested":$ingested,""" +
      s""""quarantined":$quarantined,"survivor_tokens":$totalTok,""" +
      s""""sampled_rows":$sampledRows,"shard_docs":$shardDocs,"shards":$shardCount,""" +
      s""""shard_format":"$shardFormat",""" +
      s""""cartesian":$cart,"bnlj":$bnlj,"wall_sec":${f2(stages.values.sum)},""" +
      s""""stages":$stageJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(work, "pipeline_summary.json"), summary + "\n")
    println(summary)
    summary
  }
}
