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
 * `run` stages the raw front door, then executes the chain's config
 * twin ([[configTwin]]) through [[graft.pipeline.BatchConfig]] — the one
 * composition of these stages — and writes the artifacts from what it
 * returns. Scale shape of the composition (each stage is spec'd/soaked
 * alone; the claims below are what composing them must not break):
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
    val (warcDir, jsonlDir) = rawDirs(work)
    // a re-stage replaces the raw side whole: a shard left by an earlier
    // staging would otherwise be parsed as input
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(warcDir))
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

  /** The raw front door's WARC and JSONL dirs under `dir`. */
  private def rawDirs(dir: String): (String, String) =
    (s"$dir/raw_warc", s"$dir/raw_jsonl")

  /**
   * The chain as config over an already-staged front door: what [[run]]
   * executes (with wds shards when asked), and what the q_pipeline_batch
   * and q_pipeline_yaml queries hash-gate against the DuckDB funnel
   * replay — the latter after a YAML round trip.
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

  /** Runs the whole pipeline and returns the one-line JSON summary (also
   * printed and written to `workDir/pipeline_summary.json`): stages the
   * raw front door (timed as `stage_raw`), executes [[configTwin]] with
   * [[graft.pipeline.BatchConfig.BatchSpec.run]], and writes the datacard
   * and `funnel.md` from what that returns.
   *
   * RESTARTABILITY: with `stageDir` set, the raw front door is staged
   * under it as well (cleared and re-staged unless the base stage is
   * committed), so every re-run executes the same twin — same source
   * paths, same fingerprint — and resumes from the last committed stage
   * (BatchSpec.run's protocol). A resume under a different PII policy
   * is refused by the fingerprint check. */
  def run(spark: SparkSession, src: String, work: String,
      stageDir: Option[String] = None,
      piiPolicy: String = "drop",
      shardFormat: String = "parquet"): String = {
    require(shardFormat == "parquet" || shardFormat == "wds",
      s"shardFormat must be parquet|wds, got '$shardFormat'")
    import graft.pipeline.{BatchConfig, DataCard, Incremental}
    val timed = new BatchConfig.StageWalls
    val rawDir = stageDir.getOrElse(work)
    val (warcDir, jsonlDir) = rawDirs(rawDir)
    val twin = configTwin(src, warcDir, jsonlDir, piiPolicy)
    // the WebDataset leg of the same one-shuffle export — url/domain
    // provenance rides each sample's json sidecar. The verification
    // posture is soak-switchable (SPARK_GRAFT_WDS_VERIFY=manifest
    // measures the commit-site-tally path's I/O saving at scale); the
    // default stays the full read-back audit.
    val spec =
      if (shardFormat == "parquet") twin
      else twin.copy(shards = Some(BatchConfig.ShardSpec(32, "wds",
        text = Some("text"), meta = Seq("url", "domain"),
        verify = sys.env.getOrElse("SPARK_GRAFT_WDS_VERIFY", "full"))))
    if (!stageDir.exists(d => Incremental.committedStage(spark, s"$d/base")))
      timed("stage_raw") {
        stageFrontDoor(spark, src, rawDir)
      }
    val res = spec.run(spark, work, stageDir)
    timed.walls ++= res.stages
    val sampled = res.sampled
    val manifest = res.shardManifest.get
    val audits = Seq(res.flagged, sampled, manifest).map(Soak.planAudit)

    // ---- artifacts
    val card = timed("datacard") {
      DataCard.generate(sampled, col("text"), col("domain"),
        title = s"Curated corpus ($src)", gopherMinWords = 20)
    }
    val funnelRows = res.funnel.collect().sortBy(_.getInt(0))
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

    val sampledRows = sampled.count()
    val shardDocs = manifest.agg(coalesce(sum(col("docs")), lit(0L)))
      .head().getLong(0)
    val shardCount = manifest.count()
    val cart = audits.map(_("cartesian")).sum
    val bnlj = audits.map(_("bnlj")).sum
    val stages = timed.walls
    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val stageJson = stages.map { case (k, v) => s"\"$k\":${f2(v)}" }.mkString("{", ",", "}")
    val summary =
      s"""{"pipeline":"batch_e2e","src":"$src","ingested":${res.ingested},""" +
      s""""quarantined":${res.quarantined},"survivor_tokens":${res.survivorTokens.get},""" +
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
