package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed batch pipeline as CONFIG (BatchConfig): the chain's config
 * twin (what BatchPipeline.run executes) must round-trip through YAML,
 * validate before touching data, and run from its parsed YAML. */
class BatchConfigSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  /** The chain's config twin over a staged front door (also driven per
   * round by the q_pipeline_batch and q_pipeline_yaml correctness gates). */
  private def batchSpec(warcDir: String, jsonlDir: String): BatchConfig.BatchSpec =
    graft.BatchPipeline.configTwin(src, warcDir, jsonlDir)

  test("yaml round-trip: fromYaml(toYaml) reproduces the spec exactly") {
    val s = batchSpec("/tmp/w", "/tmp/j")
    val back = BatchConfig.fromYaml(s.toYaml)
    assert(back == s, s"\n--- yaml ---\n${s.toYaml}")
    // the full near-tier vocabulary round-trips too
    val tiers = s.copy(dedup = Seq(
      BatchConfig.NearKeepFirstTier("n1", "text", shingleSize = 2, threshold = 0.6),
      BatchConfig.NearPreferringTier("n2", "text", "tok", threshold = 0.8),
      BatchConfig.NearLargestCcTier("n2b", "text", "tok", threshold = 0.8),
      BatchConfig.ExactTier("n3", Seq("url"), trust = Some("tok")),
      BatchConfig.CapTier("n4", "registrable_domain(url)", 100)))
    assert(BatchConfig.fromYaml(tiers.toYaml) == tiers)
    // the pii stanza round-trips under both policies
    val piis = s.copy(pii = Some(BatchConfig.PiiStage("pii", "text", "redact",
      recompute = Seq("tok" -> "token_count(text)"))))
    assert(BatchConfig.fromYaml(piis.toYaml) == piis)
    val piid = s.copy(pii = Some(BatchConfig.PiiStage("pii", "text", "drop")))
    assert(BatchConfig.fromYaml(piid.toYaml) == piid)
    // wds shard export + wds front door round-trip the yaml too
    val wds = s.copy(
      sources = s.sources :+ BatchConfig.Source("wds", "/shards/prev"),
      shards = Some(BatchConfig.ShardSpec(8, "wds", Some("text"))))
    assert(BatchConfig.fromYaml(wds.toYaml) == wds)
    // ...including the epoch / compress knobs
    val wds2 = s.copy(shards = Some(BatchConfig.ShardSpec(8, "wds",
      Some("text"), meta = Seq("url"), epoch = 3, compress = true)))
    assert(BatchConfig.fromYaml(wds2.toYaml) == wds2)
    intercept[IllegalArgumentException] { // compress is a wds knob
      BatchConfig.ShardSpec(8, "parquet", compress = true)
    }
    // ...and the export's verify posture, validated
    val wds3 = s.copy(shards = Some(BatchConfig.ShardSpec(8, "wds",
      Some("text"), verify = "manifest")))
    assert(BatchConfig.fromYaml(wds3.toYaml) == wds3)
    assert(wds3.toYaml.contains("verify: manifest"))
    intercept[IllegalArgumentException] {
      BatchConfig.ShardSpec(8, "wds", Some("text"), verify = "none")
    }
    intercept[IllegalArgumentException] { // a parquet export has no read-back
      BatchConfig.ShardSpec(8, "parquet", verify = "manifest")
    }
    // the graft_ column namespace is reserved (survivor slim drops it):
    // user columns there are refused at construction, not silently lost
    val bad = intercept[IllegalArgumentException] {
      s.copy(prepare = s.prepare :+ ("graft_score" -> "tok * 2"))
    }
    assert(bad.getMessage.contains("graft_"), bad.getMessage)
  }

  test("cap tier executes: at most max rows per key, lowest ids win, funnel-accounted") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_cap").toString
    (0 until 10).map(i => (s"https://a.example.com/$i",
        s"doc number $i with some words"))
      .toDF("url", "html").coalesce(1).write.mode("overwrite").json(srcDir)
    val spec = BatchConfig.BatchSpec(
      version = 1, name = "cap_tier",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("url STRING, html STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(url)",
      prepare = Seq("text" -> "html", "tok" -> "token_count(text)",
        "domain" -> "registrable_domain(url)"),
      select = Seq("url", "text", "tok", "domain"),
      dedup = Seq(BatchConfig.CapTier("domain_cap", "domain", 4)),
      gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = None)
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg_capw").toString
    val res = BatchConfig.fromYaml(spec.toYaml).run(spark, work)
    val funnel = res.funnel.collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(funnel("domain_cap") == ((10L, 6L, 4L)),
      s"10 docs on one domain capped at 4: $funnel")
  }

  test("near-tier kinds execute: keep-first drops one of a pair, preferring elects by trust") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_nt").toString
    Seq(
      ("https://wiki.example.org/a", "alpha beta gamma delta epsilon"),
      ("https://scraper.example.net/a", "alpha beta gamma delta epsilon zeta"),
      ("https://other.example.com/b", "totally different words here now"))
      .toDF("url", "html").coalesce(1).write.mode("overwrite").json(srcDir)
    def spec(tier: BatchConfig.Tier) = BatchConfig.BatchSpec(
      version = 1, name = "near_tiers",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("url STRING, html STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(url)",
      prepare = Seq("text" -> "html", "tok" -> "token_count(text)",
        "trust" -> "CASE WHEN url LIKE '%wiki%' THEN 2 ELSE 1 END"),
      select = Seq("url", "text", "tok", "trust"),
      dedup = Seq(tier), gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = Some(BatchConfig.ShardSpec(1)))
    // keep-first: the wiki/scraper near-pair (2-shingle J = 0.8) collapses
    val w1 = java.nio.file.Files.createTempDirectory("graft_bcfg_nt1").toString
    val r1 = BatchConfig.fromYaml(spec(
      BatchConfig.NearKeepFirstTier("near", "text", shingleSize = 2,
        threshold = 0.6)).toYaml).run(spark, w1)
    val out1 = r1.funnel.collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(out1("near") == 2L, s"keep-first must drop one of the pair: $out1")
    // preferring: the TRUSTED wiki copy survives deterministically
    val w2 = java.nio.file.Files.createTempDirectory("graft_bcfg_nt2").toString
    BatchConfig.fromYaml(spec(
      BatchConfig.NearPreferringTier("near", "text", "trust", shingleSize = 2,
        threshold = 0.6)).toYaml).run(spark, w2)
    val survivors = spark.read.parquet(s"$w2/shards")
      .select("url").as[String].collect().toSet
    assert(survivors == Set("https://wiki.example.org/a",
      "https://other.example.com/b"), s"trust election broke: $survivors")
    // keep-largest-cc: the family elects its LARGEST member (the scraper
    // copy has 6 tokens vs wiki's 5) — funnel parity with the hand-coded
    // Dedup call on the same frame
    val w3 = java.nio.file.Files.createTempDirectory("graft_bcfg_nt3").toString
    val r3 = BatchConfig.fromYaml(spec(
      BatchConfig.NearLargestCcTier("near", "text", "tok", shingleSize = 2,
        threshold = 0.6)).toYaml).run(spark, w3)
    val surv3 = spark.read.parquet(s"$w3/shards")
      .select("url").as[String].collect().toSet
    assert(surv3 == Set("https://scraper.example.net/a",
      "https://other.example.com/b"), s"size election broke: $surv3")
    val out3 = r3.funnel.collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(out3("near") == 2L, s"cc tier must keep one per family: $out3")
  }

  test("wds shard export + wds front door: config-driven tar round trip") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_wds").toString
    (0 until 6).map(i => (s"https://a.example.com/$i",
        s"document number $i with some body words"))
      .toDF("url", "html").coalesce(1).write.mode("overwrite").json(srcDir)
    val spec = BatchConfig.BatchSpec(
      version = 1, name = "wds_export",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("url STRING, html STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(url)",
      prepare = Seq("text" -> "html", "tok" -> "token_count(text)"),
      select = Seq("url", "text", "tok"),
      dedup = Seq(BatchConfig.ExactTier("dedup_text", Seq("text"))),
      gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = Some(BatchConfig.ShardSpec(2, "wds", Some("text"),
        meta = Seq("url"))))
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg_wdsw").toString
    val res = BatchConfig.fromYaml(spec.toYaml).run(spark, work)
    // tars landed and the manifest accounts every survivor
    assert(new java.io.File(s"$work/shards").listFiles()
      .exists(_.getName.endsWith(".tar")))
    val exported = res.shardManifest.get
      .agg(sum(col("docs"))).head().getLong(0)
    assert(exported == 6L, s"expected 6 exported docs, got $exported")
    // the declared meta column rides each sample's sidecar
    val (wrows, _) = graft.sources.Wds.read(spark, s"$work/shards")
    assert(wrows.where(get_json_object(col("meta"), "$.url")
      .startsWith("https://a.example.com/")).count() == 6L)
    // ...and the shards feed straight back through the wds FRONT DOOR
    val spec2 = BatchConfig.BatchSpec(
      version = 1, name = "wds_reingest",
      sources = Seq(BatchConfig.Source("wds", s"$work/shards")),
      idName = "rid", idExpr = "xxhash64(key)",
      prepare = Seq("tok" -> "token_count(text)"),
      select = Seq("key", "text", "tok"),
      dedup = Seq(BatchConfig.ExactTier("dedup_text", Seq("text"))),
      gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = None)
    assert(spec2.validate(spark).isEmpty, spec2.validate(spark).toString)
    val w2 = java.nio.file.Files.createTempDirectory("graft_bcfg_wdsr").toString
    val res2 = BatchConfig.fromYaml(spec2.toYaml).run(spark, w2)
    assert(res2.ingested == 6L && res2.quarantined == 0L)
    val out2 = res2.funnel.collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(out2("nonempty") == 6L, s"re-ingested survivors: $out2")
  }

  test("wds sidecar provenance recipe: export meta -> re-ingest map -> domain cap") {
    // VERDICT r17 #5: the export→re-ingest provenance loop. A wds export
    // carries `url` in each sample's json sidecar; the wds FRONT DOOR
    // pulls it back out with a `map:` stanza (get_json_object over the
    // raw `meta` column), derives the registrable domain, and a
    // cap_per_key tier caps docs per domain — provenance written by one
    // pipeline is actionable curation input to the next.
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_prov").toString
    ((0 until 5).map(i => (s"https://crawl.example.com/page$i",
        s"example dot com document $i body words here")) ++
      (0 until 2).map(i => (s"https://other.example.org/p$i",
        s"example dot org document $i body words here")))
      .toDF("url", "html").coalesce(1).write.mode("overwrite").json(srcDir)
    val exportSpec = BatchConfig.BatchSpec(
      version = 1, name = "prov_export",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("url STRING, html STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(url)",
      prepare = Seq("text" -> "html", "tok" -> "token_count(text)"),
      select = Seq("url", "text", "tok"),
      dedup = Seq(BatchConfig.ExactTier("dedup_text", Seq("text"))),
      gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = Some(BatchConfig.ShardSpec(2, "wds", Some("text"),
        meta = Seq("url"))))
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg_provw").toString
    BatchConfig.fromYaml(exportSpec.toYaml).run(spark, work)
    // re-ingest through the wds front door: map pulls the sidecar url
    // back into a real column, prepare derives the domain, the cap tier
    // keeps at most 3 docs per registrable domain (lowest ids win)
    val reingestSpec = BatchConfig.BatchSpec(
      version = 1, name = "prov_reingest",
      sources = Seq(BatchConfig.Source("wds", s"$work/shards",
        map = Seq(
          "key" -> "key",
          "text" -> "text",
          "url" -> "get_json_object(meta, '$.url')"))),
      idName = "rid", idExpr = "xxhash64(key)",
      prepare = Seq(
        "domain" -> "registrable_domain(url)",
        "tok" -> "token_count(text)"),
      select = Seq("key", "text", "url", "domain", "tok"),
      dedup = Seq(BatchConfig.CapTier("domain_cap", "domain", max = 3)),
      gates = Seq("nonempty" -> "tok >= 1"),
      decontaminate = None, weight = Some("tok"), sample = None, shards = None)
    assert(reingestSpec.validate(spark).isEmpty,
      reingestSpec.validate(spark).toString)
    val w2 = java.nio.file.Files.createTempDirectory("graft_bcfg_provr").toString
    val res = BatchConfig.fromYaml(reingestSpec.toYaml).run(spark, w2)
    assert(res.ingested == 7L && res.quarantined == 0L)
    val funnel = res.funnel.collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    // example.com capped 5 → 3, example.org stays 2 → 5 survivors
    assert(funnel("domain_cap") == 5L, s"domain cap funnel: $funnel")
    assert(funnel("nonempty") == 5L, s"survivors: $funnel")
  }

  test("code-corpus curation as config: the r19 code family drives prepare + gates") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_code").toString
    Seq(
      // survives: permissive, not autogen
      ("src/good.py", "# SPDX-License-Identifier: MIT\nx = 1  # ok\nprint(x)"),
      // re-headered copy of good.py: identical AFTER strip_comments — the
      // dedup-key normalization the family exists for
      ("src/good2.py", "# SPDX-License-Identifier: MIT\nx = 1  # rewritten\nprint(x)"),
      // copyleft phrase -> permissive gate drops it
      ("src/viral.c", "/* GNU General Public License */\nint x; // c"),
      // MIT but auto-generated -> shape gate drops it
      ("src/gen.js", "// Generated by protoc. DO NOT EDIT\n// SPDX-License-Identifier: MIT\nvar a = 1;"),
      // extensionless, shebang routes to python; survives
      ("bin/tool", "#!/usr/bin/env python\n# SPDX-License-Identifier: MIT\ny = 2"))
      .toDF("path", "raw").coalesce(1).write.mode("overwrite").json(srcDir)
    val spec = BatchConfig.BatchSpec(
      version = 1, name = "code_batch",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("path STRING, raw STRING"))),
      idName = "ingest_id", idExpr = "xxhash64(path)",
      prepare = Seq(
        "lang" -> "code_language(path, raw)",
        "text" -> "strip_comments(raw, lang)",
        "permissive" -> "detect_license(raw).permissive",
        "autogen" -> "code_stats(raw).autogen",
        "tok" -> "token_count(text)"),
      select = Seq("path", "lang", "text", "permissive", "autogen", "tok"),
      dedup = Seq(BatchConfig.ExactTier("dedup_stripped", Seq("text"))),
      gates = Seq("license" -> "permissive", "not_autogen" -> "NOT autogen"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = Some(BatchConfig.ShardSpec(1)))
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg_codew").toString
    val res = BatchConfig.fromYaml(spec.toYaml).run(spark, work)
    val funnel = res.funnel.collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(funnel("dedup_stripped") == ((5L, 1L, 4L)),
      s"the re-headered copy must collapse after strip_comments: $funnel")
    assert(funnel("license") == ((4L, 1L, 3L)), s"GPL file must gate out: $funnel")
    assert(funnel("not_autogen") == ((3L, 1L, 2L)), s"autogen must gate out: $funnel")
    val out = spark.read.parquet(s"$work/shards")
      .select("path", "lang").as[(String, String)].collect().toMap
    assert(out.keySet.contains("bin/tool") && out.size == 2 &&
      (out.contains("src/good.py") || out.contains("src/good2.py")), s"$out")
    assert(out("bin/tool") == "python", "shebang routing must reach the config layer")
  }

  test("validate dry-resolves the whole chain and localizes errors") {
    val good = batchSpec("/tmp/does_not_exist_w", "/tmp/does_not_exist_j")
    assert(good.validate(spark).isEmpty,
      s"good config must validate clean: ${good.validate(spark)}")
    val bad = good.copy(
      prepare = good.prepare :+ ("broken" -> "no_such_function(text)"),
      gates = good.gates :+ ("ghost" -> "no_such_column > 1"))
    val errs = bad.validate(spark)
    assert(errs.exists(_._1 == "prepare broken"), errs.toString)
    assert(errs.exists(_._1 == "gate ghost"), errs.toString)
    // the shards leg dry-resolves too: a typo'd wds text column is a
    // validate-time error, not a run-time AnalysisException
    val badShards = good.copy(
      shards = Some(BatchConfig.ShardSpec(8, "wds", Some("txet"))))
    assert(badShards.validate(spark).exists(_._1 == "shards"),
      badShards.validate(spark).toString)
    // validation never touched the (nonexistent) source paths
  }

  test("config run: quarantine file, stage walls, sample totals, slim shards") {
    val (warcDir, jsonlDir) = graft.BatchPipeline.stagedOnce(spark, src)
    val qDir = java.nio.file.Files.createTempDirectory("graft_bcfg_q").toString
    val s0 = batchSpec(warcDir, jsonlDir)
    val yaml = s0.copy(sources = s0.sources.map {
      case s if s.format == "jsonl" => s.copy(quarantineDir = Some(s"$qDir/jsonl"))
      case s => s
    }).toYaml
    val parsed = BatchConfig.fromYaml(yaml) // run what a reviewer reads
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg").toString
    val res = parsed.run(spark, work)
    assert(res.quarantined == 4L)
    // the configured quarantine dir holds the 3 corrupt JSONL lines verbatim
    assert(spark.read.parquet(s"$qDir/jsonl").count() == 3L)
    // every stage of the chain recorded its wall time, in run order
    assert(res.stages.map(_._1) == Seq("ingest_extract", "dedup", "gates",
      "funnel", "sample", "write_shards"))
    // the result's funnel is the written artifact: 8 stages, first-fail
    // waterfall from the ingested total
    val funnel = res.funnel.collect().sortBy(_.getInt(0))
    assert(funnel.length == 8 &&
      spark.read.parquet(s"$work/funnel.parquet").count() == 8L)
    assert(funnel.head.getLong(2) == res.ingested)
    // the sample budget came from the survivors' token mass — the
    // funnel's last weight_out (weight is tok)
    assert(res.survivorTokens.contains(funnel.last.getLong(7)))
    // the sampled frame is the exported one: every sampled row is a shard doc
    val manifest = res.shardManifest.get
    val shardDocs = manifest.agg(sum(col("docs"))).head().getLong(0)
    assert(shardDocs > 0L && shardDocs == res.sampled.count())
    // the shard export carries ONLY the declared base columns — none of
    // the graft_ flag/gate/leak funnel plumbing (ADVICE r16)
    val shardCols = spark.read.parquet(s"$work/shards").columns.toSet
    assert(shardCols == (s0.select.toSet + s0.idName + "shard"),
      s"shard export schema leaked internals: $shardCols")
  }

  test("mix stanza: yaml round-trip, validate, gained-mass funnel row, bit-identical to the hand-coded mixCorpora chain") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bcfg_mix").toString
    (1L to 60L).map(i => (i, ("w" + i + " ") * (i % 5 + 2).toInt))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").json(srcDir)
    val spec = BatchConfig.BatchSpec(
      version = 1, name = "mix_batch",
      sources = Seq(BatchConfig.Source("jsonl", srcDir,
        schemaDdl = Some("doc_id BIGINT, text STRING"))),
      idName = "did", idExpr = "doc_id",
      prepare = Seq("tok" -> "token_count(text)"),
      select = Seq("text", "tok"),
      dedup = Nil, gates = Seq("tokens" -> "tok >= 3"),
      decontaminate = None, weight = Some("tok"), sample = None,
      shards = Some(BatchConfig.ShardSpec(2, "wds", Some("text"),
        meta = Seq("mix_source", "mix_copy"))),
      mix = Some(BatchConfig.MixSpec("pretrain_mix", Seq(
        BatchConfig.MixSource("wiki", Some("did % 3 = 0"), 2.5),
        BatchConfig.MixSource("cc", Some("did % 3 <> 0"), 0.375)))))
    // the pretraining-mix decision round-trips as reviewable YAML
    assert(BatchConfig.fromYaml(spec.toYaml) == spec)
    // validate dry-resolves each mix source; a broken predicate reports
    // at the mix stage before any data is touched
    assert(spec.validate(spark).isEmpty, spec.validate(spark))
    val bad = spec.copy(mix = Some(BatchConfig.MixSpec("m",
      Seq(BatchConfig.MixSource("a", Some("no_such_col > 1"), 1.0)))))
      .validate(spark)
    assert(bad.exists(_._1.startsWith("mix")), bad)
    // run the configured chain
    val work = java.nio.file.Files.createTempDirectory("graft_bcfg_mixw").toString
    val res = BatchConfig.fromYaml(spec.toYaml).run(spark, work)
    val funnel = res.funnel.collect().sortBy(_.getInt(0))
    assert(funnel.map(_.getString(1)).toSeq == Seq("tokens", "pretrain_mix"))
    val gateRow = funnel.head
    val mixRow = funnel.last
    // oversampled copies are charged as GAINED mass: negative dropped,
    // conservation (out = in − dropped) intact, and the mix row's input
    // is exactly the funnel tail (no sample stage configured)
    assert(mixRow.getLong(3) < 0L && mixRow.getLong(6) < 0L, mixRow.toString)
    assert(mixRow.getLong(4) == mixRow.getLong(2) - mixRow.getLong(3))
    assert(mixRow.getLong(7) == mixRow.getLong(5) - mixRow.getLong(6))
    assert(mixRow.getLong(2) == gateRow.getLong(4) &&
      mixRow.getLong(5) == gateRow.getLong(7))
    // bit-identity: the hand-coded ingest → gate → mixCorpora → Wds.write
    // chain produces byte-identical tar shards
    val handDir = java.nio.file.Files.createTempDirectory("graft_bcfg_mixh").toString
    val (raw, _) = graft.sources.Jsonl.read(spark, srcDir,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    val surv = raw.select(col("doc_id").as("did"), col("text"))
      .withColumn("tok", graft.pipeline.Text.tokenCount(col("text")))
      .where(col("tok") >= 3)
    val mixed = Curation.mixCorpora(Seq(
      ("wiki", surv.where(expr("did % 3 = 0")), 2.5),
      ("cc", surv.where(expr("did % 3 <> 0")), 0.375)), col("did"))
    graft.sources.Wds.write(mixed, col("mix_id"), col("text"), col("tok"),
      handDir, 2, metaCols = Seq("mix_source" -> col("mix_source"),
        "mix_copy" -> col("mix_copy")))
    def tarBytes(dir: String): Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val got = tarBytes(s"$work/shards")
    val want = tarBytes(handDir)
    assert(got.keySet == want.keySet && got.keySet.nonEmpty, got.keySet)
    got.keySet.foreach(k =>
      assert(got(k) == want(k), s"shard $k diverged from the hand-coded chain"))
  }
}
