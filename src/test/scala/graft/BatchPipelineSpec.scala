package graft

import org.scalatest.funsuite.AnyFunSuite

/** The composed batch pipeline (BatchPipeline.run) end to end at sf0.001:
 * every stage of the production chain — WARC/JSONL front door, extract +
 * repair + canonicalize, three dedup tiers, four gates, decontamination,
 * temperature sample, shard export — runs as ONE job, each planted
 * fixture is dropped by exactly the stage built to catch it, the funnel
 * accounts for the whole chain, and no stage's plan regresses to a
 * cartesian. */
class BatchPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val src = "/root/testdata/sf0.001"
  private lazy val work = java.nio.file.Files
    .createTempDirectory("graft_pipe_spec").toString
  private lazy val summary = BatchPipeline.run(spark, src, work)
  private def jsonLong(key: String, in: => String = summary): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(in)
      .map(_.group(1).toLong)
      .getOrElse(fail(s"$key missing in $in"))

  test("runs end to end: quarantines exact, shards consistent, no cartesians") {
    // 3 corrupt JSONL lines + 1 malformed WARC region, nothing else
    assert(jsonLong("quarantined") == 4L, summary)
    // every sampled row landed in a shard (manifest re-read from disk)
    assert(jsonLong("shard_docs") == jsonLong("sampled_rows"), summary)
    assert(jsonLong("sampled_rows") > 0L, summary)
    // composition must not flip any join regime
    assert(jsonLong("cartesian") == 0L && jsonLong("bnlj") == 0L, summary)
  }

  test("funnel covers the whole chain and every planted fixture is caught") {
    summary // force the pipeline: each test must be runnable alone (ADVICE r15)
    val rows = spark.read.parquet(s"$work/funnel.parquet")
      .orderBy("stage").collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.map(_._1).toSeq == Seq("dedup_url", "dedup_content",
      "dedup_near", "tokens", "langid", "gopher", "pii", "decontaminate"))
    val drops = rows.toMap
    // waterfall: each stage's rows_in is the previous stage's rows_out
    rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a._3 == b._1, s"waterfall broke between stages: $a -> $b")
    }
    // the %37 URL variants, %41 mirrors, %43 near-copies, %53 PII docs and
    // %97 benchmark leaks each die at their own stage
    assert(drops("dedup_url")._2 > 0, "tracking-param variants not collapsed")
    assert(drops("dedup_content")._2 > 0, "byte-identical mirrors survived")
    assert(drops("dedup_near")._2 > 0, "near-copies survived")
    assert(drops("pii")._2 > 0, "PII-planted docs survived")
    assert(drops("decontaminate")._2 > 0, "benchmark leaks survived")
  }

  test("dedup tiers thread off checkpointed survivors: one aggregate per exact tier") {
    // VERDICT r15 what's-wrong #1: materializing the text/near tiers must
    // not re-execute upstream tiers through lazy lineage. Pin the plan
    // shape via the tier loop's checkpoint seam (the chain's own config
    // twin): each exact tier's pre-checkpoint plan carries exactly ITS OWN
    // fingerprint aggregate, and every tier after the first reads the
    // previous tier's checkpointed RDD.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.functions._
    val base = spark.range(0, 50).selectExpr(
        "id AS ingest_id", "concat('u', id % 40) AS url",
        "concat('t', id % 30, ' words here') AS text",
        "CAST(10 + id % 5 AS LONG) AS tok")
      .persist()
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val Seq(u, t, n) = BatchPipeline.configTwin("/src", "/w", "/j")
      .tierIds(base, df => {
        plans += df.queryExecution.optimizedPlan
        df.localCheckpoint()
      })
    def aggs(p: LogicalPlan): Int = p.collect { case a: Aggregate => a }.size
    def rddScans(p: LogicalPlan): Int =
      p.collect { case r if r.getClass.getSimpleName == "LogicalRDD" => r }.size
    assert(plans.size == 3)
    assert(aggs(plans(0)) == 1, s"url tier: one fingerprint aggregate\n${plans(0)}")
    assert(aggs(plans(1)) == 1,
      s"text tier must NOT re-run the url tier's aggregate\n${plans(1)}")
    assert(rddScans(plans(1)) >= 1, "text tier must read the url checkpoint")
    assert(rddScans(plans(2)) >= 1, "near tier must read the text checkpoint")
    // and the tiers still dedup: 40 distinct urls, then 30 distinct texts
    assert(u.count() == 40L && t.count() == 30L && n.count() == 30L)
    base.unpersist()
  }

  test("multilingual corpus: langid->gopher scoping keeps EXACT non-en survivor mass") {
    // VERDICT r15 test-data gap: documents.text is English soup under every
    // lang label, so the langid-before-gopher scoping fix could only be
    // pinned by gate ORDER. This fixture makes it observable by MASS: a
    // 4-language corpus where every text passes its own language's gates,
    // non-en texts carry ZERO English Gopher stopwords (the|be|to|of|and|
    // that|have|with), and every per-language survivor count is exact by
    // construction. If the en-only Gopher scoping ever regresses to gating
    // all languages, es/de/fr survivors collapse to 0 and this fails.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 24 words each; own langid markers only; a unique token every 6th
    // slot (added below) keeps cross-doc 8-gram sharing under the
    // decontamination minShared and cross-doc Jaccard far below 0.7
    val templates = Seq(
      // en: markers the/and/of/is + >=2 gopher stopwords
      "the quick brown fox jumps and every morning of winter is bright " +
        "with calm frost that covers meadow paths near silent farms today",
      // es: markers el/la/los/que, no English stopwords
      "el perro la casa los gatos que corren rapido por plaza grande " +
        "cada manana soleada mientras ninos juegan felices bajo arboles verdes",
      // de: markers der/die/das/und
      "der hund die katze das haus und garten laufen schnell durch wiese " +
        "jeden morgen sonnig kinder spielen gerne unter hohen baumen dort",
      // fr: markers le/les/et/est (no 'que' — that's an es marker)
      "le chien les chats et maison est grande chaque matin ensoleille " +
        "pendant enfants jouent heureux sous grands arbres pres du village")
    val docs = (0 until 200).map { i =>
      val words = templates(i % 4).split("\\s+").grouped(5).zipWithIndex
        .flatMap { case (g, k) => g :+ s"u${i}x$k" }.toSeq
      (i.toLong, words.mkString(" "), s"src${i % 3}")
    }.toDF("doc_id", "text", "source")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_pipe_ml").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/documents.parquet")
    val mlWork = java.nio.file.Files.createTempDirectory("graft_pipe_ml_w").toString
    val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(spark, srcDir)
    // no sample: the result's sampled frame is every survivor
    val res = BatchPipeline.configTwin(srcDir, warcDir, jsonlDir)
      .copy(sample = None, shards = None).run(spark, mlWork)
    val surv = res.sampled.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 50 docs per language; PII plants (%53: ids 0,53,106,159) and
    // benchmark leaks (%97: ids 0,97,194) drop their doc exactly once
    // (id 0 carries both — it still drops once); ids mod 4 place the
    // drops: en loses {0}, es loses {53, 97}, de loses {106, 194},
    // fr loses {159}. Everything else survives — including every non-en
    // doc that the unscoped English Gopher gate would have deleted.
    assert(surv == Map("en" -> 49L, "es" -> 48L, "de" -> 48L, "fr" -> 49L),
      s"per-language survivors diverged: $surv")
  }

  test("pii redact policy: rows kept, spans scrubbed, mass conserved") {
    import org.apache.spark.sql.functions._
    val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(spark, src)
    val w1 = java.nio.file.Files.createTempDirectory("graft_pipe_redact").toString
    // no sample: the result's sampled frame is every survivor
    val res = BatchPipeline.configTwin(src, warcDir, jsonlDir, piiPolicy = "redact")
      .copy(sample = None, shards = None).run(spark, w1)
    val funnel = res.funnel.orderBy("stage").collect()
    val byGate = funnel.map(r => r.getString(1) -> r).toMap
    // redact keeps every row at the pii stage...
    assert(byGate("pii").getAs[Long]("rows_dropped") == 0L)
    // ...so the %53 PII-planted docs flow on to decontamination instead of
    // dying: pii rows_out must exceed the drop-policy run's
    summary // force the (drop-policy) pipeline
    val dropPii = spark.read.parquet(s"$work/funnel.parquet")
      .where(col("gate") === "pii").head()
    assert(dropPii.getAs[Long]("rows_dropped") > 0L)
    assert(byGate("pii").getAs[Long]("rows_out") >
      dropPii.getAs[Long]("rows_out"))
    // token-mass conservation through the staged accounting
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("rows_out") == b.getAs[Long]("rows_in"))
      assert(a.getAs[Long]("weight_out") == b.getAs[Long]("weight_in"),
        s"mass leak between ${a.getString(1)} and ${b.getString(1)}")
    }
    // survivors carry SCRUBBED text: no raw email anywhere, markers present
    assert(res.sampled.where(col("text")
      .rlike(graft.pipeline.Pii.emailRe)).count() == 0L)
    assert(res.sampled.where(col("text").contains("<EMAIL>")).count() > 0L)
  }

  test("wds shard leg matches the parquet leg under full and manifest verify") {
    import org.apache.spark.sql.functions._
    summary // the parquet leg
    def funnelRows(f: org.apache.spark.sql.DataFrame) = f.collect().sortBy(_.getInt(0)).toSeq
    val parquetFunnel = funnelRows(spark.read.parquet(s"$work/funnel.parquet"))
    // full read-back verify: BatchPipeline.run's wds leg (its default posture)
    val wFull = java.nio.file.Files.createTempDirectory("graft_pipe_wds").toString
    val full = BatchPipeline.run(spark, src, wFull, shardFormat = "wds")
    assert(jsonLong("sampled_rows", full) == jsonLong("sampled_rows"), full)
    assert(jsonLong("shard_docs", full) == jsonLong("shard_docs"), full)
    assert(funnelRows(spark.read.parquet(s"$wFull/funnel.parquet")) == parquetFunnel)
    assert(new java.io.File(s"$wFull/shards").listFiles().exists(_.getName.endsWith(".tar")))
    // manifest verify: the same twin with ShardSpec.verify = manifest
    val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(spark, src)
    val twin = BatchPipeline.configTwin(src, warcDir, jsonlDir)
    val wds = graft.pipeline.BatchConfig.ShardSpec(32, "wds", Some("text"),
      meta = Seq("url", "domain"), verify = "manifest")
    val wMan = java.nio.file.Files.createTempDirectory("graft_pipe_wdsm").toString
    val res = twin.copy(shards = Some(wds)).run(spark, wMan)
    assert(res.sampled.count() == jsonLong("sampled_rows"))
    assert(res.shardManifest.get.agg(sum(col("docs"))).head().getLong(0) ==
      jsonLong("shard_docs"))
    assert(funnelRows(res.funnel) == parquetFunnel)
  }

  test("artifacts land: datacard, funnel markdown, shard files") {
    summary // force the pipeline: each test must be runnable alone (ADVICE r15)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(work, "datacard.md")).contains("Curated corpus"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(work, "funnel.md")).contains("dedup_near"))
    val shards = new java.io.File(s"$work/shards").listFiles()
    assert(shards != null && shards.exists(_.getName.startsWith("shard=")))
  }
}
