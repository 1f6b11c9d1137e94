package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stage-boundary restartability of the composed batch pipeline
 * (VERDICT r15 next-round #5): with a stageDir, a killed chain resumes
 * from the last COMMITTED stage — never from raw WARC — and produces
 * bit-identical funnel and shards; torn stage writes read as absent. */
class StageResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString
  private def funnelRows(work: String) =
    spark.read.parquet(s"$work/funnel.parquet").collect().sortBy(_.getInt(0))
  private def shardRows(work: String) =
    spark.read.parquet(s"$work/shards")
      .select(col("shard"), col("ingest_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted
  private def jsonLong(s: String, key: String): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(s).get.group(1).toLong

  test("resume skips committed stages and reproduces funnel + shards bit-for-bit") {
    val stages = tmp("graft_stage_dir")
    val (w1, w2, w3) = (tmp("graft_sr1"), tmp("graft_sr2"), tmp("graft_sr3"))

    // first full run commits both stages
    val s1 = BatchPipeline.run(spark, src, w1, Some(stages))

    // "crash after the gates": everything committed — a re-run must not
    // re-parse a single WARC file (the front-door parse IS the cost at
    // 100 TB) and must land identical artifacts
    val parsedBefore = graft.sources.WarcAlgos.filesParsed.get()
    val s2 = BatchPipeline.run(spark, src, w2, Some(stages))
    assert(graft.sources.WarcAlgos.filesParsed.get() == parsedBefore,
      "resume from the flagged stage re-parsed WARC")
    assert(funnelRows(w1).toSeq == funnelRows(w2).toSeq, "funnel diverged on resume")
    assert(shardRows(w1).toSeq == shardRows(w2).toSeq, "shards diverged on resume")
    Seq("ingested", "quarantined", "survivor_tokens", "sampled_rows",
      "shard_docs").foreach { k =>
      assert(jsonLong(s1, k) == jsonLong(s2, k), s"summary $k diverged")
    }

    // "crash between base and flagged": drop the flagged stage — the
    // re-run recomputes dedup+gates FROM THE COMMITTED BASE, still never
    // touching raw WARC, and the funnel is bit-identical
    def rmTree(p: String): Unit = {
      val d = new java.io.File(p)
      if (d.isDirectory) d.listFiles().foreach(f => rmTree(f.getPath))
      d.delete()
    }
    rmTree(s"$stages/flagged")
    val parsedBefore2 = graft.sources.WarcAlgos.filesParsed.get()
    BatchPipeline.run(spark, src, w3, Some(stages))
    assert(graft.sources.WarcAlgos.filesParsed.get() == parsedBefore2,
      "resume from the base stage re-parsed WARC")
    assert(funnelRows(w1).toSeq == funnelRows(w3).toSeq,
      "funnel diverged when recomputed from the committed base")
  }

  test("reliable-checkpoint posture: durable truncation + stageDir, identical artifacts") {
    // VERDICT r16 #4: localCheckpoint blocks are executor-local and die
    // with the executor — the cluster posture is stageDir commits plus
    // spark.graft.reliableCheckpoints=true with a fault-tolerant
    // checkpoint dir. The chain must run with localCheckpoint OFF for
    // every chain frame and produce bit-identical funnel + shards.
    val sc = spark.sparkContext
    // misconfiguration fails loudly, not silently-local (only testable
    // while this JVM has no checkpoint dir yet)
    if (sc.getCheckpointDir.isEmpty) {
      spark.conf.set(graft.pipeline.Checkpoints.ReliableConf, "true")
      try intercept[IllegalArgumentException] {
        graft.pipeline.Checkpoints.stage(spark.range(3).toDF())
      } finally spark.conf.set(graft.pipeline.Checkpoints.ReliableConf, "false")
    }
    val (wl, wr) = (tmp("graft_rc_local"), tmp("graft_rc_rel"))
    val sLocal = BatchPipeline.run(spark, src, wl)
    val ckpt = tmp("graft_rc_ckpt")
    sc.setCheckpointDir(ckpt)
    spark.conf.set(graft.pipeline.Checkpoints.ReliableConf, "true")
    try {
      val sRel = BatchPipeline.run(spark, src, wr, Some(tmp("graft_rc_stage")))
      assert(funnelRows(wl).toSeq == funnelRows(wr).toSeq,
        "funnel diverged under reliable checkpoints")
      assert(shardRows(wl).toSeq == shardRows(wr).toSeq,
        "shards diverged under reliable checkpoints")
      Seq("ingested", "quarantined", "survivor_tokens").foreach { k =>
        assert(jsonLong(sLocal, k) == jsonLong(sRel, k), s"summary $k diverged")
      }
      // the reliable path actually engaged: rdd checkpoint dirs appeared
      def anyRdd(f: java.io.File): Boolean = f.isDirectory &&
        (f.getName.startsWith("rdd-") || f.listFiles().exists(anyRdd))
      assert(anyRdd(new java.io.File(ckpt)),
        "no reliable checkpoint was written under the checkpoint dir")
    } finally spark.conf.set(graft.pipeline.Checkpoints.ReliableConf, "false")
  }

  test("config path resumes from committed stages; an edited config is refused") {
    val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(spark, src)
    val spec = BatchPipeline.configTwin(src, warcDir, jsonlDir)
      .copy(sample = None, shards = None)
    val stages = tmp("graft_stage_cfg")
    val (w1, w2) = (tmp("graft_cfg_r1"), tmp("graft_cfg_r2"))
    val r1 = spec.run(spark, w1, Some(stages))
    // everything committed: the re-run must not re-parse a single WARC
    // file and must land an identical funnel
    val parsedBefore = graft.sources.WarcAlgos.filesParsed.get()
    val r2 = spec.run(spark, w2, Some(stages))
    assert(graft.sources.WarcAlgos.filesParsed.get() == parsedBefore,
      "config resume re-parsed WARC")
    assert(funnelRows(w1).toSeq == funnelRows(w2).toSeq,
      "config funnel diverged on resume")
    assert(r1.ingested == r2.ingested && r1.quarantined == r2.quarantined)
    // "crash between base and flagged": drop the flagged stage — the
    // config path recomputes dedup+gates FROM ITS COMMITTED BASE, still
    // never touching raw WARC, and the funnel is bit-identical
    def rmTree(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(x => rmTree(x.getPath))
      f.delete()
    }
    rmTree(s"$stages/flagged")
    val parsedBefore2 = graft.sources.WarcAlgos.filesParsed.get()
    val w3 = tmp("graft_cfg_r3")
    spec.run(spark, w3, Some(stages))
    assert(graft.sources.WarcAlgos.filesParsed.get() == parsedBefore2,
      "config base-stage resume re-parsed WARC")
    assert(funnelRows(w1).toSeq == funnelRows(w3).toSeq,
      "config funnel diverged when recomputed from the committed base")
    // an EDITED config must not silently consume another config's stages
    // (checked on BOTH stage legs)
    val edited = spec.copy(gates = spec.gates :+ ("extra" -> "tok >= 1"))
    val e = intercept[IllegalArgumentException] {
      edited.run(spark, tmp("graft_cfg_r4"), Some(stages))
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    rmTree(s"$stages/flagged")
    val e2 = intercept[IllegalArgumentException] {
      edited.run(spark, tmp("graft_cfg_r5"), Some(stages))
    }
    assert(e2.getMessage.contains("fingerprint"), e2.getMessage)
    // a stageDir committed WITHOUT a config fingerprint is foreign —
    // refused, not silently consumed (checked on BOTH stage legs)
    val foreign = tmp("graft_stage_foreign")
    val frame = spark.read.parquet(s"$stages/base")
    graft.pipeline.Incremental.commitStage(spark, s"$foreign/base", frame,
      Map("quarantined" -> 4L))
    graft.pipeline.Incremental.commitStage(spark, s"$foreign/flagged", frame,
      Map("quarantined" -> 4L))
    val e3 = intercept[IllegalArgumentException] {
      spec.run(spark, tmp("graft_cfg_r6"), Some(foreign))
    }
    assert(e3.getMessage.contains("fingerprint"), e3.getMessage)
    rmTree(s"$foreign/flagged")
    val e4 = intercept[IllegalArgumentException] {
      spec.run(spark, tmp("graft_cfg_r7"), Some(foreign))
    }
    assert(e4.getMessage.contains("fingerprint"), e4.getMessage)
  }

  test("resume under a different pii policy is refused, not silently mislabeled") {
    val stages = tmp("graft_stage_pii")
    BatchPipeline.run(spark, src, tmp("graft_sr_pii1"), Some(stages))
    // drop-committed flagged stage + redact request → loud failure (the
    // committed frame has no raw weight and its pii flag means something
    // else): the twin's fingerprint differs
    val e = intercept[IllegalArgumentException] {
      BatchPipeline.run(spark, src, tmp("graft_sr_pii2"), Some(stages),
        piiPolicy = "redact")
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    // same-policy resume still works
    BatchPipeline.run(spark, src, tmp("graft_sr_pii3"), Some(stages))
  }

  test("torn stage writes read as absent, never as a partial table") {
    import graft.pipeline.Incremental
    val d = tmp("graft_stage_torn")
    val df = spark.range(0, 10).selectExpr("id AS ingest_id")
    Incremental.commitStage(spark, s"$d/s", df, Map("quarantined" -> 7L))
    assert(Incremental.committedStage(spark, s"$d/s"))
    assert(Incremental.stageMeta(spark, s"$d/s") == Map("quarantined" -> 7L))
    // idempotent: recommit leaves the committed copy untouched
    Incremental.commitStage(spark, s"$d/s", spark.range(0, 99)
      .selectExpr("id AS ingest_id"), Map("quarantined" -> 1L))
    assert(Incremental.stageMeta(spark, s"$d/s") == Map("quarantined" -> 7L))
    // an in-flight tmp marker vetoes the commit
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$d/s__stage_tmp"))
    assert(!Incremental.committedStage(spark, s"$d/s"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d/s__stage_tmp"))
    // a crash between rename and manifest delete: count match accepts +
    // heals; a mismatching manifest rejects the dir
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/s__stage_manifest"), "999")
    assert(!Incremental.committedStage(spark, s"$d/s"))
    val realCount = new java.io.File(s"$d/s").listFiles()
      .count(_.getName.endsWith(".parquet"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/s__stage_manifest"), realCount.toString)
    assert(Incremental.committedStage(spark, s"$d/s"))
    assert(!new java.io.File(s"$d/s__stage_manifest").exists(),
      "verified manifest must be cleaned up")
  }
}
