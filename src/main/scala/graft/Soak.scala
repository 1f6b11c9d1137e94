package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * sf1.0 scale soak (VERDICT r11 next-round item #2): the correctness gate
 * runs at sf0.01 and the bench at sf0.1 — this main pushes the HEAVY
 * operator families (dedup / graph / retrieval / ANN / layout) one further
 * 10x and audits the AQE-final physical plans for scale regressions
 * (a join regime flip to CartesianProduct/BroadcastNestedLoopJoin, an
 * exchange-count explosion) that only real data volume provokes.
 *
 * The driver ships no sf1.0 tables (TESTDATA.md stops at sf0.1), so the
 * soak DERIVES them deterministically from the driver's sf0.1 parquet —
 * never synthesizing a new distribution, only replicating the driver's
 * rows 10x with disjoint key ranges:
 *   - every key column shifts by `replica * 10_000_000` (orderkeys by
 *     `replica * 100_000_000`), so FK joins stay consistent and the 10
 *     replicas are disjoint subgraphs — exactly what 10x more of the
 *     same crawl looks like;
 *   - `documents.text` in replicas 1..9 gets a seeded Fisher–Yates word
 *     shuffle (splitmix64 on (doc_id, replica)), so replicas are NOT
 *     accidental cross-replica near-duplicates: shingle/minhash/simhash
 *     workloads keep the corpus' natural duplicate rate, scaled 10x
 *     (the in-query dup fixtures plant their own copies per replica);
 *   - `embeddings.embedding` in replicas 1..9 rotates the float vector
 *     left by `replica` positions — same norm and coordinate histogram,
 *     different neighborhoods, so ANN structures see 10x genuine points.
 *
 * Usage (compare plans across scales by running both):
 *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g sbt -batch \
 *     "runMain graft.Soak /tmp/graft_sf1 derive"   # build derived tables
 *     "runMain graft.Soak /root/testdata/sf0.1 audit"  # baseline audit
 *     "runMain graft.Soak /tmp/graft_sf1 audit"        # 10x soak audit
 *
 * Emits one JSON line per query: wall seconds, result rows, and the plan
 * audit (cartesian/BNLJ flags, exchange/SMJ/BHJ counts) — SOAK_SF1.md is
 * authored from the two audit files.
 */
object Soak {

  /** Heavy families per the r11 verdict: dedup, graph, retrieval, ANN,
   * plus the layout write and the containment-join decontamination —
   * the queries whose join regimes and shuffle shapes carry scale risk.
   * Media fixtures (image/audio encode per row) are excluded: their cost
   * is fixture synthesis, not operator scaling. */
  val HeavyQueries: Seq[String] = Seq(
    // dedup family
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_clusters",
    "q_dedup_skew", "q_dedup_preferring", "q_dedup_spans", "q_dedup_lines",
    "q_dedup_paragraphs", "q_dedup_sentences", "q_dedup_crosscorpus",
    "q_curate", "q_decontaminate_containment", "q_semantic_dedup",
    "q_dedup_embedding",
    // graph family
    "q_pagerank_lineitem", "q_connected_components", "q_host_rank",
    "q_trustrank", "q_cocitation", "q_link_spam",
    // retrieval family
    "q_bm25_index_build", "q_bm25_search", "q_bm25_append", "q_hybrid_rrf",
    "q_tfidf", "q_top_ngrams",
    // ANN family
    "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf", "q_ann_sq", "q_ann_ivfsq",
    "q_ann_ivfpq", "q_ann_eval", "q_ann_multiprobe",
    // r12 additions: segment-blocked fuzzy joins, the cluster-keyed split
    // (a full nearDupClusters pass), CDC chunk join, HITS
    "q_fuzzy_join", "q_fuzzy_crosscorpus", "q_leakage_split", "q_cdc_dedup",
    "q_hits",
    // r12 second wave: blocked record linkage + CC entity resolution,
    // host-level mirror LSH, skyline's prune-then-finish joins
    "q_record_linkage", "q_entity_resolution", "q_mirror_hosts",
    "q_pareto_front",
    // r12 second wave: the new join/index/graph shapes with scale risk
    "q_similarity_join", "q_dedup_weighted", "q_sorted_neighborhood",
    "q_hard_negatives", "q_phrase_search", "q_proximity_search",
    "q_spell_correct", "q_best_snippet", "q_triangles", "q_clustering",
    "q_pagerank_weighted", "q_seed_distance", "q_frequent_pairs",
    "q_token_bucket", "q_interval_attribution",
    "q_dedup_weighted_drop", "q_similarity_crosscorpus", "q_kcore",
    "q_concentration", "q_rfm",
    // layout
    "q_zorder",
    // r14: the never-soaked backlog (r12 #10 + r13 additions) + the new
    // steady-state BM25 shape and modified-KN
    "q_streaming_e2e", "q_audio_phash", "q_scd2", "q_dp_count",
    "q_crawl_schedule_robots", "q_lm_kn", "q_robots_sitemaps",
    "q_bm25_search_steady", "q_lm_mkn", "q_dp_quantile", "q_dp_quantiles",
    // r17: the r16/r17 additions through the decade — composed chain via
    // config (both PII policies), the containment gate and span-length
    // report (r16, never soaked), cluster-true keep-largest, tar shards
    "q_pipeline_batch", "q_pipeline_yaml", "q_pipeline_redact",
    "q_containment_gate", "q_span_lengths", "q_dedup_keep_largest_cc",
    "q_wds_roundtrip",
    // r18: epoch-salted double export, gzip shards (spool-validated
    // decompressing ingest), weighted mixture (explode fan-out),
    // binary-parts round trip through the readBinary face
    "q_wds_epoch", "q_wds_gzip", "q_mixture", "q_wds_multimodal")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "audit"
    val spark = Harness.session()
    mode match {
      case "derive" => derive(spark, sys.env.getOrElse(
        "SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1"), dir)
      case "audit" => audit(spark, dir,
        sys.env.get("SPARK_GRAFT_SOAK_ONLY").map(_.split(",").toSet))
      case other => sys.error(s"unknown soak mode $other (derive|audit)")
    }
    spark.stop()
  }

  // ---------------------------------------------------------------- derive

  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Seeded Fisher–Yates over the words of `text` — same characters, same
   * word-length histogram, destroyed shingle identity. */
  private[graft] def shuffleWords(text: String, seed: Long): String = {
    if (text == null) return null
    val w = text.split(" ", -1)
    var i = w.length - 1
    var s = seed
    while (i > 0) {
      s = splitmix(s)
      val j = (((s >>> 1) % (i + 1)).toInt)
      val t = w(i); w(i) = w(j); w(j) = t
      i -= 1
    }
    w.mkString(" ")
  }

  /** Replica count for `derive` — default 10 (the decade soak);
   * SPARK_GRAFT_SOAK_REPLICAS=100 builds the 100× corpus (VERDICT r18
   * #5: push the composed-chain evidence one decade further). KeyShift
   * bounds replicas at 2000 before id ranges would overlap the next
   * shifted table's space; 100 stays far inside every long. */
  private val Replicas =
    sys.env.get("SPARK_GRAFT_SOAK_REPLICAS").map(_.toInt).getOrElse(10)
  private val KeyShift = 10000000L
  private val OrderShift = 100000000L

  /** Write the derived 10x tables under `out` (one subdir per table, same
   * names the driver uses, so SparkEntry.queries run on `out` unchanged). */
  def derive(spark: SparkSession, src: String, out: String): Unit = {
    import spark.implicits._
    val reps = spark.range(0, Replicas).select(col("id").cast("int").as("rep"))

    def cross(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet").crossJoin(broadcast(reps))
    def shifted(c: String, by: Long = KeyShift) = col(c) + col("rep") * by

    // tiny dims replicate 1x — nationkey/regionkey FKs stay unshifted
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet") }

    cross("customer").withColumn("c_custkey", shifted("c_custkey"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/customer.parquet")
    cross("supplier").withColumn("s_suppkey", shifted("s_suppkey"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/supplier.parquet")
    cross("part").withColumn("p_partkey", shifted("p_partkey"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/part.parquet")
    cross("orders")
      .withColumn("o_orderkey", shifted("o_orderkey", OrderShift))
      .withColumn("o_custkey", shifted("o_custkey"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/orders.parquet")
    cross("lineitem")
      .withColumn("l_orderkey", shifted("l_orderkey", OrderShift))
      .withColumn("l_partkey", shifted("l_partkey"))
      .withColumn("l_suppkey", shifted("l_suppkey"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    cross("events")
      .withColumn("event_id", shifted("event_id", OrderShift))
      .withColumn("user_id", shifted("user_id"))
      .drop("rep").write.mode("overwrite").parquet(s"$out/events.parquet")

    // typed maps, not UDFs: fixture-derivation per-row work, one pass each
    cross("documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("rep"))
      .as[(Long, String, String, String, Int)]
      .map { case (id, t, lang, source, rep) =>
        val text = if (rep == 0) t else shuffleWords(t, splitmix(id * 31L + rep))
        (id + rep * KeyShift, text, lang, source,
          if (text == null) 0L else text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    cross("embeddings")
      .select(col("vec_id"), col("embedding"), col("label"), col("rep"))
      .as[(Long, Seq[Float], Int, Int)]
      .map { case (id, v, label, rep) =>
        val e = if (rep == 0 || v == null || v.isEmpty) v
                else { val k = rep % v.length; v.drop(k) ++ v.take(k) }
        (id + rep * KeyShift, e, label)
      }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val counts = Seq("documents", "embeddings", "lineitem", "events")
      .map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"""{"soak":"derived","out":"$out","rows":"${counts.mkString(",")}"}""")
  }

  // ----------------------------------------------------------------- audit

  private[graft] def planAudit(df: DataFrame): Map[String, Int] = {
    val p = df.queryExecution.executedPlan.toString
    def n(k: String) = k.r.findAllIn(p).size
    Map(
      "cartesian" -> n("CartesianProduct"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      "smj" -> n("SortMergeJoin"),
      "bhj" -> n("BroadcastHashJoin"),
      "shj" -> n("ShuffledHashJoin"),
      "exchange" -> n("Exchange (hash|range|single)"))
  }

  def audit(spark: SparkSession, dir: String, only: Option[Set[String]]): Unit = {
    val sb = new StringBuilder
    Harness.eachQuery(spark, "soak", dir, HeavyQueries.filter(q => only.forall(_(q))))(
        (_, df) => df.count()) { o =>
      val line = o.result match {
        case Right((df, rows)) =>
          val a = planAudit(df)
          f"""{"q":"${o.name}","sec":${o.sec}%.2f,"rows":$rows,"cartesian":${a("cartesian")},"bnlj":${a("bnlj")},"smj":${a("smj")},"bhj":${a("bhj")},"shj":${a("shj")},"exchange":${a("exchange")}}"""
        case Left(e) =>
          f"""{"q":"${o.name}","sec":${o.sec}%.2f,"error":"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160).replace('"', '\'').replace('\n', ' ')}"}"""
      }
      println(line)
      sb.append(line).append('\n')
      spark.catalog.clearCache()
      // ContextCleaner reclaims checkpoint/shuffle/broadcast blocks only
      // after driver GC notices the dropped references; on a 48g heap GC
      // may not run for many queries, so earlier queries' blocks pile up
      // and inflate later timings 3-6x (measured r12: q_host_rank 70s in
      // an accumulating JVM vs 12s clean). Forcing a GC between queries
      // keeps each measurement honest.
      System.gc()
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT",
      s"SOAK_${new java.io.File(dir).getName}.jsonl")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
