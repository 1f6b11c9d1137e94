package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Harness.session()
    // per-query median over `reps` INTERLEAVED suite passes: single runs on
    // a shared box swing 2-4x per query (measured r1->r2); running the whole
    // suite per rep (instead of reps back-to-back per query) decorrelates a
    // transient load spike from any one query, so medians stay honest
    // (r3's q_dedup_skew 10.7s scare was exactly such clustering).
    // A failed rep must not enter the median as a (fast) time — record the
    // failure and keep only successful rep times; all-failed → time -1.
    // optional comma-separated subset for local iteration (unset = full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failedQ = scala.collection.mutable.Set.empty[String]
    for (rep <- 1 to reps) {
      // several operators persist staging frames (model tables, dedup
      // signatures, tf counts) that outlive their query; across 85 queries
      // x reps the accumulated cache spills and GC-thrashes the shared JVM,
      // inflating later medians. Clearing between suite passes bounds the
      // leak while keeping every within-query cache benefit.
      if (rep > 1) spark.catalog.clearCache()
      Harness.eachQuery(spark, "bench", sfDir, names)((_, df) => df.count()) { o =>
        if (o.result.isRight) samples(o.name) = samples(o.name) :+ o.sec
        else failedQ += o.name
      }
    }
    val results = names.map { name =>
      val times = samples(name).sorted
      name -> (if (times.nonEmpty) times(times.size / 2) else -1.0, failedQ.contains(name))
    }.toMap
    // 3-decimal times cut the JSON line ~3x, and errors/count print BEFORE
    // the long queries map — the driver's tail capture truncated mid-map in
    // r7 and lost 4 queries, so the cheap fields go first (full-ms precision
    // is noise on this box anyway; medians swing 2-4x between sessions)
    def f3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // per-query MIN and the raw per-rep arrays: r14 shipped five >2x rows
    // that were pure single-JVM suite state (persist-heavy mid-list queries
    // inflate 3-6x within a full pass) and each needed a manual isolated
    // re-bench to adjudicate. The min across interleaved suite passes is
    // the statistic least contaminated by ambient suite state, so the 2x
    // scale criterion gates on MIN (BASELINE.md comparison rule); medians
    // stay reported for continuity and the full rep arrays make any future
    // adjudication a file-read instead of a re-run.
    val qmin = names.map { name =>
      val ts = samples(name)
      "\"" + name + "\":" + f3(if (ts.nonEmpty) ts.min else -1.0)
    }.mkString("{", ",", "}")
    val qreps = names.map { name =>
      "\"" + name + "\":" + samples(name).map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, true)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val totalMin = names.map(n => samples(n)).filter(_.nonEmpty).map(_.min).sum
    val json = s"""{"metric":"total","value":${f3(total)},"unit":"sec","total_min":${f3(totalMin)},"errors":$errs,"n":${names.size},"sf":"$sfDir","reps":$reps,"queries":$qs,"queries_min":$qmin,"rep_times":$qreps}"""
    // the driver's fixed-size stdout tail capture clipped the per-query map
    // in r7 (4 queries) and r8 (13): the file is the durable record, stdout
    // keeps the one-line contract for parsers that still scrape it
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL_latest.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // the full contract line above is ~3.5 KB at 160 queries and has outgrown
    // the driver's fixed-size stdout tail three times (r7/r8/r11 captured it
    // mid-map -> parsed:null). Print a short headline line LAST so any
    // tail-of-stdout capture always ends with one complete, parseable JSON
    // object carrying the totals and the pointer to the durable per-query
    // file; parsers that take the first JSON line still get the full map.
    val short = s"""{"metric":"total","value":${f3(total)},"unit":"sec","errors":$errs,"n":${names.size},"sf":"$sfDir","reps":$reps,"queries_file":"$outPath"}"""
    println(short)
    spark.stop()
  }
}
