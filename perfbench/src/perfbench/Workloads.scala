package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.BatchPipeline
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one op hands back: seconds of its wall time that belong to fixture
 * staging rather than the system under test, per-layer numbers computed
 * once the listener events are in (`Detail` is null in untraced runs), and
 * the output check, run after timing. */
final case class OpOut(excludedS: Double = 0.0,
    layers: Detail => Map[String, Double] = _ => Map.empty,
    check: () => Seq[String] = () => Nil)

trait Workload {
  /** Inputs: generated from the seed, cached where the workload says so. */
  def setup(): Unit
  /** Untimed preparation of op `i`; the returned function is the timed op.
   * Op 0 is the untimed warm-up. */
  def next(i: Int): () => OpOut
  /** One attempt of the op on a thread with the JVM's default stack, before
   * any warm-up: (succeeded, seconds, error). */
  def coldProbe(): Option[(Boolean, Double, String)] = None
}

/** Two workloads run as one: each op is `a`'s op then `b`'s, each under
 * its own span and with its own wall time (`<name>_s`, in every op); `a`
 * makes the cold probe. */
final class Both(a: (String, Workload), b: (String, Workload)) extends Workload {
  def setup(): Unit = { a._2.setup(); b._2.setup() }
  override def coldProbe(): Option[(Boolean, Double, String)] = a._2.coldProbe()
  def next(i: Int): () => OpOut = {
    val fa = a._2.next(i)
    val fb = b._2.next(i)
    def part(name: String, f: () => OpOut): (OpOut, Double) = {
      val t0 = System.nanoTime()
      val o = Spans(name)(f())
      (o, (System.nanoTime() - t0) / 1e9 - o.excludedS)
    }
    () => {
      val (oa, sa) = part(a._1, fa)
      val (ob, sb) = part(b._1, fb)
      OpOut(oa.excludedS + ob.excludedS,
        d => oa.layers(d) ++ ob.layers(d) ++ Map(s"${a._1}_s" -> sa, s"${b._1}_s" -> sb),
        () => oa.check() ++ ob.check())
    }
  }
}

/** Collects output mismatches. `canary` tests the comparison itself: `eq`
 * against a deliberately wrong expectation, in a check of its own, must
 * record a mismatch, or the checking is broken. */
final class Check {
  val problems = mutable.ArrayBuffer.empty[String]
  def eq[T](what: String, got: T, want: T): Unit =
    if (got != want) problems += s"$what: got $got, expected $want"
  def canary[T](what: String, got: T, wrong: T): Unit = {
    val c = new Check
    c.eq(what, got, wrong)
    if (c.problems.isEmpty) problems += s"$what: a deliberately wrong expectation was not caught"
  }
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** One wide suite compiled into one projection: load it from its rule rows,
 * attach it to a small cached frame, collect every result. Each op gets a
 * fresh suite of the same shape so Spark's generated-class cache cannot
 * turn later ops into hits. */
final class DqWide(spark: SparkSession, seed: Long, width: Int, rows: Int) extends Workload {
  private var data: DataFrame = _
  private lazy val plainData = DqSuite.lineitems(DqSuite.interpreted(spark), seed, rows)

  def setup(): Unit = {
    data = DqSuite.lineitems(spark, seed, rows).cache()
    data.count()
  }

  private def attempt(st: DqSuite.Stored): Array[Row] = {
    val suite = Spans("rules.load")(DqSuite.load(st))
    Spans("rules.runner") {
      val dq = Spans("rules.build")(RuleRunner.addDataQuality(data, suite))
      dq.select(col("l_id"), col("DataQuality")).collect()
    }
  }

  override def coldProbe(): Option[(Boolean, Double, String)] = {
    var res: (Boolean, Double, String) = null
    val t = new Thread(() => {
      val t0 = System.nanoTime()
      res = try {
        attempt(DqSuite.store(spark, DqSuite.rules(seed, -1, width)))
        (true, (System.nanoTime() - t0) / 1e9, "")
      } catch { case e: Throwable => (false, (System.nanoTime() - t0) / 1e9, e.getClass.getName) }
    }, "perfbench-cold-probe")
    t.start()
    t.join()
    Some(res)
  }

  def next(i: Int): () => OpOut = {
    val gen = DqSuite.rules(seed, i, width)
    val st = DqSuite.store(spark, gen)
    () => {
      val got = attempt(st)
      OpOut(check = () => check(gen, got))
    }
  }

  private def check(gen: IndexedSeq[DqSuite.GenRule], got: Array[Row]): Seq[String] = {
    val ck = new Check
    val plain = DqSuite.plainResults(plainData, gen)
    val byId = got.map(r => r.getLong(0) -> r.getStruct(1)).toMap
    ck.eq("rows", byId.size, plain.length)
    val overall = plain.map(rs => if (rs.exists(DqSuite.failsOverall)) DqSuite.Failed else DqSuite.Passed)
    val gotOverall = (0 until plain.length).map(i => byId.get(i.toLong).map(_.getAs[Int]("overallResult")))
    def tally(xs: Seq[Int]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val want = tally(overall.toSeq)
    val have = tally(gotOverall.flatten)
    ck.eq("overallResult counts", have, want)
    ck.canary("overallResult counts", have, want + (DqSuite.Passed -> (want.getOrElse(DqSuite.Passed, 0) + 1)))
    // every rule result of every row, against the plain-SQL value
    var wrong = 0
    for (i <- plain.indices; dq <- byId.get(i.toLong)) {
      val results: Map[(Long, Long), Int] = dq.getMap[Long, Row](dq.fieldIndex("ruleSetResults"))
        .toSeq.flatMap { case (set, s) =>
          s.getMap[Long, Int](s.fieldIndex("ruleResults")).map { case (rule, v) => (set, rule) -> v }
        }.toMap
      gen.zipWithIndex.foreach { case (g, k) =>
        if (!results.get((Id.pack(Id(g.setId, 1)), Id.pack(Id(g.ruleId, 1)))).contains(plain(i)(k)))
          wrong += 1
      }
    }
    ck.eq("rule results differing from plain SQL", wrong, 0)
    ck.problems.toSeq
  }
}

/** Rule evaluation over rows: four runners over one cached frame, the three
 * projections to Spark's noop sink and the rule statistics collected. */
final class DqRows(spark: SparkSession, seed: Long, rows: Long, width: Int) extends Workload {
  private var data: DataFrame = _
  private var gen: IndexedSeq[DqSuite.GenRule] = _
  private var suite, engineSuite, folderSuite: RuleSuite = _
  private lazy val expected = DqSuite.plainRuleCounts(data, gen)
  private val statCols = Seq("evaluated", "passed", "failed", "soft_failed", "disabled", "probabilistic")

  def setup(): Unit = {
    data = DqSuite.lineitems(spark, seed, rows).cache()
    data.count()
    gen = DqSuite.rules(seed, 0, width, outputEvery = 4)
    val st = DqSuite.store(spark, gen)
    suite = DqSuite.load(st)
    engineSuite = DqSuite.withOutputs(suite, st.engineOuts)
    folderSuite = DqSuite.withOutputs(suite, st.folderOuts)
  }

  def next(i: Int): () => OpOut = () => {
    import Workload.noop
    Spans("rules.runner")(noop(Spans("rules.build")(RuleRunner.addDataQuality(data, suite))))
    Spans("rules.engine")(noop(Spans("rules.build")(
      RuleEngine.addRuleEngine(data, engineSuite, outputDdl = Some("int")))))
    Spans("rules.folder")(noop(Spans("rules.build")(
      RuleFolder.addRuleFolder(data, folderSuite, DqSuite.folderStart))))
    val stats = Spans("rules.stats")(Spans("rules.build")(RuleRunner.ruleStats(data, suite)).collect())
    OpOut(check = () => check(i, stats))
  }

  private def check(i: Int, stats: Array[Row]): Seq[String] = {
    val ck = new Check
    val got = DqSuite.counts(stats, "ruleId", statCols)
    ck.eq("ruleStats rules", got.size, gen.size)
    gen.foreach(g => ck.eq(s"ruleStats rule ${g.ruleId}", got.get(g.ruleId), expected.get(g.ruleId)))
    val r1 = gen.head.ruleId
    ck.canary("ruleStats", got, expected.updated(r1, expected(r1).updated(1, expected(r1)(1) + 1)))
    // the runner's own flattened results, once per run, on the warm-up
    if (i == 0) {
      val res = col("r.ruleResult")
      val flat = RuleRunner.addDataQuality(data, suite)
        .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
        .groupBy(col("r.ruleId").as("ruleId"))
        .agg(count(lit(1)).as("evaluated"),
          count(when(res === DqSuite.Passed, 1)).as("passed"),
          count(when(res === DqSuite.Failed, 1)).as("failed"),
          count(when(res === DqSuite.Soft, 1)).as("soft_failed"),
          count(when(res === DqSuite.Disabled, 1)).as("disabled"),
          count(when(res > 0 && res < DqSuite.Passed, 1)).as("probabilistic"))
        .collect()
      ck.eq("flattened results", DqSuite.counts(flat, "ruleId", statCols), expected)
    }
    ck.problems.toSeq
  }
}

/** The composed pipeline: one BatchPipeline.run over seeded documents whose
 * plants (re-fetches, mirrors, near-copies, PII, benchmark leaks, corrupt
 * records) fix every stage's drop count in advance. */
final class Chain(spark: SparkSession, seed: Long, docs: Int, work: Path) extends Workload {
  private val src = work.resolve("src").toString

  def setup(): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    // no digits, no '@', and no German/Spanish/French marker words: every
    // document is English to the language gate and clean to the PII gate
    val vocab = ("river stone garden window market winter summer morning evening bright " +
      "quiet simple careful modern ancient golden silver narrow gentle steady " +
      "farmer teacher painter builder sailor doctor writer student worker driver " +
      "village harbor valley forest meadow bridge tower station library kitchen " +
      "carried opened watched painted followed gathered counted cleaned measured planted " +
      "slowly quickly often rarely always nearly almost really clearly softly " +
      "paper timber copper cotton wool grain bread apple honey salt " +
      "north south east west little large early later green yellow").split(" ")
    val glue = Seq("the", "and", "of", "is", "to", "with", "that", "have")
    val markers = glue.take(4) // the language gate's English markers: each text gets all four
    val rows = (1 to docs).map { id =>
      val n = 40 + r.nextInt(21)
      val words = (0 until n).map(k =>
        if (k % 3 != 0) vocab(r.nextInt(vocab.length))
        else if (k < 12) markers(k / 3)
        else glue(r.nextInt(glue.size)))
      (id.toLong, words.mkString(" ") + ".", Seq("news", "blog", "wiki", "forum", "shop")(id % 5))
    }
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
  }

  private def opDir(i: Int) = work.resolve(s"op$i")

  def next(i: Int): () => OpOut = {
    Workload.deleteTree(opDir(i - 1))
    val dir = opDir(i).toString
    () => {
      val summary = Spans("pipeline.run")(BatchPipeline.run(spark, src, dir))
      val stages = Summary.stages(summary)
      val runSpan = Spans.all.lastOption.filter(_.name == "pipeline.run")
      OpOut(
        excludedS = stages.getOrElse("stage_raw", 0.0),
        layers = detail => Chain.stageLayers(stages, detail, runSpan),
        check = () => check(summary, dir))
    }
  }

  private def check(summary: String, dir: String): Seq[String] = {
    val ck = new Check
    def planted(m: Int) = (1 to docs).count(_ % m == 0).toLong
    def num(k: String) = Summary.long(summary, k)
    val (r37, m41, c43, p53, d97) = (planted(37), planted(41), planted(43), planted(53), planted(97))
    // every original, re-fetch, mirror and near-copy, plus the one record
    // the WARC reader recovers after the malformed region
    val ingested = docs + r37 + m41 + c43 + 1
    ck.eq("ingested", num("ingested"), ingested)
    ck.canary("ingested", num("ingested"), ingested + 1)
    ck.eq("quarantined", num("quarantined"), 4L) // 3 corrupt JSONL lines + 1 WARC region
    ck.eq("cartesian", num("cartesian"), 0L)
    ck.eq("bnlj", num("bnlj"), 0L)
    val funnel = spark.read.parquet(s"$dir/funnel.parquet").collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val drops = Map("dedup_url" -> r37, "dedup_content" -> m41, "dedup_near" -> c43,
      "tokens" -> 1L, "langid" -> 0L, "gopher" -> 0L, "pii" -> p53, "decontaminate" -> d97)
    ck.eq("funnel drops", funnel, drops)
    val survivors = docs - p53 - d97
    val sampled = num("sampled_rows")
    if (sampled <= 0 || sampled > survivors)
      ck.problems += s"sampled_rows $sampled outside (0, $survivors]"
    ck.eq("shard_docs", num("shard_docs"), sampled)
    val shardDirs = Files.list(Paths.get(dir, "shards"))
    val onDisk = try shardDirs.filter(_.getFileName.toString.startsWith("shard=")).count()
      finally shardDirs.close()
    ck.eq("shards", num("shards"), onDisk)
    ck.eq("rows in shard files", spark.read.parquet(s"$dir/shards").count(), sampled)
    ck.problems.toSeq
  }
}

object Chain {
  val Stages = Seq("ingest_extract", "dedup", "gates", "funnel", "sample", "write_shards", "datacard")

  /** A call site inside `run()`'s fixture staging (`stage_raw`), whose jobs
   * stay out of the op's totals as its time stays out of `wall_s`. */
  def isFixtureSite(callSite: String): Boolean = callSite.contains("graft.BatchPipeline$.stageFrontDoor(")
  private val TimedCall = """timed\("([A-Za-z0-9_]+)"\)""".r
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):(\d+)\)""".r
  private val sourceLines = mutable.Map.empty[String, Option[IndexedSeq[String]]]

  /** Source line `n` of a main-source file, by file name. */
  private def line(file: String, n: Int): Option[String] =
    sourceLines.getOrElseUpdate(file, {
      val s = Files.walk(Paths.get("src", "main", "scala"))
      try s.filter(_.getFileName.toString == file).findFirst()
      finally s.close()
    } match {
      case p if p.isPresent => Some(Files.readAllLines(p.get).toArray(Array.empty[String]).toIndexedSeq)
      case _ => None
    }).flatMap(ls => ls.lift(n - 1))

  /** The `timed("<stage>") { ... }` block that line `n` of `file` lies in:
   * the nearest such line at or above `n` whose block is still open at `n`. */
  private def enclosingStage(file: String, n: Int): Option[String] =
    (n to math.max(1, n - 80) by -1).iterator
      .flatMap(k => line(file, k).flatMap(TimedCall.findFirstMatchIn).map(k -> _))
      .nextOption()
      .filter { case (k, m) =>
        val text = line(file, k).get.substring(m.end) +: (k + 1 until n).flatMap(line(file, _))
        var depth = 0
        var closed = false
        text.foreach(_.foreach { c =>
          if (c == '{') depth += 1
          else if (c == '}') { depth -= 1; if (depth == 0) closed = true }
        })
        !closed
      }
      .map(_._2.group(1))

  /** The stage a job ran under: that of the innermost graft frame of its call
   * site lying in a timed block; "" when it has graft frames but none lies in
   * one (untimed work); None when it has no graft frame (a broadcast
   * thread's job). */
  def stageOf(callSite: String): Option[String] = {
    val frames = Frame.findAllMatchIn(callSite).map(m => (m.group(1), m.group(2).toInt))
      .filter { case (f, n) => line(f, n).isDefined }.toSeq
    if (frames.isEmpty) None
    else frames.iterator.flatMap { case (f, n) => enclosingStage(f, n) }.nextOption().orElse(Some(""))
  }

  /** pipeline.<stage>_s from run()'s own stage timings; in traced runs also
   * pipeline.<stage>_jobs and a span per stage. A job without a graft call
   * site takes the stage of its SQL execution's call site, else that of the
   * job before it. */
  def stageLayers(stages: Map[String, Double], detail: Detail,
      runSpan: Option[Spans.Span]): Map[String, Double] = {
    val secs = (Stages :+ "stage_raw").map(s => s"pipeline.${s}_s" -> stages.getOrElse(s, 0.0)).toMap
    if (detail == null) return secs
    var last: Option[String] = None
    val attributed = detail.jobs.sortBy(_.id).map { j =>
      val st = stageOf(j.callSite)
        .orElse(j.execId.flatMap(detail.execSite).flatMap(stageOf))
        .orElse(last)
      last = st
      j -> st
    }
    val jobCounts = Stages.map(s => s"pipeline.${s}_jobs" -> attributed.count(_._2.contains(s)).toDouble)
    runSpan.foreach { run =>
      val t0 = Spans.t0Ns
      var prevEnd = run.startNs
      (("stage_raw" +: Stages)).filter(stages.contains).foreach { s =>
        val first = attributed.collect { case (j, Some(`s`)) => j.startMs }.minOption
        val start = first.map(ms => math.max(prevEnd, t0 + (ms - Spans.t0EpochMs) * 1000000L))
          .getOrElse(prevEnd)
        val end = math.min(run.endNs, start + (stages(s) * 1e9).toLong)
        Spans.add(s"pipeline.$s", run.id, start, end)
        prevEnd = end
      }
    }
    secs ++ jobCounts
  }
}

/** Reads the one-line JSON summary BatchPipeline.run returns. */
object Summary {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def long(s: String, k: String): Long = mapper.readTree(s).get(k).asLong()
  def stages(s: String): Map[String, Double] = {
    val st = mapper.readTree(s).get("stages")
    val it = st.fieldNames()
    val m = mutable.LinkedHashMap.empty[String, Double]
    while (it.hasNext) { val k = it.next(); m(k) = st.get(k).asDouble() }
    m.toMap
  }
}
