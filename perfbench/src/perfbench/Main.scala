package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/**
 * One benchmark JVM. `run.py` launches it; it writes its raw per-op records
 * as JSON to `<work>/result.json` and run.py turns them into metrics.
 *
 *   --workload rules|chain --seed N --seconds S --trace 0|1
 *   --cores N --work DIR --launch-ms EPOCH_MS [--width N]
 */
object Main {
  /** Stack of the thread that runs every op but the cold probe. */
  val DriverStackBytes: Long = 512L << 20

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    var failure: Throwable = null
    val t = new Thread(null, () => {
      try run(a) catch { case e: Throwable => failure = e }
    }, "perfbench-driver", DriverStackBytes)
    t.start()
    t.join()
    if (failure != null) { failure.printStackTrace(); System.exit(1) }
    System.exit(0)
  }

  private def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtension")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(a: Map[String, String]): Unit = {
    val work = Paths.get(a("work")).toAbsolutePath
    val launchMs = a("launch-ms").toLong
    val seed = a("seed").toLong
    val name = a("workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a.getOrElse("seconds", "10").toDouble
    Files.createDirectories(work)
    val jvmReadyMs = System.currentTimeMillis()
    val cores = a("cores").toInt
    val spark = session(work, cores)
    val sessionReadyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val log = CodegenLog.install()
    val totals = new Totals(excluded = if (name == "chain") Chain.isFixtureSite else _ => false)
    sc.addSparkListener(totals)
    val detail = new Detail
    if (traced) { sc.addSparkListener(detail); spark.listenerManager.register(detail) }

    val wl: Workload = name match {
      case "rules" => new Both(
        "dq_wide" -> new DqWide(spark, seed, a.getOrElse("width", "400").toInt, rows = 200),
        "dq_rows" -> new DqRows(spark, seed, rows = 4000L, width = 50))
      case "chain" => new Chain(spark, seed, docs = 500, work.resolve("chain"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", name)
    out.put("cores", cores)
    out.put("driver_stack_mb", DriverStackBytes >> 20)

    wl.setup()
    out.put("setup_s", (System.currentTimeMillis() - launchMs) / 1000.0)
    out.put("setup_parts", jmap("jvm_s" -> (jvmReadyMs - launchMs) / 1000.0,
      "session_s" -> (sessionReadyMs - jvmReadyMs) / 1000.0,
      "inputs_s" -> (System.currentTimeMillis() - sessionReadyMs) / 1000.0))

    val probeStart = System.nanoTime()
    val probe = wl.coldProbe()
    val probeS = (System.nanoTime() - probeStart) / 1e9
    probe.foreach { case (ok, s, err) =>
      out.put("cold_probe", jmap("ok" -> ok, "s" -> s, "error" -> err))
    }

    def drain(): Unit = PerfbenchAccess.drainListeners(sc)
    val jobs = new java.util.ArrayList[java.util.Map[String, Any]]()

    def measure(i: Int, tracedOp: Boolean): java.util.Map[String, Any] = {
      val thunk = wl.next(i)
      System.gc()
      Thread.sleep(200) // lets the context cleaner release what the GC freed
      drain()
      totals.reset()
      detail.reset()
      val (cg0n, cg0ns, cg0b) = CodegenLog.codegenTotals()
      val fb0 = log.fallbacks.get
      Spans.enabled = tracedOp
      Spans.op = i
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(Spans("op")(thunk())) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      Spans.enabled = false
      drain()
      if (tracedOp) detail.jobs.foreach { j =>
        jobs.add(jmap("op" -> i, "job" -> j.id, "start_ms" -> j.startMs,
          "execution" -> j.execId.getOrElse(-1L),
          "call_site" -> j.callSite.linesIterator.take(12).mkString("\n")))
      }
      val rec = jmap(
        "i" -> i, "traced" -> tracedOp, "start_ms" -> startMs,
        "task_cpu_s" -> totals.get("task_cpu_ns") / 1e9,
        "cache_peak_mb" -> totals.peakMb,
        "cache_left_mb" -> totals.cachedMb,
        "jobs" -> totals.get("jobs"), "stages" -> totals.get("stages"),
        "tasks" -> totals.get("tasks"),
        "task_run_s" -> totals.get("task_run_ms") / 1000.0,
        "gc_s" -> totals.get("gc_ms") / 1000.0,
        "shuffle_write_mb" -> totals.get("shuffle_write_b") / 1048576.0,
        "shuffle_read_mb" -> totals.get("shuffle_read_b") / 1048576.0,
        "spill_mb" -> totals.get("spill_b") / 1048576.0,
        "wscg_fallbacks" -> (log.fallbacks.get - fb0))
      res match {
        case Left(e) =>
          rec.put("wall_s", wall)
          rec.put("ok", false)
          rec.put("problems", java.util.List.of(s"op failed: $e"))
        case Right(o) =>
          rec.put("wall_s", wall - o.excludedS)
          rec.put("excluded_s", o.excludedS)
          val layers = new java.util.LinkedHashMap[String, Any]()
          o.layers(if (tracedOp) detail else null).foreach { case (k, v) => layers.put(k, v) }
          if (tracedOp) {
            val (n, ns, b) = CodegenLog.codegenTotals()
            Spans.ofOp(i).groupBy(_.name).foreach { case (k, ss) =>
              layers.putIfAbsent(s"${k}_s", ss.map(s => s.endNs - s.startNs).sum / 1e9)
            }
            layers.put("plan.analysis_s", detail.phaseS("analysis"))
            layers.put("plan.optimizer_s", detail.phaseS("optimization"))
            layers.put("plan.physical_s", detail.phaseS("planning"))
            layers.put("plans.graft_rules_s", detail.graftRulesS)
            layers.put("codegen.classes", n - cg0n)
            layers.put("codegen.compile_s", (ns - cg0ns) / 1e9)
            layers.put("codegen.source_kb", (b - cg0b) / 1024.0)
          }
          rec.put("layers", layers)
          val c0 = System.nanoTime()
          val problems = (try o.check() catch { case e: Throwable => Seq(s"check failed: $e") }) ++
            (if (o.excludedS > 0 && totals.get("excluded_jobs") == 0)
              Seq("no fixture-staging job was recognised, so task_cpu_s would include fixture staging")
            else Nil)
          rec.put("check_s", (System.nanoTime() - c0) / 1e9)
          rec.put("ok", true)
          rec.put("problems", java.util.List.of(problems: _*))
      }
      rec
    }

    val warm = measure(0, tracedOp = false)
    out.put("warmup", warm)
    val ops = new java.util.ArrayList[java.util.Map[String, Any]]()
    var first = true
    var elapsed = 0.0
    var i = 1
    // traced runs alternate untraced and traced ops and end on an untraced
    // one, so the difference of the two kinds' medians (the tracing
    // overhead) is not biased by ops getting faster as the JVM warms
    while (elapsed < seconds || (traced && (ops.size < 3 || ops.size % 2 == 0))) {
      if (first) {
        out.put("setup_main_s", (System.currentTimeMillis() - launchMs) / 1000.0 - probeS)
        first = false
      }
      val t0 = System.nanoTime()
      ops.add(measure(i, tracedOp = traced && i % 2 == 0))
      elapsed += (System.nanoTime() - t0) / 1e9
      i += 1
    }
    out.put("ops", ops)
    out.put("codegen_fallbacks", log.fallbacks.get)
    if (traced) {
      writeSpans(work.resolve("spans.json"))
      new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(work.resolve("jobs.json").toFile, jobs)
    }
    finish(spark, work, out)
  }

  private def jmap(kv: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def writeSpans(p: Path): Unit = {
    val all = Spans.all
    val rows = new java.util.ArrayList[java.util.Map[String, Any]]()
    def ms(ns: Long) = (ns - Spans.t0Ns) / 1e6
    all.sortBy(_.startNs).foreach { s =>
      rows.add(jmap("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs),
        "self_ms" -> Spans.selfNs(s, all) / 1e6))
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(p.toFile, rows)
  }

  private def finish(spark: SparkSession, work: Path,
      out: java.util.LinkedHashMap[String, Any]): Unit = {
    spark.stop()
    new ObjectMapper().writeValue(work.resolve("result.json").toFile, out)
  }
}
