package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * The COMPOSED batch pipeline as CONFIG — the reference's rules-as-data
 * philosophy (rule suites serialized, versioned and validated before
 * running: reference impl/util/Serializing.scala, Validation.scala)
 * applied to the WHOLE product shape, not just the gate tier that
 * [[PipelineConfig]] already covers. A 100 TB curation run should be an
 * auditable artifact end to end: which front doors ingested (and where
 * their quarantines land), the id definition, the enrichment exprs, the
 * dedup tiers and their thresholds, the gate order the funnel charges,
 * the decontamination source, the sampling temperature and the shard
 * export — reviewable, diffable YAML, not code rebuilt per run.
 *
 * [[BatchSpec.run]] is the ONE composition of the chain:
 * [[graft.BatchPipeline.run]] stages its raw front door and executes its
 * config twin ([[graft.BatchPipeline.configTwin]]) through it. Execution
 * shape: ONE persisted base frame, dedup survivor tiers materialized as
 * checkpointed id frames with each tier threading off the previous
 * tier's checkpoint, survivors joined back as FLAGS keyed on the id
 * (shuffles, never corpus broadcasts), one first-fail retention funnel
 * written once, then optional temperature sampling (checkpointed once)
 * and content-addressed shard export. Each stage's wall time is recorded
 * under its name (ingest_extract, dedup, gates, funnel, sample,
 * write_shards).
 *
 * {{{
 * version: 1
 * name: crawl_batch
 * sources:                          # quarantining front doors, unioned
 *   - {format: warc,  path: /ingest/raw_warc, map: {url: url, html: text}}
 *   - {format: jsonl, path: /ingest/raw_jsonl, schema: "url STRING, html STRING"}
 * id: {name: ingest_id, expr: "xxhash64(url)"}     # computed on RAW columns
 * prepare:                          # ordered row-local enrichments
 *   - {column: url,    expr: "url_canonicalize(url)"}
 *   - {column: text,   expr: "fix_encoding(extract_html(html, 0.5))"}
 *   - {column: tok,    expr: "token_count(text)"}
 * select: [url, text, tok]          # slim the persisted base (id implicit)
 * dedup:                            # ordered tiers, funnel stages 1..k
 *   - {kind: exact, name: dedup_url,     content: [url]}
 *   - {kind: exact, name: dedup_content, content: [text]}
 *   - {kind: near_keep_largest, name: dedup_near, text: text, sizeBy: tok,
 *      shingleSize: 3, threshold: 0.7}
 * gates:                            # ordered row-local keep-predicates
 *   - {name: tokens, where: "tok >= 20"}
 * pii:                              # after gates, before decontaminate
 *   {name: pii, text: text, policy: redact,   # or policy: drop
 *    recompute: [{column: tok, expr: "token_count(text)"}]}
 * decontaminate: {name: decontaminate, path: /eval/bench.parquet,
 *                 where: "split = 'test'", text: text, benchText: question,
 *                 n: 8, minShared: 3}
 * weight: tok                       # funnel weight expr (default 1)
 * sample: {domain: domain, tokens: tok, budgetFraction: 0.6, alpha: 0.5}
 * mix:                              # pretraining mixture, pre-export
 *   name: pretrain_mix
 *   sources:
 *     - {name: wiki,  where: "domain = 'wikipedia.org'", weight: 2.5}
 *     - {name: crawl, weight: 0.375}
 * shards: {nShards: 32}             # written under workDir/shards; wds:
 *                                   #   {format: wds, text: text, verify: manifest}
 * }}}
 *
 * SQL in `expr` / `where` / `content` / `sizeBy` resolves with the
 * session parser, so every registered graft function (token_count,
 * lang_id, gopher_quality, redact_pii, …) is available — [[run]] calls
 * `Registry.registerAll` so a fresh session works out of the box.
 */
object BatchConfig {

  /** A quarantining front door. `map` (ordered) projects the source's raw
   * columns into the union schema: newColumn -> SQL expr over the raw
   * columns; empty = pass-through. WARC sources expose the [[
   * graft.sources.Warc.read]] columns (url, text, mime, …); jsonl/csv
   * need `schema` (DDL). Quarantined raw regions/lines are counted and
   * (when `quarantineDir` is set) written verbatim for inspection. */
  final case class Source(format: String, path: String,
      schemaDdl: Option[String] = None, map: Seq[(String, String)] = Nil,
      delimiter: String = ",", quarantineDir: Option[String] = None) {
    require(Seq("warc", "jsonl", "csv", "wds").contains(format),
      s"source format must be warc|jsonl|csv|wds, got '$format'")
    require(format == "warc" || format == "wds" || schemaDdl.nonEmpty,
      s"$format source '$path' needs a schema")
  }

  sealed trait Tier { def name: String; def kind: String }
  /** Exact-content tier; `trust` (optional) elects the most trusted copy
   * via [[Dedup.exactPreferring]] (highest wins), else lowest id wins. */
  final case class ExactTier(name: String, content: Seq[String],
      trust: Option[String] = None) extends Tier {
    def kind = "exact"
    require(content.nonEmpty, s"exact tier '$name' needs content exprs")
  }
  /** Pairwise near-dup tier keeping the more complete member of each
   * verified pair ([[Dedup.dropNearDupsKeepLargest]] on `sizeBy`). */
  final case class NearTier(name: String, text: String, sizeBy: String,
      shingleSize: Int = 3, threshold: Double = 0.7,
      maxBucketSize: Int = 1000) extends Tier {
    def kind = "near_keep_largest"
  }
  /** Cluster-true keep-most-complete tier: each connected near-dup
   * FAMILY elects its single largest member by `sizeBy`
   * ([[Dedup.dropNearDupsKeepLargestCC]]) — the family-transitive
   * complement of [[NearTier]]'s cheaper pairwise rule. */
  final case class NearLargestCcTier(name: String, text: String,
      sizeBy: String, shingleSize: Int = 3, threshold: Double = 0.7,
      maxBucketSize: Int = 1000) extends Tier {
    def kind = "near_keep_largest_cc"
  }
  /** Pairwise near-dup tier, lowest id wins ([[Dedup.dropNearDups]]). */
  final case class NearKeepFirstTier(name: String, text: String,
      shingleSize: Int = 3, threshold: Double = 0.7,
      maxBucketSize: Int = 1000) extends Tier {
    def kind = "near"
  }
  /** Cluster-true near-dup tier: connected families elect their single
   * best-trust member ([[Dedup.dropNearDupsPreferring]], highest wins). */
  final case class NearPreferringTier(name: String, text: String,
      trust: String, shingleSize: Int = 3, threshold: Double = 0.7,
      maxBucketSize: Int = 1000) extends Tier {
    def kind = "near_preferring"
  }
  /** Per-key cap tier: at most `max` rows per `key` expr (lowest ids win,
   * [[Curation.capPerKey]]) — the domain-cap stage of crawl curation,
   * funnel-accounted like any dedup tier. */
  final case class CapTier(name: String, key: String, max: Int) extends Tier {
    def kind = "cap_per_key"
    require(max > 0, s"cap tier '$name': max must be positive")
  }

  /** Benchmark n-gram decontamination gate: drop corpus rows sharing ≥
   * `minShared` distinct `n`-grams with the (filtered) benchmark table. */
  final case class Decon(name: String, path: String, where: Option[String],
      textExpr: String, benchTextExpr: String, n: Int = 8, minShared: Int = 1)

  /** The PII stage of the funnel (runs after the row-local `gates`,
   * before `decontaminate` — the composed chain's fixed order). `text`
   * is a COLUMN NAME (not an expr: redact rewrites it in place).
   * policy `drop` rejects any doc carrying a PII span whole; policy
   * `redact` KEEPS every doc, scrubs the spans ([[Pii.redactPii]]) and
   * re-derives the `recompute` columns (e.g. a token count) from the
   * scrubbed text — the funnel then charges the scrubbed-away weight
   * mass to this stage ([[Curation.retentionFunnelStaged]]) so
   * token accounting stays conserved under either policy. */
  final case class PiiStage(name: String, text: String,
      policy: String = "drop", recompute: Seq[(String, String)] = Nil) {
    require(policy == "drop" || policy == "redact",
      s"pii stage '$name': policy must be drop|redact, got '$policy'")
  }

  final case class TempSample(domain: String, tokens: String,
      budgetFraction: Double, alpha: Double = 0.5) {
    require(budgetFraction > 0 && budgetFraction <= 1.0,
      s"budgetFraction must be in (0, 1], got $budgetFraction")
  }

  /** One slice of the pretraining mixture: `where` (optional SQL
   * predicate over the survivor columns; absent = the whole survivor
   * frame) selects the slice, `weight` its epoch count — floor(w) full
   * copies plus one content-addressed fractional copy
   * ([[Curation.mixCorpora]]'s keep rule). */
  final case class MixSource(name: String, where: Option[String],
      weight: Double) {
    require(name.nonEmpty, "mix source needs a name")
    require(weight > 0, s"mix source '$name': weight must be positive")
  }

  /** The `mix:` stanza — the versioned, diffable pretraining-mix decision
   * ("2.5 epochs of wiki + 0.375 of crawl") the config layer exists to
   * capture, executed by [[Curation.mixCorpora]] between the optional
   * temperature sample and the shard export. The funnel gains one
   * `name` row accounting the mixture: oversampled copies are charged
   * as GAINED mass (negative rows_dropped / weight_dropped, so
   * rows_out = rows_in − rows_dropped still conserves). The export id
   * becomes the collision-resistant `mix_id` (full copies duplicate the
   * original id, which can no longer key a WebDataset sample); the
   * original id plus `mix_source`/`mix_copy` stay as columns — declare
   * them under `shards.meta` to ride the wds sidecar. */
  final case class MixSpec(name: String, sources: Seq[MixSource]) {
    require(name.nonEmpty, "mix stanza needs a name")
    require(sources.nonEmpty, s"mix '$name' needs at least one source")
    require(sources.map(_.name).distinct.size == sources.size,
      s"mix '$name': source names must be unique")
  }

  /** Shard export: `parquet` ([[Curation.writeShards]]) or `wds`
   * ([[graft.sources.Wds.write]] — WebDataset tar shards, the format GPU
   * loaders stream; needs `text`, the column name exported as each
   * sample's `.txt` part). Both use the same content-addressed shard
   * assignment and within-shard pseudo-shuffle. `verify` is the wds
   * export's post-write check: `full` reads the whole artifact back,
   * `manifest` trusts the commit-site tallies (see Wds.write). */
  final case class ShardSpec(nShards: Int, format: String = "parquet",
      text: Option[String] = None, meta: Seq[String] = Nil,
      epoch: Int = 0, compress: Boolean = false, verify: String = "full") {
    require(nShards > 0, "nShards must be positive")
    require(format == "parquet" || format == "wds",
      s"shards format must be parquet|wds, got '$format'")
    require(format == "parquet" || text.nonEmpty,
      "wds shard export needs `text` (the sample text column)")
    require(meta.isEmpty || format == "wds",
      "shards `meta` columns are a wds-sidecar feature")
    require(epoch >= 0, "shards epoch must be non-negative")
    require(!compress || format == "wds",
      "shards `compress` is a wds feature (gzipped tar shards)")
    require(verify == "full" || verify == "manifest",
      s"shards verify must be full|manifest, got '$verify'")
    require(verify == "full" || format == "wds",
      "shards `verify: manifest` is a wds feature")
  }

  final case class BatchSpec(version: Int, name: String,
      sources: Seq[Source], idName: String, idExpr: String,
      prepare: Seq[(String, String)], select: Seq[String],
      dedup: Seq[Tier], gates: Seq[(String, String)],
      pii: Option[PiiStage] = None,
      decontaminate: Option[Decon], weight: Option[String],
      sample: Option[TempSample], shards: Option[ShardSpec],
      mix: Option[MixSpec] = None) {
    require(sources.nonEmpty, s"batch pipeline '$name' has no sources")
    private val stageNames =
      dedup.map(_.name) ++ gates.map(_._1) ++ pii.map(_.name) ++
        decontaminate.map(_.name)
    require(stageNames.nonEmpty, s"batch pipeline '$name' needs at least " +
      "one dedup tier, gate, or decontaminate stage (the funnel accounts them)")
    private val allStageNames = stageNames ++ mix.map(_.name)
    require(allStageNames.distinct.size == allStageNames.size,
      s"duplicate stage names in batch pipeline '$name': " +
        allStageNames.diff(allStageNames.distinct).mkString(", "))
    // the graft_ column namespace is RESERVED for funnel plumbing (flag/
    // gate/leak/decon/w_raw working columns): the survivor slim drops it
    // wholesale before export, so user columns there would silently vanish
    private val userCols = (idName +: select) ++ prepare.map(_._1) ++
      pii.toSeq.flatMap(_.recompute.map(_._1)) ++ shards.toSeq.flatMap(_.text)
    require(!userCols.exists(_.startsWith("graft_")),
      s"batch pipeline '$name': column names must not use the reserved " +
        s"graft_ prefix: ${userCols.filter(_.startsWith("graft_")).mkString(", ")}")

    /** Dry-resolve the chain against empty frames: per-stage analysis
     * errors before any data is touched (the reference's
     * validate-before-run posture). Source paths are NOT touched —
     * validation works from the declared schemas. */
    def validate(spark: SparkSession): Seq[(String, String)] = {
      graft.functions.Registry.registerAll(spark)
      val errs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def attempt[T](stage: String)(body: => T): Option[T] =
        try Some(body) catch { case e: Exception =>
          errs += stage -> e.getMessage.linesIterator.take(2).mkString(" "); None
        }
      val raw: Option[DataFrame] = sources.zipWithIndex.map { case (s, i) =>
        attempt(s"source $i (${s.format})") {
          val cols = s.format match {
            case "warc" => graft.sources.Warc.emptyFrame(spark)
            case "wds" => graft.sources.Wds.emptyFrame(spark)
            case _ => spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              StructType.fromDDL(s.schemaDdl.get))
          }
          if (s.map.isEmpty) cols
          else cols.select(s.map.map { case (n, e) => expr(e).as(n) }: _*)
        }
      }.reduce { (a, b) =>
        for { x <- a; y <- b; u <- attempt("source union")(x.unionByName(y)) }
          yield u
      }
      raw.foreach { r =>
        // a failed stage keeps the last good frame so later stages still
        // get checked (the PipelineConfig.validate posture): one broken
        // enrichment must not hide every error after it
        var cur = attempt(s"id $idName")(
          r.select(expr(idExpr).as(idName) +: r.columns.map(col): _*))
        prepare.foreach { case (c, e) =>
          cur = cur.map(d =>
            attempt(s"prepare $c")(d.withColumn(c, expr(e))).getOrElse(d))
        }
        if (select.nonEmpty)
          cur = cur.map(d => attempt("select")(
            d.select((idName +: select).distinct.map(col): _*)).getOrElse(d))
        cur.foreach { base =>
          dedup.foreach {
            case t: ExactTier => attempt(s"dedup ${t.name}")(t.trust match {
              case Some(tr) => Dedup.exactPreferring(
                base, col(idName), expr(tr), t.content.map(expr): _*).schema
              case None =>
                Dedup.exact(base, col(idName), t.content.map(expr): _*).schema
            })
            case t: NearTier => attempt(s"dedup ${t.name}")(
              Dedup.dropNearDupsKeepLargest(base, col(idName), expr(t.text),
                expr(t.sizeBy), t.shingleSize, t.threshold, t.maxBucketSize).schema)
            case t: NearLargestCcTier => attempt(s"dedup ${t.name}")(
              Dedup.dropNearDupsKeepLargestCC(base, col(idName), expr(t.text),
                expr(t.sizeBy), t.shingleSize, t.threshold,
                maxBucketSize = t.maxBucketSize).schema)
            case t: NearKeepFirstTier => attempt(s"dedup ${t.name}")(
              Dedup.dropNearDups(base, col(idName), expr(t.text),
                t.shingleSize, t.threshold, t.maxBucketSize).schema)
            case t: NearPreferringTier => attempt(s"dedup ${t.name}")(
              // dry-resolve through the REAL call like every other tier
              // kind (ADVICE r16): analysis errors specific to the
              // preferring plan (priority cast, cluster join) surface here,
              // not at run time; the empty frame converges immediately
              Dedup.dropNearDupsPreferring(base, col(idName), expr(t.text),
                expr(t.trust), t.shingleSize, t.threshold,
                maxBucketSize = t.maxBucketSize).schema)
            case t: CapTier => attempt(s"dedup ${t.name}")(
              Curation.capPerKey(base, expr(t.key), col(idName), t.max).schema)
          }
          gates.foreach { case (n, w) =>
            attempt(s"gate $n")(base.where(expr(w)).schema)
          }
          pii.foreach { p =>
            attempt(s"pii ${p.name}") {
              val scrubbed = base.withColumn(p.text, Pii.redactPii(col(p.text)))
              p.recompute.foldLeft(scrubbed) { case (d, (c, e)) =>
                d.withColumn(c, expr(e))
              }.schema
            }
          }
          weight.foreach(w => attempt("weight")(base.select(expr(w)).schema))
          sample.foreach(sm => attempt("sample") {
            base.select(expr(sm.domain)).schema
            base.select(expr(sm.tokens)).schema
          })
          // each mix source's predicate + the whole mixCorpora call
          // dry-resolve over the base schema (the REAL call, the
          // preferring-tier posture): a bad where or an id the keep rule
          // can't hash errors here, before any data is touched
          val exportBase = mix.flatMap { mx =>
            attempt(s"mix ${mx.name}")(Curation.mixCorpora(
              mx.sources.map(ms => (ms.name,
                ms.where.map(w => base.where(expr(w))).getOrElse(base),
                ms.weight)), col(idName)))
          }.getOrElse(base)
          shards.foreach(sh => attempt("shards") {
            // the export's own column needs — resolved over the POST-MIX
            // schema (a mixed export keys on mix_id and may declare
            // mix_source/mix_copy as sidecar meta): the id
            // (long-castable), and for wds the declared sample-text and
            // sidecar meta columns
            val exportId = if (mix.isDefined) "mix_id" else idName
            exportBase.select(col(exportId).cast("long")).schema
            sh.text.foreach(t => exportBase.select(col(t)).schema)
            sh.meta.foreach(m => exportBase.select(col(m)).schema)
          })
        }
      }
      errs.toSeq
    }

    def toYaml: String = {
      val root = new java.util.LinkedHashMap[String, Any]()
      root.put("version", version)
      root.put("name", name)
      def jmap(kvs: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
        val m = new java.util.LinkedHashMap[String, Any]()
        kvs.foreach { case (k, v) => m.put(k, v) }
        m
      }
      def jlist(xs: Seq[Any]): java.util.ArrayList[Any] = {
        val l = new java.util.ArrayList[Any](); xs.foreach(l.add); l
      }
      root.put("sources", jlist(sources.map { s =>
        val m = jmap("format" -> s.format, "path" -> s.path)
        s.schemaDdl.foreach(m.put("schema", _))
        if (s.map.nonEmpty) m.put("map", jmap(s.map: _*))
        if (s.delimiter != ",") m.put("delimiter", s.delimiter)
        s.quarantineDir.foreach(m.put("quarantine", _))
        m
      }))
      root.put("id", jmap("name" -> idName, "expr" -> idExpr))
      if (prepare.nonEmpty) root.put("prepare", jlist(prepare.map { case (c, e) =>
        jmap("column" -> c, "expr" -> e)
      }))
      if (select.nonEmpty) root.put("select", jlist(select))
      if (dedup.nonEmpty) root.put("dedup", jlist(dedup.map {
        case t: ExactTier =>
          val m = jmap("kind" -> t.kind, "name" -> t.name,
            "content" -> jlist(t.content))
          t.trust.foreach(m.put("trust", _))
          m
        case t: NearTier => jmap("kind" -> t.kind, "name" -> t.name,
          "text" -> t.text, "sizeBy" -> t.sizeBy,
          "shingleSize" -> t.shingleSize, "threshold" -> t.threshold,
          "maxBucketSize" -> t.maxBucketSize)
        case t: NearLargestCcTier => jmap("kind" -> t.kind, "name" -> t.name,
          "text" -> t.text, "sizeBy" -> t.sizeBy,
          "shingleSize" -> t.shingleSize, "threshold" -> t.threshold,
          "maxBucketSize" -> t.maxBucketSize)
        case t: NearKeepFirstTier => jmap("kind" -> t.kind, "name" -> t.name,
          "text" -> t.text, "shingleSize" -> t.shingleSize,
          "threshold" -> t.threshold, "maxBucketSize" -> t.maxBucketSize)
        case t: NearPreferringTier => jmap("kind" -> t.kind, "name" -> t.name,
          "text" -> t.text, "trust" -> t.trust,
          "shingleSize" -> t.shingleSize, "threshold" -> t.threshold,
          "maxBucketSize" -> t.maxBucketSize)
        case t: CapTier => jmap("kind" -> t.kind, "name" -> t.name,
          "key" -> t.key, "max" -> t.max)
      }))
      if (gates.nonEmpty) root.put("gates", jlist(gates.map { case (n, w) =>
        jmap("name" -> n, "where" -> w)
      }))
      pii.foreach { p =>
        val m = jmap("name" -> p.name, "text" -> p.text, "policy" -> p.policy)
        if (p.recompute.nonEmpty) m.put("recompute",
          jlist(p.recompute.map { case (c, e) =>
            jmap("column" -> c, "expr" -> e)
          }))
        root.put("pii", m)
      }
      decontaminate.foreach { d =>
        val m = jmap("name" -> d.name, "path" -> d.path)
        d.where.foreach(m.put("where", _))
        m.put("text", d.textExpr)
        if (d.benchTextExpr != d.textExpr) m.put("benchText", d.benchTextExpr)
        m.put("n", d.n); m.put("minShared", d.minShared)
        root.put("decontaminate", m)
      }
      weight.foreach(root.put("weight", _))
      sample.foreach(sm => root.put("sample", jmap("domain" -> sm.domain,
        "tokens" -> sm.tokens, "budgetFraction" -> sm.budgetFraction,
        "alpha" -> sm.alpha)))
      mix.foreach { mx =>
        root.put("mix", jmap("name" -> mx.name,
          "sources" -> jlist(mx.sources.map { ms =>
            val m = jmap("name" -> ms.name)
            ms.where.foreach(m.put("where", _))
            m.put("weight", ms.weight)
            m
          })))
      }
      shards.foreach { sh =>
        val m = jmap("nShards" -> sh.nShards)
        if (sh.format != "parquet") m.put("format", sh.format)
        sh.text.foreach(m.put("text", _))
        if (sh.meta.nonEmpty) m.put("meta", jlist(sh.meta))
        if (sh.epoch != 0) m.put("epoch", sh.epoch)
        if (sh.compress) m.put("compress", true)
        if (sh.verify != "full") m.put("verify", sh.verify)
        root.put("shards", m)
      }
      val opts = new org.yaml.snakeyaml.DumperOptions()
      opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
      new org.yaml.snakeyaml.Yaml(opts).dump(root)
    }

    /** Fingerprint of the WHOLE config — stamps committed stages so a
     * resume under a DIFFERENT config (including a different pii policy)
     * is refused instead of producing silently mislabeled stages. */
    def fingerprint: Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(toYaml.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(md).getLong & Long.MaxValue
    }

    /** The funnel's stage order as (stage name, flag COLUMN NAME) — the
     * single source of truth for run()'s flag construction AND the
     * resumed-frame funnel, so the naming cannot drift between them. */
    private def flagColumnNames: Seq[(String, String)] =
      dedup.zipWithIndex.map { case (t, i) => t.name -> s"graft_flag_$i" } ++
        gates.zipWithIndex.map { case ((g, _), i) => g -> s"graft_gate_$i" } ++
        pii.map(p => p.name -> "graft_pii") ++
        decontaminate.map(d => d.name -> "graft_decon")

    private def gateColumns: Seq[(String, Column)] =
      flagColumnNames.map { case (n, c) => n -> col(c) }

    /** The unpersisted base frame (front doors unioned, the id on RAW
     * columns, the ordered enrichments, the slim select) and one
     * quarantine counter per source. A counter with a `quarantineDir`
     * writes the quarantine first and counts the WRITTEN output, so one
     * raw parse per source pays for the artifact and its count. */
    private[graft] def ingest(spark: SparkSession): (DataFrame, Seq[() => Long]) = {
      val doors = sources.map { s =>
        val (rows, bad) = s.format match {
          case "warc" => graft.sources.Warc.read(spark, s.path)
          case "jsonl" => graft.sources.Jsonl.read(spark, s.path,
            StructType.fromDDL(s.schemaDdl.get))
          case "csv" => graft.sources.Csv.read(spark, s.path,
            StructType.fromDDL(s.schemaDdl.get), s.delimiter)
          case "wds" => graft.sources.Wds.read(spark, s.path)
        }
        val mapped =
          if (s.map.isEmpty) rows
          else rows.select(s.map.map { case (n, e) => expr(e).as(n) }: _*)
        val countBad: () => Long = s.quarantineDir match {
          case Some(q) => () => {
            bad.write.mode("overwrite").parquet(q)
            spark.read.parquet(q).count()
          }
          case None => () => bad.count()
        }
        (mapped, countBad)
      }
      val raw = doors.map(_._1).reduce(_ unionByName _)
      val withId = raw.select(expr(idExpr).as(idName) +: raw.columns.map(col): _*)
      val prepared = prepare.foldLeft(withId) { case (d, (c, e)) =>
        d.withColumn(c, expr(e))
      }
      (if (select.isEmpty) prepared
       else prepared.select((idName +: select).distinct.map(col): _*),
       doors.map(_._2))
    }

    /** Survivor ids per dedup tier, each tier's work executed exactly
     * ONCE: tier k+1 is built from `base` semi-joined against tier k's
     * already-CHECKPOINTED ids, never from tier k's lazy plan (which
     * would re-run every upstream tier's aggregate). The checkpoints are
     * ContextCleaner-managed — no pinned cache. `checkpoint` is a test
     * seam: BatchPipelineSpec passes a capturing hook to pin the
     * one-aggregate-per-tier plan shape. */
    private[graft] def tierIds(base: DataFrame,
        checkpoint: DataFrame => DataFrame = Checkpoints.stage): Seq[DataFrame] = {
      var cur = base
      dedup.map { t =>
        val survivors = t match {
          case e: ExactTier => e.trust match {
            case Some(tr) => Dedup.exactPreferring(
              cur, col(idName), expr(tr), e.content.map(expr): _*)
            case None => Dedup.exact(cur, col(idName), e.content.map(expr): _*)
          }
          case n: NearTier => Dedup.dropNearDupsKeepLargest(
            cur, col(idName), expr(n.text), expr(n.sizeBy),
            n.shingleSize, n.threshold, n.maxBucketSize)
          case n: NearLargestCcTier => Dedup.dropNearDupsKeepLargestCC(
            cur, col(idName), expr(n.text), expr(n.sizeBy),
            n.shingleSize, n.threshold, maxBucketSize = n.maxBucketSize)
          case n: NearKeepFirstTier => Dedup.dropNearDups(
            cur, col(idName), expr(n.text),
            n.shingleSize, n.threshold, n.maxBucketSize)
          case n: NearPreferringTier => Dedup.dropNearDupsPreferring(
            cur, col(idName), expr(n.text), expr(n.trust),
            n.shingleSize, n.threshold, maxBucketSize = n.maxBucketSize)
          case c: CapTier =>
            Curation.capPerKey(cur, expr(c.key), col(idName), c.max)
        }
        val ids = checkpoint(survivors.select(col(idName)))
        cur = base.join(ids, Seq(idName), "leftsemi")
        ids
      }
    }

    /**
     * The LAZY pre-checkpoint flags frame over the base: one survivor
     * flag per dedup tier, the row-local gates, and the pii stage (column
     * names from [[flagColumnNames]], the table the resumed-frame funnel
     * reads too, so they cannot drift).
     *
     * One left flag-join per tier, all keyed on the id, so the same-key
     * sort-merge joins share ONE corpus exchange + sort: the text payload
     * crosses the network once, not once per tier. The pre-AQE plan at
     * sf0.1 shows that shape — three sort-merge joins over one exchange
     * of the corpus (plans/chain/q_pipeline_gates_config.txt, written by
     * PlanDump).
     */
    private[graft] def flags(base: DataFrame, tierIds: Seq[DataFrame]): DataFrame = {
      val colNames = flagColumnNames.map(_._2)
      var flagged = base
      tierIds.zipWithIndex.foreach { case (ids, i) =>
        val c = colNames(i)
        flagged = flagged
          .join(ids.withColumn(c, lit(true)), Seq(idName), "left")
          .withColumn(c, coalesce(col(c), lit(false)))
      }
      gates.zipWithIndex.foreach { case ((_, where), i) =>
        val c = colNames(dedup.size + i)
        flagged = flagged.withColumn(c, coalesce(expr(where), lit(false)))
      }
      // pii stage (after the row-local gates, before decontamination):
      // drop flags PII carriers out; redact keeps every row, scrubbing the
      // text in place and re-deriving the declared columns — the raw
      // funnel weight is snapshotted first so the staged funnel can charge
      // the scrubbed-away mass to this stage
      pii.foreach { p =>
        val c = colNames(dedup.size + gates.size)
        p.policy match {
          case "drop" =>
            // match-only detection — provably redactPii(text) === text
            // without the four per-doc copies (Pii.hasPii)
            flagged = flagged.withColumn(c, !Pii.hasPii(col(p.text)))
          case "redact" =>
            flagged = flagged
              .withColumn("graft_w_raw", weight.map(expr).getOrElse(lit(1L)))
              .withColumn(p.text, Pii.redactPii(col(p.text)))
            flagged = p.recompute.foldLeft(flagged) { case (d, (cc, e)) =>
              d.withColumn(cc, expr(e))
            }.withColumn(c, lit(true))
        }
      }
      flagged
    }

    /** Run the configured chain; artifacts (funnel parquet, shards) land
     * under `work`, and per-stage wall seconds in [[BatchResult.stages]].
     * With `stageDir` set, the ingested base and the flagged frame commit
     * under it ([[Incremental.commitStage]]'s manifest-guarded protocol)
     * and a re-run resumes from the last committed stage — stamped with
     * [[fingerprint]], so resuming under an edited config fails loudly.
     * Use one stageDir per (sources, config) run. */
    def run(spark: SparkSession, work: String,
        stageDir: Option[String] = None): BatchResult = {
      graft.functions.Registry.registerAll(spark)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val timed = new StageWalls
      def checkFp(meta: Map[String, Long], d: String): Unit = {
        // the stamp must be PRESENT: an unstamped stage is a foreign one
        // — defaulting it to the current fingerprint would wave any
        // committed frame through
        require(meta.contains("config_fp"),
          s"stageDir '$d' holds stages without a config fingerprint " +
            "(not committed by BatchConfig.run) — use a fresh stageDir")
        require(meta("config_fp") == fingerprint,
          s"stageDir '$d' was committed under a DIFFERENT config " +
            "(fingerprint mismatch) — use one stageDir per config")
      }

      // ---- resume from the flagged stage if a committed copy exists
      stageDir.filter(d => Incremental.committedStage(spark, s"$d/flagged"))
        .foreach { d =>
          val meta = Incremental.stageMeta(spark, s"$d/flagged")
          checkFp(meta, d)
          val materialized = spark.read.parquet(s"$d/flagged")
          // ingested rides the stage metadata — a 100 TB resume must not
          // pay a count job for a number known at commit time (flags
          // never drop rows, so the fallback count equals it)
          return finishRun(spark, work, timed, materialized,
            meta.getOrElse("ingested", materialized.count()),
            meta.getOrElse("quarantined", 0L))
        }

      // ---- resume the base, or ingest into ONE persisted base frame
      // (and optionally commit it). Quarantine accounting runs after the
      // base is forced: one raw parse per source for the base, one for
      // its quarantine.
      val (base, ingested, quarantined) = timed("ingest_extract") {
        stageDir.filter(d => Incremental.committedStage(spark, s"$d/base")) match {
          case Some(d) =>
            val meta = Incremental.stageMeta(spark, s"$d/base")
            checkFp(meta, d)
            val b = spark.read.parquet(s"$d/base")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            (b, b.count(), meta.getOrElse("quarantined", 0L))
          case None =>
            val (lazyBase, countBad) = ingest(spark)
            val b = lazyBase
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val n = b.count()
            val q = countBad.map(_()).sum
            stageDir.foreach(d => Incremental.commitStage(spark, s"$d/base", b,
              Map("quarantined" -> q, "config_fp" -> fingerprint)))
            (b, n, q)
        }
      }

      val ids = timed("dedup") {
        tierIds(base)
      }

      val materialized = timed("gates") {
        // checkpoint BEFORE decontamination: flags (and the redact scrub)
        // run exactly once, and decon reads the post-pii text from the
        // materialized frame — no second scrub pass over the corpus
        val staged = Checkpoints.stage(flags(base, ids))
        decontaminate match {
          case Some(d) =>
            val bench0 = spark.read.parquet(d.path)
            val bench = d.where.map(w => bench0.where(expr(w))).getOrElse(bench0)
              .select(expr(d.benchTextExpr).as("graft_bench_text"))
            val leaking = Curation.decontaminate(staged, col(idName),
                expr(d.textExpr), bench, col("graft_bench_text"),
                n = d.n, minShared = d.minShared)
              .select(col("id").as(idName)).withColumn("graft_leak", lit(true))
              .localCheckpoint() // small (leak ids only) — decon runs once
            staged.join(leaking, Seq(idName), "left")
              .withColumn(flagColumnNames.last._2, col("graft_leak").isNull)
          case None => staged
        }
      }
      stageDir.foreach(d => Incremental.commitStage(spark, s"$d/flagged",
        materialized, Map("quarantined" -> quarantined,
          "ingested" -> ingested, "config_fp" -> fingerprint)))
      base.unpersist(blocking = false) // materialized is checkpoint-backed
      finishRun(spark, work, timed, materialized, ingested, quarantined)
    }

    /** The funnel → sample → mix → shard tail of [[run]], shared by the
     * fresh path and the flagged-stage resume. */
    private def finishRun(spark: SparkSession, work: String, timed: StageWalls,
        materialized: DataFrame, ingested: Long, quarantined: Long): BatchResult = {
      val gateCols = gateColumns
      // ---- the whole-chain first-fail funnel, written ONCE (staged
      // weights when the pii stage redacts: raw weight through the pii
      // stage, re-derived weight after — token mass lost to scrubbing
      // charges to pii). The result's funnel is this parquet read back
      // with the schema it was written with (inferring it costs a job).
      val w = weight.map(expr).getOrElse(lit(1L))
      val funnelPath = s"$work/funnel.parquet"
      val funnelSchema = timed("funnel") {
        val funnel = pii.filter(_.policy == "redact") match {
          case Some(p) =>
            val piiIdx = gateCols.indexWhere(_._1 == p.name)
            val weights = gateCols.indices.map(i =>
              if (i <= piiIdx) col("graft_w_raw") else w) :+ w
            Curation.retentionFunnelStaged(materialized, gateCols, weights)
          case None =>
            Curation.retentionFunnel(materialized, gateCols, weight = w)
        }
        funnel.write.mode("overwrite").parquet(funnelPath)
        funnel.schema
      }

      // ---- survivors → optional temperature sample → optional shards.
      // Slim back to the declared base columns: the graft_flag_/graft_gate_/
      // graft_leak/graft_decon working columns are funnel plumbing, not
      // training data — persisting them into the shard export would bloat
      // a 100 TB artifact (ADVICE r16).
      val survivors = materialized.where(gateCols.map(_._2).reduce(_ && _))
        .select(materialized.columns.filterNot(_.startsWith("graft_"))
          .map(col).toIndexedSeq: _*)
      val (sampled, survivorTokens) = sample match {
        case Some(sm) => timed("sample") {
          val tot = survivors
            .agg(coalesce(sum(expr(sm.tokens)), lit(0L)).cast("long"))
            .head().getLong(0)
          // checkpointed once: the export, its count and a datacard read
          // one materialized sample instead of each re-running it
          (Curation.temperatureSample(survivors, col(idName), expr(sm.domain),
            expr(sm.tokens), totalBudget = math.max(1L,
              (tot * sm.budgetFraction).toLong), alpha = sm.alpha)
            .localCheckpoint(), Some(tot))
        }
        case None => (survivors, None)
      }

      // ---- optional pretraining mixture, funnel-accounted: the mix
      // stage's row (appended to the funnel parquet) charges oversampled
      // copies as GAINED mass (negative rows_dropped / weight_dropped, so
      // out = in − dropped conserves). Cost: two narrow single-row
      // aggregates over the mix input/output — the export pays the only
      // corpus-shaped pass. When a temperature sample sits between the
      // funnel tail and the mix, the sample's drop shows as the gap
      // between the funnel's last rows_out and the mix row's rows_in.
      val mixed = mix.map { mx =>
        val mdf = Curation.mixCorpora(mx.sources.map(ms => (ms.name,
          ms.where.map(wx => sampled.where(expr(wx))).getOrElse(sampled),
          ms.weight)), col(idName))
        import spark.implicits._
        def tally(d: DataFrame) = {
          val r = d.agg(count(lit(1)).as("n"),
            coalesce(sum(w.cast("long")), lit(0L)).as("w")).head()
          (r.getLong(0), r.getLong(1))
        }
        val (nIn, wIn) = tally(sampled)
        val (nOut, wOut) = tally(mdf)
        Seq((gateCols.size + 1, mx.name,
          nIn, nIn - nOut, nOut, wIn, wIn - wOut, wOut)).toDF(
          "stage", "gate", "rows_in", "rows_dropped", "rows_out",
          "weight_in", "weight_dropped", "weight_out")
          .write.mode("append").parquet(funnelPath)
        mdf
      }

      // a mixed export keys on the collision-resistant mix_id: full
      // copies duplicate the original id, which can no longer key a
      // WebDataset sample (Wds.write would refuse, correctly)
      val exportDf = mixed.getOrElse(sampled)
      val exportId = if (mixed.isDefined) col("mix_id") else col(idName)
      val manifest = shards.map { sh =>
        timed("write_shards") {
          (sh.format match {
            case "wds" => graft.sources.Wds.write(exportDf, exportId,
              col(sh.text.get), w, s"$work/shards", nShards = sh.nShards,
              metaCols = sh.meta.map(m => m -> col(m)),
              epoch = sh.epoch, compress = sh.compress, verify = sh.verify)
            case _ => Curation.writeShards(exportDf, exportId, w,
              s"$work/shards", nShards = sh.nShards, epoch = sh.epoch)
          }).localCheckpoint()
        }
      }
      BatchResult(spark.read.schema(funnelSchema).parquet(funnelPath),
        ingested, quarantined, manifest, materialized, sampled,
        survivorTokens, timed.walls.toSeq)
    }
  }

  /** What [[BatchSpec.run]] produced: the funnel (the written parquet,
   * read back), the ingest totals, the shard manifest, the flagged frame,
   * the sampled frame (the survivors when no sample is configured) and
   * the survivor token total the sample budget came from, plus the wall
   * seconds of each stage in run order. */
  final case class BatchResult(funnel: DataFrame, ingested: Long,
      quarantined: Long, shardManifest: Option[DataFrame],
      flagged: DataFrame, sampled: DataFrame, survivorTokens: Option[Long],
      stages: Seq[(String, Double)])

  /** Wall seconds per named stage, in the order the stages ran. */
  private[graft] final class StageWalls {
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def apply[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      walls(stage) = (System.nanoTime() - t0) / 1e9
      r
    }
  }


  // ---- yaml (snakeyaml untyped maps; same helpers posture as
  // PipelineConfig — fail with the step location in the message) ----

  def fromYaml(yaml: String): BatchSpec = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Any]](yaml)
    require(root != null, "empty batch pipeline yaml")
    val version = int(root, "version", "batch pipeline")
    require(version == 1, s"unsupported batch pipeline version $version")
    val name = str(root, "name", "batch pipeline")
    val sources = mapList(root, "sources", "batch pipeline").zipWithIndex.map {
      case (m, i) =>
        val where = s"source $i"
        Source(str(m, "format", where), str(m, "path", where),
          Option(m.get("schema")).map(_.toString),
          Option(m.get("map")).map(asPairs(_, where)).getOrElse(Nil),
          strOr(m, "delimiter", ","),
          Option(m.get("quarantine")).map(_.toString))
    }
    val idm = subMap(root, "id", "batch pipeline")
    val prepare = optMapList(root, "prepare").zipWithIndex.map { case (m, i) =>
      (str(m, "column", s"prepare $i"), str(m, "expr", s"prepare $i"))
    }
    val dedup: Seq[Tier] = optMapList(root, "dedup").zipWithIndex.map {
      case (m, i) =>
        val where = s"dedup $i"
        str(m, "kind", where) match {
          case "exact" => ExactTier(str(m, "name", where),
            strList(m, "content", where), Option(m.get("trust")).map(_.toString))
          case "near_keep_largest" => NearTier(str(m, "name", where),
            str(m, "text", where), str(m, "sizeBy", where),
            intOr(m, "shingleSize", 3), doubleOr(m, "threshold", 0.7),
            intOr(m, "maxBucketSize", 1000))
          case "near_keep_largest_cc" => NearLargestCcTier(str(m, "name", where),
            str(m, "text", where), str(m, "sizeBy", where),
            intOr(m, "shingleSize", 3), doubleOr(m, "threshold", 0.7),
            intOr(m, "maxBucketSize", 1000))
          case "near" => NearKeepFirstTier(str(m, "name", where),
            str(m, "text", where), intOr(m, "shingleSize", 3),
            doubleOr(m, "threshold", 0.7), intOr(m, "maxBucketSize", 1000))
          case "near_preferring" => NearPreferringTier(str(m, "name", where),
            str(m, "text", where), str(m, "trust", where),
            intOr(m, "shingleSize", 3), doubleOr(m, "threshold", 0.7),
            intOr(m, "maxBucketSize", 1000))
          case "cap_per_key" => CapTier(str(m, "name", where),
            str(m, "key", where), int(m, "max", where))
          case other => fail(where, s"unknown dedup kind '$other'")
        }
    }
    val gates = optMapList(root, "gates").zipWithIndex.map { case (m, i) =>
      (str(m, "name", s"gate $i"), str(m, "where", s"gate $i"))
    }
    val piiStage = Option(root.get("pii")).map { v =>
      val m = asMap(v, "pii")
      PiiStage(str(m, "name", "pii"), str(m, "text", "pii"),
        strOr(m, "policy", "drop"),
        optMapList(m, "recompute").zipWithIndex.map { case (rm, i) =>
          (str(rm, "column", s"pii recompute $i"),
            str(rm, "expr", s"pii recompute $i"))
        })
    }
    val decon = Option(root.get("decontaminate")).map { v =>
      val m = asMap(v, "decontaminate")
      val txt = str(m, "text", "decontaminate")
      Decon(str(m, "name", "decontaminate"), str(m, "path", "decontaminate"),
        Option(m.get("where")).map(_.toString), txt,
        strOr(m, "benchText", txt), intOr(m, "n", 8), intOr(m, "minShared", 1))
    }
    val sample = Option(root.get("sample")).map { v =>
      val m = asMap(v, "sample")
      TempSample(str(m, "domain", "sample"), str(m, "tokens", "sample"),
        dbl(m, "budgetFraction", "sample"), doubleOr(m, "alpha", 0.5))
    }
    val shards = Option(root.get("shards")).map { v =>
      val m = asMap(v, "shards")
      ShardSpec(int(m, "nShards", "shards"), strOr(m, "format", "parquet"),
        Option(m.get("text")).map(_.toString), optStrList(m, "meta"),
        intOr(m, "epoch", 0),
        Option(m.get("compress")).exists(_.toString.toBoolean),
        strOr(m, "verify", "full"))
    }
    val mixSpec = Option(root.get("mix")).map { v =>
      val m = asMap(v, "mix")
      MixSpec(str(m, "name", "mix"),
        mapList(m, "sources", "mix").zipWithIndex.map { case (sm, i) =>
          MixSource(str(sm, "name", s"mix source $i"),
            Option(sm.get("where")).map(_.toString),
            dbl(sm, "weight", s"mix source $i"))
        })
    }
    BatchSpec(version, name, sources,
      str(idm, "name", "id"), str(idm, "expr", "id"),
      prepare, optStrList(root, "select"), dedup, gates, piiStage, decon,
      Option(root.get("weight")).map(_.toString), sample, shards, mixSpec)
  }

  private def fail(where: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"batch pipeline config: $where: $msg")
  private def asMap(v: Any, where: String): java.util.Map[String, Any] = v match {
    case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]]
    case other => fail(where, s"expected a map, got $other")
  }
  private def asPairs(v: Any, where: String): Seq[(String, String)] = v match {
    case m: java.util.Map[_, _] =>
      val b = Seq.newBuilder[(String, String)]
      m.forEach((k, vv) => b += ((k.toString, vv.toString)))
      b.result()
    case other => fail(where, s"expected a map, got $other")
  }
  private def subMap(m: java.util.Map[String, Any], k: String,
      where: String): java.util.Map[String, Any] =
    m.get(k) match {
      case null => fail(where, s"missing required field '$k'")
      case v => asMap(v, s"$where.$k")
    }
  private def mapList(m: java.util.Map[String, Any], k: String,
      where: String): Seq[java.util.Map[String, Any]] =
    m.get(k) match {
      case l: java.util.List[_] if !l.isEmpty =>
        (0 until l.size).map(i => asMap(l.get(i), s"$where.$k[$i]"))
      case null => fail(where, s"missing required field '$k'")
      case other => fail(where, s"field '$k' must be a non-empty list, got $other")
    }
  private def optMapList(m: java.util.Map[String, Any],
      k: String): Seq[java.util.Map[String, Any]] =
    m.get(k) match {
      case l: java.util.List[_] => (0 until l.size).map(i => asMap(l.get(i), s"$k[$i]"))
      case _ => Nil
    }
  private def optStrList(m: java.util.Map[String, Any], k: String): Seq[String] =
    m.get(k) match {
      case l: java.util.List[_] => (0 until l.size).map(i => l.get(i).toString)
      case _ => Nil
    }
  private def strList(m: java.util.Map[String, Any], k: String,
      where: String): Seq[String] =
    m.get(k) match {
      case l: java.util.List[_] if !l.isEmpty =>
        (0 until l.size).map(i => l.get(i).toString)
      case null => fail(where, s"missing required field '$k'")
      case other => fail(where, s"field '$k' must be a non-empty list, got $other")
    }
  private def str(m: java.util.Map[String, Any], k: String, where: String): String =
    m.get(k) match {
      case s: String if s.nonEmpty => s
      case null => fail(where, s"missing required field '$k'")
      case other => fail(where, s"field '$k' must be a non-empty string, got $other")
    }
  private def strOr(m: java.util.Map[String, Any], k: String, dflt: String): String =
    m.get(k) match { case s: String => s; case _ => dflt }
  private def int(m: java.util.Map[String, Any], k: String, where: String): Int =
    m.get(k) match {
      case n: java.lang.Number => n.intValue
      case null => fail(where, s"missing required field '$k'")
      case other => fail(where, s"field '$k' must be an integer, got $other")
    }
  private def intOr(m: java.util.Map[String, Any], k: String, dflt: Int): Int =
    m.get(k) match { case n: java.lang.Number => n.intValue; case _ => dflt }
  private def dbl(m: java.util.Map[String, Any], k: String, where: String): Double =
    m.get(k) match {
      case n: java.lang.Number => n.doubleValue
      case null => fail(where, s"missing required field '$k'")
      case other => fail(where, s"field '$k' must be a number, got $other")
    }
  private def doubleOr(m: java.util.Map[String, Any], k: String, dflt: Double): Double =
    m.get(k) match { case n: java.lang.Number => n.doubleValue; case _ => dflt }
}
