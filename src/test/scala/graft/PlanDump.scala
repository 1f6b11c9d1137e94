package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries to plans/<tag>/<name>_<suffix>.txt under the same session shape
  * the bench uses, so plan claims in OPTIMIZATION notes are reproducible.
  *
  *   sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <suffix> q_a,q_b"
  *
  * Queries whose construction runs eager actions (checkpointed fixpoints,
  * staged fixtures) still dump the plan of the frame they RETURN — noted
  * in the file header so a reader knows what the text covers.
  */
object PlanDump {

  /** Operator-level reconstructions for queries whose RETURNED frame is a
    * localCheckpoint scan (the checkpoint truncates the interesting plan):
    * same operator calls as the SparkEntry query minus the final
    * checkpoint, so the dumped plan is the computation the bench times. */
  def ops(sfDir: String)(implicit s: SparkSession)
      : Map[String, () => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    def docs = s.read.parquet(s"$sfDir/documents.parquet")
    def scoreSet = docs.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 6 === 0, lit(" zzqx9 vvkk7 zzqx9")).otherwise(lit(""))).as("t"))
    Map(
      "q_lm_score" -> (() => {
        val m = graft.pipeline.Lm.train(docs, col("text"), order = 2)
        graft.pipeline.Lm.score(m, scoreSet, col("doc_id"), col("t"))
      }),
      "q_lm5_score" -> (() => {
        val m = graft.pipeline.Lm.train(docs, col("text"), order = 5)
        graft.pipeline.Lm.score(m, scoreSet, col("doc_id"), col("t"))
      }),
      "q_lm_kn" -> (() => {
        val m = graft.pipeline.Lm.train(docs, col("text"), order = 3)
        graft.pipeline.Lm.scoreKn(m, scoreSet, col("doc_id"), col("t"))
      }),
      "q_lm_mkn" -> (() => {
        val m = graft.pipeline.Lm.train(docs, col("text"), order = 3)
        graft.pipeline.Lm.scoreMkn(m, scoreSet, col("doc_id"), col("t"))
      }),
      // the composed chain's GATES stage (the q_pipeline_* queries
      // checkpoint it mid-chain, so the returned-frame plan hides it): the
      // lazy pre-checkpoint gate frame over the chain's own ingest — tier
      // flags + langid/gopher/pii. Unpersisted here: runChain owns the
      // persist, so this plan reads the front door where runChain's reads
      // the cached base.
      "q_pipeline_gates" -> (() => {
        val (warcDir, jsonlDir) = BatchPipeline.stagedOnce(s, sfDir)
        val (base, _, _) = BatchPipeline.ingest(s, warcDir, jsonlDir)
        val (u, t, nr) = BatchPipeline.dedupTierIds(base)
        BatchPipeline.gateFlags(base, u, t, nr, redact = false)
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cores = Harness.envCores
    val spark = Harness.session(cores)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries ++
      ops(sfDir)(spark).map { case (k, op) => k -> ((_: SparkSession, _: String) => op()) }
    Harness.eachQuery(spark, "plandump", sfDir, names, queries) { (name, df) =>
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        s"== $name ($suffix) sf=$sfDir cpus=$cores ==\n" + txt)
      println(s"[plandump] $name ok")
    }(_ => ())
    spark.stop()
  }
}
