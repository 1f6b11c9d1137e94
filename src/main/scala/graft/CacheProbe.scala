package graft

/**
 * Cache-residue probe over the WHOLE driver contract (VERDICT r15
 * next-round #8, institutionalizing the r15 manual step): run every
 * `SparkEntry.queries` entry at a small SF and record, after each
 * query's action completes, whether the session's SQL cache is empty.
 * Operators that persist staging frames must release them before
 * returning (the owned-cache-with-release posture LmModel/DsirModel/
 * the rank-cache handles adopted) — a long-lived driver serving
 * thousands of queries must not accumulate pinned cache entries. Any
 * query that leaves residue is listed by name; the probe clears the
 * cache after a dirty query so each result is attributable to exactly
 * one query. One JSON line to stdout and to `outPath` (checked in as
 * artifacts/cache_probe.json per round).
 *
 * Usage: sbt -batch "runMain graft.CacheProbe [sfDir] [outPath]"
 */
object CacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "artifacts/cache_probe.json"
    val spark = Harness.session()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val dirty = scala.collection.mutable.ArrayBuffer.empty[String]
    val errored = scala.collection.mutable.ArrayBuffer.empty[String]
    Harness.eachQuery(spark, "cacheprobe", sfDir, names)((_, df) => df.count()) { o =>
      if (o.result.isLeft) errored += o.name
      if (!spark.sharedState.cacheManager.isEmpty) {
        // an errored query's residue is attributed to `errored` only —
        // disjoint buckets keep the clean count exact (ADVICE r16)
        if (o.result.isRight) dirty += o.name
        spark.catalog.clearCache() // attribute residue to one query only
      }
    }
    def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"probe":"cache_residue","sf":"$sfDir","queries":${names.size},""" +
      s""""clean":${names.size - dirty.size - errored.size},""" +
      s""""dirty":${jarr(dirty.toSeq)},"errored":${jarr(errored.toSeq)}}"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outPath).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
