package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Incremental ingest deduplication — production corpora grow batch by batch,
 * and re-running whole-corpus dedup on every ingest is O(corpus) per batch.
 * These variants keep a persisted index (parquet, hashes only — content
 * never lands in the index) and dedup each NEW batch against it in
 * O(batch + matching-index-slices):
 *
 *  - [[exactIncremental]]: a (h1, h2, id) fingerprint index; a new doc drops
 *    iff its 128-bit content fingerprint is already indexed under a
 *    DIFFERENT id (the same-id guard makes a retried batch a no-op instead
 *    of deduping against itself).
 *  - [[minhashIncremental]]: a persisted LSH band table + minhash signature
 *    table; a new doc drops if it shares a band bucket with an indexed doc
 *    AND the signature agreement fraction (an unbiased Jaccard estimator
 *    over numHashes components) meets the threshold. Within-batch near-dups
 *    collapse through the exact-verify [[Dedup.dropNearDups]] first. NOTE:
 *    the cross-batch verify is ESTIMATED Jaccard (the index stores
 *    signatures, not text — by design at 100 TB); at 64 hashes the estimate
 *    has σ ≈ 0.06, so thresholds well inside a corpus's similarity gap
 *    behave exactly like the batch path.
 *
 * Both append the surviving batch's rows to the index AFTER materializing
 * the result (localCheckpoint), and the append set is anti-joined against
 * the index first — a retried batch appends nothing, so retries are
 * idempotent. Earlier-indexed documents always win; within a batch the
 * lowest id wins (the whole-corpus keep-first rule). Document ids must be
 * globally unique and stable across batches.
 */
object Incremental {

  /** The index at `path`, or an empty frame with its schema on first use —
   * resolved through the Hadoop filesystem of the path, so object stores
   * work the same as local disk. Repairs a crashed compaction FIRST: a
   * mid-swap crash leaves the table aside as `path__compact_old`, and
   * without the repair this exists-check would silently treat the index as
   * empty — every indexed fingerprint forgotten, the whole batch kept. */
  private def indexOrEmpty(spark: SparkSession, path: String, schemaDdl: String): DataFrame = {
    repairDir(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
  }

  /** Exact incremental dedup of `newBatch` against the fingerprint index at
   * `indexPath`. Returns the surviving rows of `newBatch` (original
   * columns), already materialized; appends their fingerprints to the
   * index. */
  def exactIncremental(
      newBatch: DataFrame, idCol: Column, indexPath: String,
      contentCols: Column*): DataFrame = {
    val spark = newBatch.sparkSession
    val fp = Dedup.fingerprint(contentCols)
    val index = indexOrEmpty(spark, indexPath, "h1 BIGINT, h2 BIGINT, id BIGINT")
    // within-batch keep-first, against the same fingerprint the index stores
    val keep = newBatch.select(fp.as("graft_fp"), idCol.cast("long").as("graft_id"))
      .groupBy(col("graft_fp")).agg(min(col("graft_id")).as("graft_keep"))
    val inBatch = newBatch.join(keep,
      fp === col("graft_fp") && idCol.cast("long") === col("graft_keep"), "leftsemi")
    // cross-batch: drop when the fingerprint is indexed under a different id
    // (same id = this very doc on a retried batch — keep it)
    val survivors = inBatch.join(index,
        fp.getField("h1") === index("h1") && fp.getField("h2") === index("h2") &&
          idCol.cast("long") =!= index("id"),
        "left_anti")
      .localCheckpoint(true)
    // idempotent append: only fingerprints the index has never seen
    val newRows = survivors.select(
        fp.getField("h1").as("h1"), fp.getField("h2").as("h2"),
        idCol.cast("long").as("id"))
      .join(index, Seq("h1", "h2"), "left_anti")
    newRows.write.mode("append").parquet(indexPath)
    survivors
  }

  /** MinHash incremental near-dedup of `newBatch` (idCol, textCol) against
   * the LSH index at `indexPath` (bands table + signature table). Returns
   * surviving rows (id, text), materialized; appends their band rows and
   * signatures. See the object doc for the estimated-verify contract. */
  def minhashIncremental(
      newBatch: DataFrame, idCol: Column, textCol: Column, indexPath: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val spark = newBatch.sparkSession
    val rowsPerBand = numHashes / bands
    val bandsIdx = indexOrEmpty(spark, s"$indexPath/bands", "band INT, bucket BIGINT, id BIGINT")
    val sigsIdx = indexOrEmpty(spark, s"$indexPath/sigs", "id BIGINT, sig ARRAY<BIGINT>")

    // within-batch near-dedup first (exact-verify, keep lowest id)
    val docs = newBatch.select(idCol.cast("long").as("id"), textCol.as("text"))
    val inBatch = Dedup.dropNearDups(docs, col("id"), col("text"),
      shingleSize = shingleSize, threshold = estimateToExactThreshold(threshold),
      maxBucketSize = maxBucketSize)

    val sigs = inBatch.select(col("id"), col("text"),
      Text.minhash(Text.shingles(col("text"), shingleSize), numHashes).as("sig"))
    val bandRows = sigs
      .select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("id"), col("band"),
        xxhash64(col("band"),
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))

    // cross-batch candidates: batch band rows colliding with indexed buckets.
    // BOTH guards are retry-idempotence guards: the same id never dedups
    // against itself, and an indexed id that belongs to the CURRENT batch is
    // this batch's own earlier (crashed) append — those pairs were already
    // adjudicated by the within-batch EXACT verify, and re-judging them with
    // the ESTIMATED agreement could drop rows run 1 kept (σ ≈ 0.06 at 64
    // hashes straddles thresholds the exact verify resolved).
    val batchIds = sigs.select(col("id"))
    val candidates = bandRows
      .join(bandsIdx.select(col("band"), col("bucket"), col("id").as("graft_old_id")),
        Seq("band", "bucket"))
      .where(col("id") =!= col("graft_old_id"))
      .join(batchIds.select(col("id").as("graft_old_id")), Seq("graft_old_id"), "left_anti")
      .select(col("id"), col("graft_old_id")).distinct()
    // estimated-Jaccard verify: agreement fraction of signature components
    val drops = candidates
      .join(sigs.select(col("id"), col("sig")), "id")
      .join(sigsIdx.select(col("id").as("graft_old_id"), col("sig").as("graft_old_sig")),
        Seq("graft_old_id"))
      .where(
        aggregate(zip_with(col("sig"), col("graft_old_sig"),
            (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).cast("double") / lit(numHashes.toDouble)
          >= threshold)
      .select(col("id")).distinct()

    val survivors = sigs.join(drops, Seq("id"), "left_anti")
      .select(col("id"), col("text"), col("sig"))
      .localCheckpoint(true)
    // idempotent append: only ids the signature table has never seen
    val freshIds = survivors.select(col("id"))
      .join(sigsIdx.select(col("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    // bands FIRST, sigs second: the idempotency key is the sigs table, so
    // a crash between the two appends must leave the retry able to heal.
    // Crash after bands: retry still sees the ids as fresh (sigs missing),
    // re-appends bands (duplicates are harmless — candidate generation
    // dedups pairs) and then sigs. The reverse order left ids in sigs but
    // never in bands — permanently invisible to candidate generation,
    // unfixable by retry. Band rows for the append derive from the
    // CHECKPOINTED survivors' sig column (a cheap projection of
    // materialized data) — the pre-dedup bandRows lineage would re-run the
    // whole within-batch LSH pass a second time.
    val freshSurvivors = survivors.join(freshIds, Seq("id"), "leftsemi")
    freshSurvivors
      .select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("band"),
        xxhash64(col("band"),
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"),
        col("id"))
      .write.mode("append").parquet(s"$indexPath/bands")
    freshSurvivors.select(col("id"), col("sig"))
      .write.mode("append").parquet(s"$indexPath/sigs")
    survivors.select(col("id"), col("text"))
  }

  /** The batch path verifies with EXACT Jaccard; the estimated threshold
   * maps one-to-one here (same scale) — kept as a named hook so the two
   * verify regimes stay explicitly aligned. */
  private def estimateToExactThreshold(t: Double): Double = t

  // ------------------------------------------------------- compaction swap

  /**
   * Manifest-guarded FRESH stage commit for restartable chains (the
   * resume contract of BatchConfig.BatchSpec.run, which BatchPipeline.run
   * executes): at 100 TB a crash in hour 30 of a
   * 40-hour chain must not restart from raw WARC, so optional stage
   * outputs are committed with the same torn-write discipline as
   * [[compact]]'s swap — write to `dir__stage_tmp`, stamp small metadata
   * INSIDE the copy (`_graft_meta.json`, riding the rename atomically),
   * record the expected parquet-file count manifest, rename into place,
   * drop the manifest. [[committedStage]] accepts a dir only when no
   * in-flight marker contradicts it — a torn write reads as ABSENT
   * (recompute), never as an empty or partial table. Idempotent: an
   * already-committed dir is left untouched, so retries resume.
   */
  private[graft] def commitStage(spark: SparkSession, dir: String,
      df: DataFrame, meta: Map[String, Long] = Map.empty): Unit = {
    if (committedStage(spark, dir)) return
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__stage_tmp")
    val manifest = new org.apache.hadoop.fs.Path(dir + "__stage_manifest")
    // scrap any torn leftovers from a previous crash
    Seq(p, tmp, manifest).foreach(x => if (fs.exists(x)) fs.delete(x, true))
    df.write.mode("overwrite").parquet(tmp.toString)
    val metaJson = meta.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val mOut = fs.create(new org.apache.hadoop.fs.Path(tmp, "_graft_meta.json"), true)
    try mOut.write(metaJson.getBytes("UTF-8")) finally mOut.close()
    val out = fs.create(manifest, true)
    try out.write(parquetFileCount(fs, tmp).toString.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"cannot move stage $dir into place")
    fs.delete(manifest, false)
  }

  /** True iff `dir` holds a complete committed stage: the dir exists, no
   * tmp copy is in flight, and any crash-leftover manifest matches the
   * dir's parquet-file count (in which case it is cleaned up). */
  private[graft] def committedStage(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    val tmp = new org.apache.hadoop.fs.Path(dir + "__stage_tmp")
    if (fs.exists(tmp)) return false // commit never finished
    val manifest = new org.apache.hadoop.fs.Path(dir + "__stage_manifest")
    if (!fs.exists(manifest)) return true
    // crashed between rename and manifest delete: verify the copy
    val in = fs.open(manifest)
    val expected =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    if (parquetFileCount(fs, p) == expected) {
      fs.delete(manifest, false); true
    } else false
  }

  /** The metadata stamped into a committed stage by [[commitStage]]. */
  private[graft] def stageMeta(spark: SparkSession, dir: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_meta.json")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
    """"([^"]+)":(-?\d+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  private[graft] def parquetFileCount(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Long = {
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /**
   * Repair a crashed [[compact]] swap on one table directory. The two-rename
   * swap (dir → dir__compact_old, dir__compact_tmp → dir) is NOT atomic —
   * on a real filesystem rename is a metadata op, but on S3-style object
   * stores it's copy+delete, and a crash between the renames leaves the
   * live index ASIDE: `dir` missing, content intact under `__compact_old`.
   * The manifest written before the swap makes that state detectable, and
   * this repair rolls it forward (tmp complete per its manifest file count
   * — a listing, never a data scan) or back (otherwise). Idempotent; called
   * automatically by every index load and by [[compact]] itself.
   */
  private[graft] def repairDir(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    val manifest = new org.apache.hadoop.fs.Path(dir + "__compact_manifest")
    if (!fs.exists(tmp) && !fs.exists(old) && !fs.exists(manifest)) return
    if (!fs.exists(p) && fs.exists(old)) {
      // crashed BETWEEN the renames: the live table is aside
      val expected: Long =
        if (!fs.exists(manifest)) -1L
        else {
          val in = fs.open(manifest)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
          finally in.close()
        }
      if (fs.exists(tmp) && expected >= 0 && parquetFileCount(fs, tmp) == expected) {
        // the compacted copy is complete — roll the swap forward
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"repair: cannot finish swap of $dir")
        fs.delete(old, true)
      } else {
        // tmp absent or unverifiable — roll back to the original
        if (!fs.rename(old, p))
          throw new java.io.IOException(s"repair: cannot restore $dir")
        if (fs.exists(tmp)) fs.delete(tmp, true)
      }
    }
    // p exists (swap finished, or crashed before the first rename, or the
    // branch above restored it): scrap whatever leftovers remain
    if (fs.exists(p)) {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(manifest)) fs.delete(manifest, false)
    }
  }

  /**
   * Compact an incremental index: every batch appends its own small
   * parquet files, and after thousands of batches the file count — not the
   * byte count — dominates index-read planning time. Rewrites each index
   * table to `targetFilesPerTable` files via a temp directory + a
   * manifest-guarded two-rename swap: the manifest (the compacted copy's
   * expected parquet-file count) is written BEFORE the swap, so a crash in
   * the non-atomic rename window (object-store rename = copy+delete) is
   * detected and repaired on the next load or compact instead of the index
   * silently reading as empty — see [[repairDir]]. Run compaction when no
   * ingest batch is in flight, like any parquet maintenance job. Content
   * is untouched — row counts and dedup results are identical before and
   * after (spec-pinned). Handles the fingerprint layout (the path itself),
   * the minhash layout (sigs/bands), and IVF/IVF-SQ8 cells tables (cid
   * partitioning preserved, targetFilesPerTable interpreted per index).
   */
  /** The manifest-guarded two-rename rewrite shared by every parquet
   * maintenance job (index compaction here, z-order re-clustering in
   * [[Layout]]): `writeTmp` produces the replacement copy at the tmp
   * path WHILE the live dir is still readable; the manifest (expected
   * parquet-file count) is written before the swap so a crash in the
   * rename window is detected and rolled forward by [[repairDir]]. A
   * missing dir is a no-op. */
  private[graft] def guardedRewrite(spark: SparkSession, dir: String)(
      writeTmp: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    repairDir(spark, dir) // heal any earlier crash before touching the dir
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    val manifest = new org.apache.hadoop.fs.Path(dir + "__compact_manifest")
    writeTmp(tmp.toString)
    val out = fs.create(manifest, true)
    try out.write(parquetFileCount(fs, tmp).toString.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(p, old)) throw new java.io.IOException(s"cannot move $dir aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // restore on failure
      throw new java.io.IOException(s"cannot move compacted $dir into place")
    }
    fs.delete(old, true)
    fs.delete(manifest, false)
  }

  def compact(
      spark: SparkSession, indexPath: String, targetFilesPerTable: Int = 8): Unit = {
    require(targetFilesPerTable > 0, "targetFilesPerTable must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    def compactDir(dir: String, partitionCols: Seq[String]): Unit =
      guardedRewrite(spark, dir) { tmpDir =>
        val df = spark.read.parquet(dir)
        val writer = partitionCols match {
          case Seq() => df.repartition(targetFilesPerTable).write
          case cols =>
            // hash each partition key to one task → exactly one file per
            // key, partition layout preserved for pruning
            df.repartition(targetFilesPerTable, cols.map(col): _*)
              .write.partitionBy(cols: _*)
        }
        writer.mode("overwrite").parquet(tmpDir)
      }
    // a bare fingerprint index is the path itself; the minhash index is the
    // sigs/bands pair underneath; an ANN index carries a cid-partitioned
    // cells table (centroids/sq are single driver-written files — no churn)
    val flatSub = Seq(s"$indexPath/sigs", s"$indexPath/bands")
    val cells = s"$indexPath/cells"
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(conf)
    def exists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))
    val hasFlat = flatSub.exists(exists)
    val hasCells = exists(cells)
    if (hasFlat) flatSub.foreach(compactDir(_, Nil))
    if (hasCells) compactDir(cells, Seq("cid"))
    if (!hasFlat && !hasCells) compactDir(indexPath, Nil)
  }
}
