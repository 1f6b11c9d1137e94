package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._

/** Driver queries of the ann/similarity family: vector search, its indexes
 * and the embedding-space curation operators. */
object AnnQueries {
  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_dedup_embedding", (s, dir) => {
      val e = embeddings(s, dir)
      val corpus = e.unionAll(
        e.where(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 10000))
      graft.pipeline.Similarity.embeddingNearDups(corpus, "vec_id", "embedding", 0.999)
        .select(col("id_a"), col("id_b"))
    },
      Sql("""SELECT vec_id AS id_a, vec_id + 10000 AS id_b
        |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin)),
    DriverQuery("q_semantic_dedup", (s, dir) => {
      // SemDeDup with fixed one-hot centroids (engine-replicable assignment:
      // argmax of the first four raw components); planted exact copies are
      // the near pairs, the keep-lowest rule drops them
      val e = embeddings(s, dir).where(col("vec_id") % 10 === 0)
      val corpus = e.unionAll(
        e.where(col("vec_id") % 20 === 0).withColumn("vec_id", col("vec_id") + 10000))
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.semanticDedupWithCentroids(
          corpus, "vec_id", "embedding", cents, 0.999)
        .withColumnRenamed("id", "vec_id")
    },
      Sql(s"""WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 20 = 0
        |), a AS (
        |  SELECT vec_id, embedding,
        |$AxisCentroidSql
        |  FROM base
        |), drops AS (
        |  SELECT DISTINCT r.vec_id
        |  FROM a l JOIN a r ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |                               CAST(r.embedding AS DOUBLE[])) >= 0.999
        |)
        |SELECT vec_id, cid FROM a ANTI JOIN drops USING (vec_id)""".stripMargin)),
    DriverQuery("q_semdedup_bow", (s, dir) => {
      // model-free semantic dedup: hashed-BoW pseudo-embeddings feed the
      // SemDeDup path on a corpus with NO neural embeddings (rows-only:
      // the word hash is not SQL-expressible; contract spec-covered, and
      // the planted truncated near-dups must collapse). The vector frame
      // persists because k-means iterations + assignment + the pair join
      // would otherwise each recompute the hash projection; nlist sized so
      // mean cells stay small (sum of cell^2 is the pair-join cost)
      val vecs = nearDupCorpus(s, dir).select(col("doc_id"),
        graft.pipeline.Text.hashedBow(col("text"), 128).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = graft.pipeline.Similarity.semanticDedup(
          vecs, "doc_id", "embedding", threshold = 0.95, nlist = 32, iters = 2)
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint() // materialize-then-release
      vecs.unpersist(blocking = false)
      out
    },
      RowsOnly("the hashed bag-of-words word hash is not SQL-expressible",
        "graft.pipeline.SemanticDedupSpec")),
    DriverQuery("q_embedding_outliers", (s, dir) => {
      // corrupt/out-of-distribution embedding hygiene: cosine to the
      // assigned one-hot centroid below threshold → outlier (oracle
      // replicates the argmax and the double cosine in plain SQL)
      val e = embeddings(s, dir)
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.embeddingOutliers(e, "vec_id", "embedding", cents, 0.18)
        .withColumnRenamed("id", "vec_id")
    },
      Sql(s"""WITH a AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
        |$AxisCentroidSql
        |  FROM embeddings)
        |SELECT vec_id, cid,
        |       (ed[cid + 1] / sqrt(list_sum(list_transform(ed, x -> x * x)))) < 0.18 AS is_outlier
        |FROM a""".stripMargin)),
    DriverQuery("q_ann_eval", (s, dir) => {
      // price the SQ8 quantization: its top-3 lists vs brute-force truth,
      // recall in exact ppm; BOTH sides replay in the oracle
      val e = embeddings(s, dir)
      val p = graft.pipeline.Sq.train(e, col("embedding"))
      val enc = graft.pipeline.Sq.encodeDf(e, col("vec_id"), col("embedding"), p)
      val pred = graft.pipeline.Sq.search(
        enc, p, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
      val truth = graft.pipeline.Similarity.bruteForceTopK(
        e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
      graft.pipeline.Similarity.evalTopK(pred, truth)
    },
      Sql(AnnEvalSql)),
    DriverQuery("q_ann_bruteforce", (s, dir) => {
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.bruteForceTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    },
      Sql(BruteTopKSql)),
    DriverQuery("q_hard_negatives", (s, dir) => {
      // contrastive hard negatives: closest wrong-label neighbors, exact;
      // oracle = brute-force cosine with the label anti-filter
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.mineHardNegatives(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", "label", 3)
        .select(col("query_id"), col("neighbor_id"))
    },
      Sql("""SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q, embeddings n
        |WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id AND q.label <> n.label
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) <= 3""".stripMargin)),
    DriverQuery("q_diversity_sample", (s, dir) =>
      // rows-only (iterative argmax is not SQL-expressible; KCenterSpec
      // pins exact scalar-reference parity): 12 farthest-point centers
      // over the embeddings — the annotation-budget selection
      graft.pipeline.Similarity.kCenterGreedy(
        embeddings(s, dir), "vec_id", "embedding", 12),
      RowsOnly("the iterative farthest-point argmax is not SQL-expressible",
        "graft.pipeline.KCenterSpec")),
    DriverQuery("q_ann_matryoshka", (s, dir) => {
      // truncated-dimension search: first 16 of the embedding dims,
      // re-normalized (ordering-invariant), exact top-3 — the oracle
      // ranks by cosine over the same 16-dim slices
      val e = embeddings(s, dir)
      val te = e.select(col("vec_id"),
        graft.pipeline.Similarity.truncateNormalize(col("embedding"), 16)
          .as("embedding"))
      graft.pipeline.Similarity.bruteForceTopK(
          te, te.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    },
      Sql("""SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q, embeddings n
        |WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding[1:16], n.embedding[1:16]) DESC,
        |           n.vec_id) <= 3""".stripMargin)),
    DriverQuery("q_ann_lsh", (s, dir) => {
      // rows-only: recall vs brute force asserted in PipelineSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.lshTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      RowsOnly("LSH recall against brute force is a spec property, not an exact result",
        "graft.pipeline.PipelineSpec")),
    DriverQuery("q_ann_multiprobe", (s, dir) => {
      // rows-only: multi-probe query-side expansion at HALF the tables of
      // q_ann_lsh (the economics of the trade — corpus cost down, recall
      // held up by probing); recall ordering spec'd in MultiprobeSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.lshTopKMultiprobe(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3,
          tables = 4, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      RowsOnly("multi-probe recall ordering is a spec property, not an exact result",
        "graft.pipeline.MultiprobeSpec")),
    DriverQuery("q_ann_sq", (s, dir) => {
      // SQ8 top-k: train per-dim ranges on the corpus, search the encoded
      // (1 byte/dim) corpus with dequantized cosine; the oracle replicates
      // quantize → dequantize → cosine → top-3 in SQL
      val e = embeddings(s, dir)
      val p = graft.pipeline.Sq.train(e, col("embedding"))
      val enc = graft.pipeline.Sq.encodeDf(e, col("vec_id"), col("embedding"), p)
      graft.pipeline.Sq.search(
          enc, p, e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
    },
      Sql(SqTopKSql)),
    DriverQuery("q_ann_ivf", (s, dir) => {
      // rows-only: IVF recall vs brute force asserted in PipelineSpec
      val e = embeddings(s, dir)
      graft.pipeline.Similarity.ivfTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", 3,
          nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      RowsOnly("IVF recall against brute force is a spec property, not an exact result",
        "graft.pipeline.PipelineSpec")),
    DriverQuery("q_ann_ivfpq_build", (s, dir) => {
      // rows-only: the once-per-corpus index-build cost, measured on its own
      // (q_ann_ivfpq times search alone).
      // A fresh build every call, so the bench times train + encode + write.
      val e = embeddings(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q_ivfpq_b").toString
      graft.pipeline.Pq.ivfPqBuild(e, "vec_id", "embedding", path,
        nlist = 16, mSub = 8, ksub = 16)
      s.read.parquet(s"$path/cells").groupBy(col("cid")).count()
        .orderBy(col("cid"))
    },
      RowsOnly("the PQ codebooks are k-means trained, which the oracle does not replay",
        "graft.pipeline.PqSpec")),
    DriverQuery("q_ann_ivfpq", (s, dir) => {
      // rows-only: steady-state IVF-PQ SEARCH against a prebuilt persisted
      // index (built once per process per sf dir, mirroring how a production
      // probe never retrains); ADC + exact rerank; recall vs the uncompressed
      // path and the >=4x cells size cut asserted in PqSpec
      val e = embeddings(s, dir)
      val path = ivfPqIndexFor(s, dir)
      graft.pipeline.Pq.ivfPqSearch(s, path, e.where(col("vec_id") < 10),
          "vec_id", "embedding", 3, nprobe = 4, rerankFactor = 4,
          rerankVectors = Some(e))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      RowsOnly("approximate search: recall against the uncompressed path is a spec property",
        "graft.pipeline.PqSpec")),
    DriverQuery("q_ann_ivfsq", (s, dir) => {
      // rows-only: steady-state IVF-SQ8 search (FAISS "IVF,SQ8" — the
      // middle quantization tier) against a prebuilt per-process index;
      // dequantizing cosine + exact rerank; recall + size cut in SqSpec
      val e = embeddings(s, dir)
      val path = ivfSqIndexFor(s, dir)
      graft.pipeline.Sq.ivfSqSearch(s, path, e.where(col("vec_id") < 10),
          "vec_id", "embedding", 3, nprobe = 4, rerankVectors = Some(e))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      RowsOnly("approximate search: recall and the size cut are spec properties",
        "graft.pipeline.SqSpec")),
    DriverQuery("q_decontaminate_semantic", (s, dir) => {
      // embedding-space decontamination: benchmark = every 7th embedding
      // re-keyed (exact copies are the planted leaks); one-hot centroids
      // keep cell assignment oracle-replicable, the oracle replays the
      // cell-bounded cosine join exactly
      val e = embeddings(s, dir)
      val bench = e.where(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)
      val cents = (0 until 4).map(i =>
        i -> Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)).toArray
      graft.pipeline.Similarity.semanticDecontaminate(
          e, bench, "vec_id", "embedding", cents, 0.999)
        .withColumnRenamed("id", "vec_id")
    },
      Sql(s"""WITH a AS (
        |  SELECT vec_id, embedding,
        |$AxisCentroidSql
        |  FROM embeddings
        |), b AS (
        |  SELECT vec_id + 10000 AS vec_id, embedding,
        |$AxisCentroidSql
        |  FROM embeddings WHERE vec_id % 7 = 0
        |), leaks AS (
        |  SELECT DISTINCT l.vec_id
        |  FROM a l JOIN b r ON l.cid = r.cid
        |  WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |                               CAST(r.embedding AS DOUBLE[])) >= 0.999
        |)
        |SELECT vec_id, cid FROM a ANTI JOIN leaks USING (vec_id)""".stripMargin)))
}
