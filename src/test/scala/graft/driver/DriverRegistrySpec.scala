package graft.driver

import graft.{PlanDump, Soak, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-query registry's metadata: names, oracle kinds and the names
 * other mains refer to. Builds no frame and runs no Spark action. */
class DriverRegistrySpec extends AnyFunSuite {

  private val registry = DriverQuery.registry
  private val names = registry.map(_.name)

  test("query names are unique across all families") {
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty)
    assert(names.forall(_.startsWith("q_")))
  }

  test("queries holds every record and oracleSql exactly the Sql ones") {
    assert(SparkEntry.queries.keySet == names.toSet)
    val sql = registry.collect { case DriverQuery(n, _, Sql(text)) => n -> text }.toMap
    assert(SparkEntry.oracleSql == sql)
    assert(sql.values.forall(_.trim.nonEmpty))
  }

  test("the rows-only queries are exactly the 19 whose operator SQL cannot replay") {
    val rowsOnly = registry.collect { case DriverQuery(n, _, _: RowsOnly) => n }.toSet
    assert(rowsOnly == Set("q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_build", "q_ann_ivfsq",
      "q_ann_lsh", "q_ann_multiprobe", "q_audio_phash", "q_bitext_align", "q_bpe_gpt2",
      "q_bpe_tokens", "q_cdc_dedup", "q_classifier", "q_compression_ratio",
      "q_diversity_sample", "q_hll_domains", "q_image_phash", "q_kcore", "q_semdedup_bow",
      "q_unigram_tokens"))
  }

  test("each rows-only query names a spec class that loads") {
    registry.collect { case DriverQuery(n, _, RowsOnly(why, spec)) => (n, why, spec) }
      .foreach { case (n, why, spec) =>
        assert(why.nonEmpty, n)
        assert(spec.endsWith("Spec"), n)
        Class.forName(spec)
      }
  }

  test("Soak.HeavyQueries and PlanDump.ops name registered queries") {
    assert(Soak.HeavyQueries.filterNot(names.toSet).isEmpty)
    assert(PlanDump.ops.keySet.filterNot(names.toSet).isEmpty)
    assert(PlanDump.stages.keySet.intersect(names.toSet).isEmpty)
  }
}
