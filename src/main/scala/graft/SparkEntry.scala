package graft

import graft.driver.{DriverQuery, Sql}
import graft.driver.Fixtures.{lineitem, lineitemSuite}
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §5/§7. Each query is one
 * [[graft.driver.DriverQuery]] in its family's file under `graft/driver/`;
 * both maps here are derived from that registry. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RuleRunner
      .addDataQuality(lineitem(spark, "/root/testdata/sf0.001"), lineitemSuite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.*")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    DriverQuery.registry.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL per query (same parquet tables); rows-only queries
   * have none. */
  lazy val oracleSql: Map[String, String] =
    DriverQuery.registry.collect { case DriverQuery(n, _, Sql(text)) => n -> text }.toMap
}
