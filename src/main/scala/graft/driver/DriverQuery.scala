package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a driver query's result is checked. */
sealed trait Oracle

/** DuckDB SQL over the same parquet tables; its result must hash-match
 * the query's. */
final case class Sql(text: String) extends Oracle

/** No oracle: `why` says what keeps the operator out of SQL, and `spec`
 * names the spec class that pins it. */
final case class RowsOnly(why: String, spec: String) extends Oracle

/** One driver query: its builder over (session, sf dir) and its oracle. */
final case class DriverQuery(
    name: String, build: (SparkSession, String) => DataFrame, oracle: Oracle)

object DriverQuery {

  /** Every driver query, family by family. */
  lazy val registry: Seq[DriverQuery] = Seq(
    DqQueries.all, DedupQueries.all, AnnQueries.all, RetrievalQueries.all,
    GraphQueries.all, LmQueries.all, TextQueries.all, MediaQueries.all,
    PipelineQueries.all, OperatorQueries.all).flatten
}
