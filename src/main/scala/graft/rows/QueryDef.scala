package graft
package rows

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the driver contract, declared once: its name, the DuckDB
  * SQL that is its oracle (same tables, same column names, same row
  * order) and the closure that builds its result from a session and a
  * fixture directory. The oracle string is built when first read, so
  * running a row never builds the others' SQL. */
final class QueryDef private (val name: String, oracle: () => String,
    val build: (SparkSession, String) => DataFrame) {
  lazy val oracleSql: String = oracle()
}

object QueryDef {

  def apply(name: String, oracleSql: => String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, () => oracleSql, build)

  /** `defs` keyed by name. A repeated name is refused: a map literal would
    * keep only the last of two equal keys and drop the other row. */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty, s"query rows declared twice: ${repeated.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** Every row of the driver contract as declared, one file per family. */
  def declared: Seq[QueryDef] =
    EventStoreRows.rows ++ AnalyticsRows.rows ++ TrainingRows.rows ++
      CurationRows.rows ++ KnnRows.rows

  /** The registry: [[declared]] by name. */
  lazy val all: Map[String, QueryDef] = byName(declared)
}
