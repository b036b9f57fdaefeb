package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the engine function over `(session, sf dir)` and the
  * DuckDB SQL that must return the same rows. Each family module under
  * `graft.queries` holds its queries and the oracle CTE chains only that
  * family uses; chains shared across families live in [[graft.OracleSql]]. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Query {
  /** The declarations keyed by name. A name declared twice throws rather
    * than letting the later declaration silently replace the earlier one. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
