package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Access to the package-private parts of the registry entries that the
  * benchmark counts: t7's candidate pairs before its top-20 cut. */
object PerfbenchQueries {
  def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    DedupOps.requireOracleCap(s)
    DedupOps.minhashPairsOf(graft.Tables(s, dir, "documents"))
  }
}
