package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every graft main starts from. It sets the
  * app name, the UTC session time zone (every timestamp the engine writes
  * or compares is UTC), and a 10 000-entry codegen cache: the default 100
  * entries thrash under a standing pipeline's per-batch plans (4 curation
  * batches ran 815 Janino compiles at the default) and under the query
  * suite (w7 alone re-compiled 1024 fragments per run). The cache size is
  * a static conf, so it must be set before the first session exists.
  * Callers add only their own harness settings (master, shuffle width,
  * UI, parquet read flags). */
object GraftSession {

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")

  /** The master for agent and operator-tool launches: spark-submit
    * supplies `spark.master`; a standalone launch reads `GRAFT_MASTER`,
    * else runs `local[*]`. */
  def defaultMaster: String =
    sys.props.getOrElse("spark.master", sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
}
