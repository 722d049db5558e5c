package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one query result to `outDir/<name>` as parquet. On any throw,
    * leave a loud artifact instead of nothing: a dump dir containing only
    * `_ERROR` (stale parquet from an earlier good run is cleared first).
    * check_oracle.py turns that — or a missing dir for an oracled name —
    * into a FAIL row, so a breakage can no longer vanish from the
    * correctness report by simply not producing output (the round-6
    * silent-crash postmortem). Returns true on success. */
  def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
                name: String, fn: (SparkSession, String) => DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val dir = Paths.get(outDir, name)
      Files.createDirectories(dir)
      Files.list(dir).forEach(p => if (!Files.isDirectory(p)) Files.deleteIfExists(p))
      Files.writeString(dir.resolve("_ERROR"),
        s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}\n")
      false
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // harmless no-op when events.ts is a real timestamp column; keeps
      // BIGINT-nanos testdata readable (SparkEntry.events normalizes both)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.SkewGuard.registerMetricsLogger(spark) // no-silent-cap logging
    // fail fast, with one readable diff, if the driver regenerated the
    // testdata with a changed schema (round-6 postmortem: events.ts drift)
    graft.model.TableContracts.assertContract(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // optional subset for iteration (same contract as Bench); the driver
    // leaves this unset and dumps everything
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSeq)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val failed = selected.toSeq.sortBy(_._1)
      .filterNot { case (name, fn) => dumpQuery(spark, sfDir, outDir, name, fn) }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
