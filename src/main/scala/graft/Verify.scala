package graft
import graft.sources.Warc.jsonStr
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Materialize the synthetic north-rule table + kernel-computed side
    // tables to parquet (content-keyed /tmp root) and pin that root for
    // the oracle SQL dumped below — this is what lets DuckDB replay the
    // extraction-surface queries instead of leaving them rows-only.
    sys.props("graft.verify.tables.root") = VerifyTables.root(sfDir)
    VerifyTables.refresh(spark, sfDir)
    // Local-iteration escape hatch (driver never sets it): dump only the
    // queries whose name matches the regex, so a single new operator can
    // be DuckDB-checked without re-running the whole suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // jsonStr escapes ALL control chars: a tab or CR in an oracle query's
    // SQL would otherwise make the file invalid JSON for its readers
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
