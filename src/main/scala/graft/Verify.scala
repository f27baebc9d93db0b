package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(s"local[$cpus]", "graft-verify", Some(cpus.toInt))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY narrows the dump for local iteration (same helper
    // as Bench); the full oracle_sql.json is always written, so
    // check_oracle.py still compares every query — filtered runs rely on
    // the other dumps being current in outDir.
    val qs = SparkEntry.queries
    Bench.only(qs.keys.toSeq, "SparkEntry.queries").foreach { name =>
      // drop the previous run's dump first: a query that now throws
      // before .write must show up as a missing result in the oracle
      // check, not pass on stale parquet
      FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      val t0 = System.nanoTime()
      try {
        qs(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name%-26s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
