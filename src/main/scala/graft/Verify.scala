package graft
import java.nio.file.{Files, Paths}
import graft.util.Sessions
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, fullOutDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.start(s"local[$cpus]")
    // SPARK_GRAFT_ONLY=prefix1,prefix2 → targeted runs while iterating
    // (driver never sets it, so its runs always cover the full registry).
    // Partial dumps go to a SIBLING dir so stale parquet from an earlier
    // full run can never mix with a filtered oracle_sql.json — a tool that
    // globs outDir sees either a complete run or an explicitly-named subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
    val outDir = if (only.isEmpty) fullOutDir else {
      val d = s"$fullOutDir-only"
      System.err.println(s"[verify] SPARK_GRAFT_ONLY set -> PARTIAL dump to $d")
      d
    }
    new java.io.File(outDir).mkdirs()
    // the registry-count gate: round_gate.sh asserts this number equals
    // the dumped-dir count, so SURVEY/README totals can't silently drift
    System.err.println(s"[verify] registry ${SparkEntry.queries.size} queries")
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.Bench.releaseAll(spark)
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
