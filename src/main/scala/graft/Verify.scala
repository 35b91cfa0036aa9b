package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.gate()
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q97,q98 runs just those queries
    // (comma-separated name prefixes); unset = the driver's full sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // leave a visible artifact: without it a throwing query simply
        // VANISHES from the correctness report (no parquet dir → no row)
        // instead of surfacing as a failure — round-7 lesson (q25/q74)
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
          .map(c => s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(2000)}")
          .mkString("\ncaused by: ")
        try Files.writeString(Paths.get(s"$outDir/$name._error"), chain)
        catch { case _: Throwable => () }
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
    // under a dev filter, dump only the selected oracles — otherwise the
    // compare step reports every unselected query as a spurious failure
    // (or worse, compares stale parquet from an earlier full run)
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
