package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each gate's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev iteration aid;
    // the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.gates.sortBy(_.name)
      .filter(g => only.forall(_.contains(g.name)))
      .foreach { g =>
      System.err.println(s"[verify] running ${g.name}")
      try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
      // bound the tracked persisted intermediates to one query's
      // lifetime (the CacheManager otherwise grows per invocation)
      CachePool.releaseAll(); ()
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
    val json = SparkEntry.gates
      .map(g => s"${q(g.name)}: ${q(g.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Backstop against leaked non-daemon threads blocking JVM exit.
    sys.exit(0)
  }
}
