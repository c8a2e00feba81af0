package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: graft.Verify <sfDir> <outDir> [q_a,q_b,...]"

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle entries for) just that subset. Builder-side iteration
    // aid; the driver always calls with two args = full dump.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, n) => (a, b, Some(n.split(",").toSet))
      case _              => throw new IllegalArgumentException(Usage)
    }
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    val sel: String => Boolean = only match {
      case Some(names) => names.contains _
      case None        => _ => true
    }
    SparkEntry.queries.filter(kv => sel(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // session hygiene: operators unpersist their own intermediates,
      // but all queries share this one session — clear anything left
      // (same discipline Bench applies between timed queries)
      spark.catalog.clearCache()
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
    val json = SparkEntry.oracleSql.filter(kv => sel(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
