package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the optional name filter is a
    // local iteration aid only (the driver always passes exactly two).
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    attempted.foreach { case (name, fn) =>
      // a failed key leaves NO result dir, so check.py reports it MISSING:
      // neither a stale dir from an earlier run into the same out dir nor
      // a failed write's leftovers may be compared as if fresh.
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      fs.delete(dir, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        fs.delete(dir, true)
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
    // only the attempted keys' oracles: check.py counts an oracle key
    // without a result dir as a failure.
    val json = SparkEntry.oracleSql.filter { case (k, _) => attempted.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
