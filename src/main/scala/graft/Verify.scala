package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset — local use]
    val sfDir = args(0)
    val outDir = args(1)
    val subset = args.lift(2)
    val selected = SparkEntry.select(subset)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
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
    // audit trail so a partial run can't masquerade as a full one: a
    // committed CORRECTNESS snapshot with written < registered (or
    // subset=true, or failed/unoracled non-empty) is visibly incomplete.
    // "unoracled" closes the silent-gate gap: the driver iterates oracle
    // keys only, so a defs entry with no oracleSql twin would otherwise
    // never be checked by anything.
    val unoracled =
      (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toList.sorted
    val meta =
      s"""{"registered": ${SparkEntry.queries.size},
         | "written": ${selected.size - failed.size},
         | "subset": ${subset.isDefined},
         | "failed": ${failed.sorted.map(q).mkString("[", ",", "]")},
         | "unoracled": ${unoracled.map(q).mkString("[", ",", "]")}}"""
        .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    println(s"[verify] registered=${SparkEntry.queries.size} " +
      s"written=${selected.size - failed.size} subset=${subset.isDefined} " +
      s"failed=${failed.mkString(",")} unoracled=${unoracled.mkString(",")}")
    spark.stop()
  }
}
