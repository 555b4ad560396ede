package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate registry result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // dev knob (the driver sets none): SPARK_GRAFT_ONLY restricts to a
    // comma-separated query subset for fast local gate iteration with
    // tools/compare.py
    val selected = SparkEntry.selected
    // An errored query leaves no parquet dir, so it must leave a
    // machine-readable record instead: round 7's CORRECTNESS artifact
    // silently shrank from 80 to 33 rows because failures went only to
    // stderr. errors.json (query -> message) is written even when empty,
    // so its absence/presence is itself meaningful to the driver.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        failed(g.name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(500)
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
    // in the oracleSql map's order, so the file is stable byte for byte
    val names = selected.map(_.name).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // exit 0 even with failures: the driver must still collect the dumps
    // that DID succeed; errors.json is the red signal it consumes.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries failed — see errors.json")
  }
}
