package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (builder-only): comma-separated name filters —
    // run/dump only queries whose name contains one; the driver passes
    // two args and gets the full surface
    val only = if (args.length > 2) args(2).split(",").toSeq else Nil
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // one selection feeds both the parquet dump and oracle_sql.json
    val selected = SparkEntry.ops.filter(op => only.isEmpty || only.exists(op.name.contains))
    selected.foreach { op =>
      try op.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${op.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${op.name} failed: ${e.getMessage}")
      }
    }
    val json = selected.map(op => s"${jsonString(op.name)}: ${jsonString(op.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes quote, backslash and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load of oracle_sql.json fail and silently zero the
    * round's correctness. Bench's artifact uses it too. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
