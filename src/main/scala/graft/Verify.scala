package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-time filter: extra args = only dump these queries
    // (the driver always passes exactly two args → full dump).
    val only = args.drop(2).toSet
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // O11 console sink: the reference job's only output is show() to stdout
    // (reference: userdata/cloudinit.sh:351); exercise the same path on the
    // flagship query before the parquet dumps.
    if (only.isEmpty) SparkEntry.entry(spark).show(truncate = false)
    SparkEntry.queries.keys.filter(name => only.isEmpty || only(name)).foreach { name =>
      Run(spark, name, sfDir, Run.parquet(s"$outDir/$name")).error.foreach(e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"))
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
