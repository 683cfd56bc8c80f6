package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args beyond sfDir/outDir: optional query-name substrings to dump a
    // subset while iterating (the driver always runs with exactly two args)
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2)
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val spark = GraftSession
      .builder("graft-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // serve both path conventions: <name> (dir) and <name>.parquet
        val alias = Paths.get(s"$outDir/$name.parquet")
        if (!Files.exists(alias))
          Files.createSymbolicLink(alias, Paths.get(name))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // the dedup/ANN family caches signature/candidate frames per
        // query; across 100+ queries the leftovers would pile up in
        // storage memory. Hygiene.release drops SQL caches AND
        // localCheckpoint blocks, synchronously (same discipline as Bench
        // — clearing is outside any timing).
        Hygiene.release(spark)
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
