package graft

import java.nio.file.{Files, Paths}

/** Differential-test runner: executes generated reference-grammar SQL
  * (tools/gen_fuzz_sql.py) through [[Engine.sql]] and dumps each result for
  * the DuckDB comparison (tools/check_fuzz.py). Exercises the SQL surface
  * generically — Catalyst parsing, analysis, and execution — beyond the
  * fixed SparkEntry queries.
  *
  * Usage: runMain graft.FuzzRunner <sfDir> <queriesJson> <outDir>
  */
object FuzzRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, queriesJson, outDir) = args
    val spark = GraftSession.diagnostic()
    val engine = Engine(spark, sfDir)
    new java.io.File(outDir).mkdirs()

    // minimal JSON object parser for {"name": "sql", ...} (flat, string->string)
    val text = new String(Files.readAllBytes(Paths.get(queriesJson)), "UTF-8")
    val entry = """"(fuzz_\d+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    def unescape(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '"' => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case '/' => sb += '/'; i += 2
            case 'n' => sb += '\n'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'u' if i + 5 < s.length =>
              sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
            case c => sb += c; i += 2
          }
        } else { sb += s.charAt(i); i += 1 }
      }
      sb.toString
    }
    val queries = entry.findAllMatchIn(text).map { m =>
      m.group(1) -> unescape(m.group(2))
    }.toSeq

    var failed = 0
    queries.foreach { case (name, sql) =>
      try engine.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[fuzz] $name FAILED: ${e.getMessage.take(200)}\n  $sql")
      }
    }
    println(s"[fuzz] ran ${queries.size} queries, $failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
