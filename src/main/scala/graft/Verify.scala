package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus, "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (mirrors Bench's ONLY): dump only queries
    // whose name starts with the prefix. Never set by the driver.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
    // Round-9 defect (ADVICE): failing queries were only logged to stderr,
    // so they vanished from CORRECTNESS entirely and a 3-query regression
    // read as 114/114 green. Now a failure (a) still writes a result dir —
    // a 1-row frame whose single `__verify_error` column can never match
    // any oracle, so the driver's compare surfaces it as a hard mismatch
    // instead of an absence — and (b) lands in outDir/errors.json.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(name.startsWith) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        failed(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(s"VERIFY ERROR: ${msg.take(500)}").toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: $e2")
        }
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
      .filter { case (k, _) => only.forall(k.startsWith) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record beside the dumps (empty obj = clean
    // sweep) so the round report can distinguish "absent query" from
    // "query errored" without parsing stderr.
    val errJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    graft.queries.Det.releasePins(spark) // pins live only for the dump sweep
    spark.stop()
    // Exit 0 even on failures: the error-marker dirs make them hard
    // mismatches in the driver's compare, whereas a non-zero rc might
    // make the driver skip the compare and re-hide them. The summary
    // line is for humans tailing the log.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
  }
}
