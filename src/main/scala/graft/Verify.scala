package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: regex over query names (dev loop — run a
    // subset; the driver always passes exactly two args = run all)
    val nameFilter = args.drop(2).headOption.map(_.r)
    def selected(name: String) = nameFilter.forall(_.pattern.matcher(name).matches())
    // one shuffle partition per core (Bench runs 8): the configuration
    // every recorded oracle pass ran under
    val spark = Session("graft-verify",
      conf = Map("spark.sql.shuffle.partitions" -> Session.cpus.toString))
    new java.io.File(outDir).mkdirs()
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
    // one JSON line per row: its outcome, time and the generated classes
    // compiled while it ran (JVM-wide counters, and rows run one at a
    // time); check.py skips this file, which names no oracle row
    val rowLog = Files.newBufferedWriter(Paths.get(s"$outDir/_verify_rows.jsonl"))
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // row-stamped progress on stderr, so every log line between a
      // row's start and ok lines can be placed in that row
      System.err.println(s"[verify] $name start")
      val t0 = System.nanoTime()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val error = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      val seconds = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      error match {
        case None => System.err.println(f"[verify] $name ok $seconds%.1fs compiles=$compiles")
        case Some(m) => System.err.println(s"[verify] $name failed: $m")
      }
      rowLog.write(s"""{"row": ${q(name)}, "ok": ${error.isEmpty}, """ +
        f""""seconds": $seconds%.3f, "compiles": $compiles, "compile_ms": $compileMs%.1f, """ +
        s""""error": ${error.fold("null")(q)}}""")
      rowLog.newLine()
      rowLog.flush()
    }
    rowLog.close()
    // only the selected rows' oracles: a selected row with no dump is
    // then a failure check.py reports, not a silently smaller count
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
