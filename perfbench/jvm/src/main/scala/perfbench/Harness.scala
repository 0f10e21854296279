package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.functions.Md5Longs
import graft.operators.TextOps
import graft.sources.WordCountOutput

/** Timing harness for one benchmark workload.
  *
  * {{{
  * java -cp <classpath> perfbench.Harness data=<dir> out=<dir> \
  *   rows=<row,row,...> passes=<n> trace=<0|1> cpus=<n> tables=<t,t,...>
  * }}}
  *
  * Every job is called through its public entry point
  * `SparkEntry.queries(row)(session, dir)` in a fresh `newSession()` of
  * one warm SparkContext, and its result is written to a parquet sink
  * under `out/sink/<row>`. The row `wordcount_output` is the
  * reference's Output step: `wordcount` written by
  * `WordCountOutput.write` with 9 reducers.
  *
  * The harness measures set-up, one untimed warm-up pass, then `passes`
  * timed passes over the rows. With `trace=1` each timed pass is paired
  * with one that has a [[Tracer]] attached, followed by the
  * standalone per-layer probes (warm rebuilds, table loads and scans,
  * native-function projections). Everything lands in `out/result.json`.
  */
object Harness {
  private val OutputRow = "wordcount_output"
  private val OutputReducers = 9
  /** Standalone projections of the graft native expressions the
    * workloads' executed plans contain, keyed by expression class (as the
    * [[Tracer]] reports it): (metric name, input table, projection over
    * that table's probe frame of `text` and `e` = the embedding as doubles).
    */
  private val FunctionProbes: Map[String, (String, String, Column)] = Map(
    "WordShingles" -> ("word_shingles", "documents", expr("word_shingles(text)")),
    "Md5Longs" -> ("md5_longs", "documents", Md5Longs.md5_longs(col("text"))),
    "DotProduct" -> ("dot_product", "embeddings", expr("dot_product(e, e)")))
  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def procIoWriteBytes(): Long = procField("/proc/self/io", "write_bytes:")
  private def procField(path: String, key: String): Long =
    try scala.io.Source.fromFile(path).getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = opt("data")
    val outDir = opt("out")
    val rows = opt("rows").split(",").toSeq
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val tables = opt("tables").split(",").toSeq
    val sinkRoot = s"$outDir/sink"

    // ---- set-up: context + session, extensions, one warm-up pass ----
    val tSession = nowMs
    val conf = new SparkConf()
      .setMaster(s"local[$cpus]")
      .setAppName("perfbench")
      .set("spark.sql.shuffle.partitions", "8")
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.sql.ansi.enabled", "true")
      .set("spark.ui.enabled", "false")
      .set("spark.local.dir", s"$outDir/spark-local")
    val root = SparkSession.builder().config(conf).getOrCreate()
    root.sparkContext.setLogLevel("WARN")
    val tRegister = nowMs
    GraftExtensions.register(root)
    val tWarm = nowMs

    def runJob(row: String, tracer: Option[Tracer], warmRebuild: Boolean): Map[String, Any] = {
      def build(s: SparkSession): DataFrame =
        SparkEntry.queries(if (row == OutputRow) "wordcount" else row)(s, dataDir)
      val start = nowMs
      val s = root.newSession()
      GraftExtensions.register(s)
      tracer.foreach(_.attach(s, row))
      val sink = s"$sinkRoot/$row"
      val buildStart = nowMs
      var buildEnd = Double.NaN
      var warmBuildS: Option[Double] = None
      var error: String = null
      var phases: Map[String, Map[String, Double]] = Map.empty
      try {
        val df = build(s)
        buildEnd = nowMs
        if (row == OutputRow) WordCountOutput.write(df, OutputReducers, sink)
        else df.write.mode("overwrite").parquet(sink)
        phases = df.queryExecution.tracker.phases.map { case (k, v) =>
          k -> Map("start_ms" -> v.startTimeMs.toDouble, "end_ms" -> v.endTimeMs.toDouble) }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(400)}"
          System.err.println(s"[perfbench] $row failed: $error")
      }
      val end = nowMs
      // a second build in the same session: what the memo caches save
      if (warmRebuild && error == null && !row.startsWith("st_")) {
        val w0 = nowMs
        try { build(s); warmBuildS = Some((nowMs - w0) / 1e3) }
        catch { case _: Throwable => () }
      }
      Tables.invalidateSession(s)
      Map("row" -> row, "start_ms" -> start, "build_start_ms" -> buildStart,
        "build_end_ms" -> (if (buildEnd.isNaN) end else buildEnd), "end_ms" -> end,
        "error" -> Option(error), "final_phases" -> phases,
        "warm_build_s" -> warmBuildS)
    }

    def runPass(tracer: Option[Tracer], warmRebuild: Boolean = false): Map[String, Any] = {
      val cpu0 = osBean.getProcessCpuTime
      val io0 = procIoWriteBytes()
      val start = nowMs
      val jobs = rows.map(r => runJob(r, tracer, warmRebuild))
      val end = nowMs
      Map("start_ms" -> start, "end_ms" -> end, "wall_s" -> (end - start) / 1e3,
        "cpu_s" -> (osBean.getProcessCpuTime - cpu0) / 1e9,
        "write_bytes" -> (procIoWriteBytes() - io0), "jobs" -> jobs)
    }

    val warmup = runPass(None)
    val tReady = nowMs

    val result = mutable.LinkedHashMap[String, Any](
      "setup" -> Map("session_s" -> (tRegister - tSession) / 1e3,
        "register_s" -> (tWarm - tRegister) / 1e3,
        "warmup_s" -> (tReady - tWarm) / 1e3,
        "ready_ms" -> tReady),
      "warmup" -> warmup)

    if (!trace) result("passes") = (1 to passes).map(_ => runPass(None))
    else {
      val tracer = new Tracer
      val sc = root.sparkContext
      def tracedPass(warmRebuild: Boolean) = {
        sc.addSparkListener(tracer)
        val p = runPass(Some(tracer), warmRebuild)
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(tracer)
        p
      }
      // untraced and traced passes alternate in ABBA order, so that the
      // overhead figure does not credit tracing with the JIT warming up
      val pairs = (1 to passes).map { i =>
        if (i % 2 == 1) { val u = runPass(None); (u, tracedPass(warmRebuild = false)) }
        else { val t = tracedPass(warmRebuild = false); (runPass(None), t) }
      }
      // then the probes: warm rebuilds, tables, functions
      result("passes") = pairs.map(_._1)
      result("traced_passes") = pairs.map(_._2)
      result("rebuild_pass") = tracedPass(warmRebuild = true)
      val snapshot = tracer.snapshot()
      result("trace") = snapshot
      result("sources") = probeSources(root, dataDir, tables)
      result("functions") = probeFunctions(root, dataDir,
        snapshot("graft_exprs").asInstanceOf[Map[String, Int]].keySet)
    }
    result("vm_hwm_kb") = procField("/proc/self/status", "VmHWM:")
    Files.write(Paths.get(s"$outDir/result.json"), Mapper.writeValueAsBytes(result))
    // each row's DuckDB oracle, for the output check
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), Mapper.writeValueAsBytes(
      (rows :+ "wordcount").flatMap(r => oracle.get(r).map(r -> _)).toMap))
    root.stop()
  }

  /** Driver time to resolve each input table through `Tables.load`, and
    * the time of a noop scan that materializes every column.
    */
  private def probeSources(root: SparkSession, dir: String, tables: Seq[String]): Map[String, Any] =
    tables.map { t =>
      val s = root.newSession()
      val l0 = nowMs
      val df = Tables.load(s, dir, t)
      val l1 = nowMs
      df.write.format("noop").mode("overwrite").save()
      val l2 = nowMs
      Tables.invalidateSession(s)
      t -> Map("load_s" -> (l1 - l0) / 1e3, "scan_s" -> (l2 - l1) / 1e3)
    }.toMap

  /** Each probed expression that the traced passes' executed plans
    * contain, as a standalone projection over the workload's input column:
    * nanoseconds per input row, the fastest of three runs. Expressions
    * the plans do not contain are not timed.
    */
  private def probeFunctions(root: SparkSession, dir: String,
      inPlans: Set[String]): Map[String, Any] = {
    val s = root.newSession()
    GraftExtensions.register(s)
    val frames = Map(
      "documents" -> (() => s.read.parquet(s"$dir/documents.parquet").select("text")),
      "embeddings" -> (() => s.read.parquet(s"$dir/embeddings.parquet")
        .select(TextOps.toDouble(col("embedding")).as("e"))))
    val cachedFrames = mutable.Map.empty[String, (DataFrame, Long)]
    val out = FunctionProbes.toSeq.filter { case (cls, _) => inPlans(cls) }.map {
      case (_, (name, table, projection)) =>
        val (df, n) = cachedFrames.getOrElseUpdate(table, {
          val d = frames(table)().cache()
          (d, d.count())
        })
        val q = df.select(projection.as("v"))
        q.write.format("noop").mode("overwrite").save() // compile once
        val best = (1 to 3).map { _ =>
          val a = nowMs
          q.write.format("noop").mode("overwrite").save()
          nowMs - a
        }.min
        name -> best * 1e6 / math.max(1L, n)
    }.toMap
    cachedFrames.values.foreach(_._1.unpersist())
    out
  }
}
