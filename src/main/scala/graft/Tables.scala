package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's Parquet testdata (TESTDATA.md).
  *
  * At 100 TB these reads become distributed parquet scans; everything
  * downstream relies on Catalyst pushing filters/projections into the
  * scan (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  // Memoized per (session, dir, table) in a CacheRegistry cache:
  // re-reading a table otherwise re-lists the directory and re-reads
  // parquet footers on every query — pure overhead when a bench/verify
  // session touches each table dozens of times. The cached object is
  // just the resolved DataFrame handle (plan + file index), not
  // materialized data. Caveats (by design, for these short-lived
  // driver sessions): the handle serves a STALE file listing if the
  // path's files are rewritten — writers must call invalidate(dir) —
  // and entries for a stopped session linger until invalidateSession.
  private val handles = CacheRegistry.newCache()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    CacheRegistry.cached[DataFrame](handles, spark, dir, name)(
      read(spark, s"$dir/$name.parquet"))

  // JVM-wide parquet schemas. Inferring one is a Spark job that reads
  // footers, so without this every fresh session pays a job on its
  // first read of each table. The key holds what inference depends
  // on: the path, the session's parquet schema confs, and the names,
  // sizes and mtimes of the files under the path, so a rewrite is
  // seen by the next session even without invalidate.
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String], Seq[(String, Long, Long)]), StructType]()

  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case _: java.io.FileNotFoundException => None }
    files match {
      case None => spark.read.parquet(path) // raises Spark's own missing-path error
      case Some(fs) =>
        val key = (path, schemaConfs.map(k => spark.conf.getOption(k).getOrElse("")), fs)
        val known = schemas.get(key)
        if (known != null) spark.read.schema(known).parquet(path)
        else {
          val df = spark.read.parquet(path)
          // one fingerprint per (path, confs): a rewrite replaces the entry
          schemas.keySet.removeIf(k => k._1 == path && k._2 == key._2)
          schemas.put(key, df.schema)
          df
        }
    }
  }

  /** Drop every cached handle and schema under `pathPrefix` (all
    * sessions), and every derived artifact (verified dedup pairs,
    * trained codebooks) built from tables under it. Call after
    * rewriting parquet files in place, or the cached file index serves
    * deleted/stale files.
    */
  def invalidate(pathPrefix: String): Unit = {
    schemas.keySet.removeIf(_._1.startsWith(pathPrefix))
    CacheRegistry.invalidate(pathPrefix)
  }

  /** Drop a session's cached handles and derived artifacts (call when
    * done with a session so its resolved file indexes are not pinned
    * for the JVM lifetime). The JVM-wide schemas stay: the next
    * session reuses them.
    */
  def invalidateSession(spark: SparkSession): Unit =
    CacheRegistry.invalidateSession(spark)

  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.ts` has shipped in two physical layouts across testdata
    * generations, and this loader normalizes both to a session-zone
    * `TIMESTAMP` so every downstream query sees one schema:
    *
    *  - parquet TIMESTAMP(NANOS) (older drops): Spark 4 refuses it by
    *    default, so read the nanos as long (`nanosAsLong`) and convert
    *    with exact integral division (`div` — a double division would
    *    lose precision above 2^53 ns). Truncation toward zero matches
    *    DuckDB's own ns→µs narrowing, so oracle comparisons stay exact.
    *  - parquet timestamp[us] without UTC adjustment (current drops):
    *    Spark infers TIMESTAMP_NTZ; cast it to TIMESTAMP. Every graft
    *    session pins `spark.sql.session.timeZone=UTC`, so the cast
    *    preserves wall-clock values bit-for-bit and DuckDB (whose
    *    TIMESTAMP is NTZ µs) reads identical values.
    *
    * SESSION-WIDE SIDE EFFECT (documented, deliberate): nanosAsLong has
    * no per-read DataSource option (verified against Spark 4.1's
    * ParquetOptions — only rebase/compression/mergeSchema exist), so
    * this sets `spark.sql.legacy.parquet.nanosAsLong` on the session,
    * changing how EVERY later nanos-parquet read in the session infers
    * its schema (they get a LongType instead of an AnalysisException).
    * All graft callers (Graft.openViews, Stress, the query maps) want
    * exactly that; an embedding application that doesn't should scope
    * its reads with `spark.newSession()`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as nanos-long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // timestamp[us], isAdjustedToUTC=false
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType =>
        raw // already a session-zone TIMESTAMP
      case other =>
        // fail loudly: a new testdata physical layout must be handled
        // HERE, not flow downstream unnormalized as subtle divergence
        throw new IllegalStateException(
          s"events.ts has unrecognized physical type $other — " +
            "add an explicit normalization branch in Tables.events")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
}
