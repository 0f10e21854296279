package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test
  * session come through here, so they all run the engine Bench times:
  * the same SQL settings and the graft functions plus
  * [[graft.functions.TokenCountRewrite]] registered. A caller that
  * needs a different value passes it in `conf` or `master` at its own
  * call site, with the reason next to it.
  */
object Session {

  /** Core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val defaults: Map[String, String] = Map(
    // sized for the benchmark data scale; AQE coalesces further at
    // runtime (on a cluster this scales with the input, not the cores)
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    // Typed-accumulator aggregates (simhash, top-k) run in
    // ObjectHashAggregate; the default 128-group fallback would switch
    // them to sort-based almost immediately. Buffers are O(100 B)/group,
    // so a millions-size hash map is the right trade.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    // One full Verify pass generates 6,234 distinct classes at sf0.01
    // (6,278 at sf0.001). Under Spark's default 100-entry cache a
    // session that runs every row evicts them and compiles about
    // 11,700 per pass instead.
    "spark.sql.codegen.cache.maxEntries" -> "8000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  def apply(app: String, master: String = s"local[$cpus]",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder().master(master).appName(app)
    (defaults ++ conf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
