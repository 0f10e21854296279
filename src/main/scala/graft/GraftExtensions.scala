package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{DotProduct, DoubleSortableBits, Md5PrefixLong, RollingHash, TokenCount, TokenCountRewrite, WordShingles}
import graft.plans.AsOfJoinStrategy

/** The one install point of graft's engine extensions: the native
  * expressions as SQL functions, the [[TokenCountRewrite]] optimizer
  * rule and the [[AsOfJoinStrategy]] planner strategy.
  *
  * {{{
  * GraftExtensions.register(spark)
  * spark.sql("SELECT rolling_hash(text), word_shingles(text, 3) FROM docs")
  * }}}
  */
object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  private val functionDefs: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("rolling_hash"),
        info("rolling_hash", "rolling_hash(str) - 64-bit polynomial rolling hash"),
        (exprs: Seq[Expression]) => RollingHash(exprs.head)),
      (FunctionIdentifier("word_shingles"),
        info("word_shingles", "word_shingles(str[, n]) - word n-gram shingles (default n=3)"),
        (exprs: Seq[Expression]) => exprs match {
          case Seq(c) => WordShingles(c, 3)
          case Seq(c, n) if n.foldable =>
            n.eval(null) match {
              case num: Number => WordShingles(c, num.intValue())
              case _ => throw new IllegalArgumentException(
                "word_shingles: n must be a non-null integer literal")
            }
          case _ => throw new IllegalArgumentException(
            "word_shingles(str[, n]) — n must be a foldable integer")
        }),
      (FunctionIdentifier("dot_product"),
        info("dot_product", "dot_product(arr, arr) - sequential double dot product"),
        (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
      (FunctionIdentifier("md5_prefix_long"),
        info("md5_prefix_long", "md5_prefix_long(str) - first 8 md5 bytes as big-endian long"),
        (exprs: Seq[Expression]) => Md5PrefixLong(exprs.head)),
      (FunctionIdentifier("token_count"),
        info("token_count", "token_count(str) - non-empty space-separated token count"),
        (exprs: Seq[Expression]) => TokenCount(exprs.head)),
      (FunctionIdentifier("double_sortable_bits"),
        info("double_sortable_bits",
          "double_sortable_bits(dbl) - order-preserving bit image of a double"),
        (exprs: Seq[Expression]) => DoubleSortableBits(exprs.head)),
      (FunctionIdentifier("interleave_bits"),
        info("interleave_bits",
          "interleave_bits(x, y) - Morton/Z-order interleave of two 16-bit values"),
        (exprs: Seq[Expression]) => {
          // arity-check here so `interleave_bits(x)` fails analysis
          // with a real error instead of IndexOutOfBoundsException
          if (exprs.length != 2)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> "`interleave_bits`",
                "expectedNum" -> "2",
                "actualNum" -> exprs.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"))
          graft.functions.InterleaveBits(exprs(0), exprs(1))
        }),
      (FunctionIdentifier("hilbert_index"),
        info("hilbert_index",
          "hilbert_index(x, y) - order-16 Hilbert-curve index of two 16-bit values"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 2)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> "`hilbert_index`",
                "expectedNum" -> "2",
                "actualNum" -> exprs.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"))
          graft.functions.HilbertIndex(exprs(0), exprs(1))
        })
    )

  /** Install every extension on `spark`. Idempotent: a function is
    * re-registered under its own name, and the rule and the strategy
    * are each prepended only when absent, so a second call changes
    * nothing.
    *
    * It also turns `spark.sql.artifact.isolation.enabled` off. Spark
    * caches each generated class under (class loader, source), and an
    * isolated session runs its tasks under a class loader of its own,
    * so every fresh session would compile the same sources again and
    * run them interpreted until the JIT catches up. graft adds no
    * session artifacts, so its sessions share the JVM's loader and
    * each generated class is compiled once per JVM. Spark reads the
    * conf at a session's first query: call `register` before it. A
    * caller that adds session-scoped JARs with `addArtifact` and needs
    * isolation sets the conf back to `true` after `register`.
    *
    * It also installs graft's `file:` filesystem ([[NioLocalFileSystem]]
    * for the FileSystem API, [[NioLocalFs]] for FileContext) in the
    * session's Hadoop conf. Hadoop's own runs without its native
    * library here, so it starts a shell process (`ls -ld`, `chmod`,
    * `readlink`) for every permission or link lookup and after every
    * create: hundreds per pass of table loads, sink commits and
    * streaming checkpoints. graft's reads and sets the same attributes
    * through java.nio. `fs.file.impl.disable.cache` is needed because
    * `FileSystem.get` caches instances by scheme, authority and user,
    * and the context holds a stock instance before `register` runs. To
    * opt out, `spark.conf.unset` the three keys after `register`; the
    * session then gets the context's classes again.
    */
  def register(spark: SparkSession): Unit = {
    spark.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, false)
    spark.conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", true)
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functionDefs.foreach { case (ident, inf, builder) =>
      registry.registerFunction(ident, inf, builder)
    }
    val x = spark.experimental
    if (!x.extraOptimizations.contains(TokenCountRewrite))
      x.extraOptimizations = TokenCountRewrite +: x.extraOptimizations
    if (!x.extraStrategies.contains(AsOfJoinStrategy))
      x.extraStrategies = AsOfJoinStrategy +: x.extraStrategies
  }
}
