package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** As-of join — the canonical "operator Spark lacks" extension
  * (builder guidance path (c): LogicalPlan + Strategy + SparkPlan).
  *
  * Semantics: for every left row, attach the same-key right row chosen
  * by the direction — BACKWARD (default): greatest right-time ≤
  * left-time; FORWARD: smallest right-time ≥ left-time; NEAREST:
  * whichever of those two candidates is closer in time, ties backward.
  * Left rows with no such row keep nulls (LEFT ASOF). Backward matches
  * DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND l.t >= r.t`, which
  * serves as the differential oracle (forward: `<=`; nearest: the two
  * composed with a CASE on distance).
  *
  * Physical algorithm: both sides hash-clustered on the key and sorted
  * within partitions by (key, time) — declared via
  * `requiredChildDistribution`/`requiredChildOrdering` so Catalyst's
  * EnsureRequirements inserts the exchanges and sorts — then a single
  * per-partition merge pass that carries the latest in-window right row
  * per key. O(n+m) per partition after the sort, no buffering beyond
  * one row: the same shape as a sort-merge join, so it scales exactly
  * like one (and at 100 TB the exchanges vanish if both sides are
  * bucketed by the key at write time).
  *
  * Constraints (checked by the [[AsOfJoin.joinAsOf]] wrapper): key and
  * time expressions must be 8-byte-primitive-backed (long/int/
  * timestamp), and right-side (key, time) pairs should be unique for
  * deterministic results (pre-aggregate duplicates away).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfJoin.Direction = AsOfJoin.Backward)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfJoin.Direction)
  extends SparkPlan with BinaryExecNode {

  private def rightOutNullable = right.output.map(_.withNullability(true))
  override def output: Seq[Attribute] = left.output ++ rightOutNullable

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val rOutN = rightOutNullable
    val lk = leftKey; val lt = leftTime; val rk = rightKey; val rt = rightTime
    // case objects round-trip through task serialization as fresh
    // instances on some closure paths — compare a primitive id instead
    val dirId = direction.id
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKT = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rKT = UnsafeProjection.create(Seq(rk, rt), rOut)
      val resultProj = UnsafeProjection.create(lOut ++ rOutN, lOut ++ rOutN)
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        private var matchedRow: InternalRow = _
        private var matchedKey: Long = 0L
        private var matchedTime: Long = 0L
        private var hasMatch = false

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lRow = lIter.next()
          val kt = lKT(lRow)
          // A null key or time never matches (ASOF semantics, same as
          // DuckDB): the left row keeps the null right side. Null rows
          // sort first (Spark ASC = NULLS FIRST), so not advancing the
          // right cursor here is safe for the rows that follow.
          if (kt.isNullAt(0) || kt.isNullAt(1)) {
            return resultProj(joiner(lRow, nullRight))
          }
          val lKeyV = kt.getLong(0)
          val lTimeV = kt.getLong(1)
          if (dirId == AsOfJoin.Forward.id) {
            // FORWARD (smallest right time ≥ left time): drain right
            // rows strictly before (lKey, lTime) — they can never match
            // this or any later left row — then PEEK (don't consume):
            // the head may also serve later left rows of the same key.
            var advance = true
            while (advance && rBuf.hasNext) {
              val peek = rKT(rBuf.head)
              if (peek.isNullAt(0) || peek.isNullAt(1)) rBuf.next()
              else {
                val rKeyV = peek.getLong(0)
                val rTimeV = peek.getLong(1)
                if (rKeyV < lKeyV || (rKeyV == lKeyV && rTimeV < lTimeV)) rBuf.next()
                else advance = false
              }
            }
            val rSide =
              if (rBuf.hasNext) {
                val peek = rKT(rBuf.head)
                if (!peek.isNullAt(0) && peek.getLong(0) == lKeyV) rBuf.head
                else nullRight
              } else nullRight
            resultProj(joiner(lRow, rSide))
          } else {
            // BACKWARD and NEAREST share the drain: advance past every
            // row at-or-before (lKey, lTime), remembering the last
            // same-key row seen (and its time, for NEAREST's distance
            // compare); null-keyed/timed right rows (sorted first) are
            // drained without being remembered.
            var advance = true
            while (advance && rBuf.hasNext) {
              val peek = rKT(rBuf.head)
              if (peek.isNullAt(0) || peek.isNullAt(1)) {
                rBuf.next()
              } else {
                val rKeyV = peek.getLong(0)
                val rTimeV = peek.getLong(1)
                if (rKeyV < lKeyV || (rKeyV == lKeyV && rTimeV <= lTimeV)) {
                  val row = rBuf.next()
                  if (rKeyV == lKeyV) {
                    matchedRow = row.copy(); matchedKey = rKeyV
                    matchedTime = rTimeV; hasMatch = true
                  }
                } else advance = false
              }
            }
            val backRow =
              if (hasMatch && matchedKey == lKeyV) matchedRow else null
            val rSide =
              if (dirId == AsOfJoin.Backward.id) {
                if (backRow != null) backRow else nullRight
              } else {
                // NEAREST: the forward candidate is the undrained head
                // (first same-key row strictly after lTime) — peeked,
                // not consumed, since it may serve later left rows too.
                // Pick the smaller time distance; ties go backward,
                // matching the oracle's CASE order.
                var fwdRow: InternalRow = null
                var fwdTime = 0L
                if (rBuf.hasNext) {
                  val peek = rKT(rBuf.head)
                  if (!peek.isNullAt(0) && !peek.isNullAt(1) &&
                      peek.getLong(0) == lKeyV) {
                    fwdRow = rBuf.head; fwdTime = peek.getLong(1)
                  }
                }
                if (backRow == null && fwdRow == null) nullRight
                else if (fwdRow == null) backRow
                else if (backRow == null) fwdRow
                // matchedTime ≤ lTimeV ≤ fwdTime, so both distances are
                // true non-negative values that always fit UNSIGNED
                // 64-bit even when the signed subtraction wraps (times
                // near Long.MIN/MAX) — compareUnsigned is exact where
                // a signed <= could pick the wrong candidate.
                else if (java.lang.Long.compareUnsigned(
                    lTimeV - matchedTime, fwdTime - lTimeV) <= 0) backRow
                else fwdRow
              }
            resultProj(joiner(lRow, rSide))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, dir) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {

  /** Match direction: BACKWARD = greatest right time ≤ left time (the
    * classic as-of), FORWARD = smallest right time ≥ left time (the
    * "next event" lookup), NEAREST = whichever of the two candidates
    * sits closer in time, ties to the backward side (the
    * sensor-alignment / record-linkage shape). One merge pass serves
    * all three — NEAREST reads the backward memory AND peeks the
    * undrained head, so it still buffers exactly one row.
    */
  sealed abstract class Direction(val id: Int) extends Serializable
  case object Backward extends Direction(0)
  case object Forward extends Direction(1)
  case object Nearest extends Direction(2)

  /** Normalize a key/time expression so the exec's `getLong` reads are
    * well-defined for its type: ints widen to long (UnsafeRow slots are
    * zero-extended, so a raw `getLong` on a negative int would compare
    * as a large positive), dates widen to timestamp (micros). Any other
    * type is rejected here rather than reading garbage at runtime.
    */
  private def normalize(e: Expression, what: String): Expression = e.dataType match {
    case LongType | TimestampType | TimestampNTZType => e
    case IntegerType | ShortType | ByteType => Cast(e, LongType)
    case DateType => Cast(e, TimestampType)
    case other => throw new IllegalArgumentException(
      s"joinAsOf: $what must be long/int/timestamp/date-typed, got $other")
  }

  private def sameFamily(a: DataType, b: DataType): Boolean = (a, b) match {
    case (LongType, LongType) => true
    case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) => true
    case _ => false
  }

  /** `left ASOF LEFT JOIN right ON leftKey = rightKey AND leftTime >= rightTime`
    * (backward, the default) or `... leftTime <= rightTime` (forward:
    * the SMALLEST right time at-or-after the left time — the
    * "next event" lookup, e.g. time-to-next-purchase).
    * Pass resolved columns (`df("col")` style). Key/time columns must be
    * long/int/timestamp/date-typed (ints and dates are widened); left
    * and right must agree on the widened family, so a date column never
    * silently compares day-counts against microseconds. Null keys/times
    * never match: such left rows keep the null right side, such right
    * rows are skipped — DuckDB ASOF semantics. A right side sharing
    * attribute ids with the left (self as-of join) is re-aliased with
    * fresh ids, like Dataset.join does.
    */
  def joinAsOf(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      forward: Boolean = false): DataFrame = {
    if (shouldAutoSalt(left, right, leftKey, rightKey))
      joinAsOfSalted(left, right, leftKey, rightKey, leftTime, rightTime,
        AutoSaltSalts, forward)
    else
      joinAsOfDir(left, right, leftKey, rightKey, leftTime, rightTime,
        if (forward) Forward else Backward)
  }

  /** Auto-salt dial (round 9): AQE's OptimizeSkewedJoin only rewrites
    * SortMergeJoin / ShuffledHashJoin, so a hot probe key on this
    * custom exec used to become one straggler task unless the CALLER
    * knew to use [[joinAsOfSalted]] (measured 4.2 s vs 1.9 s salted —
    * SCALE.md). [[joinAsOf]] now runs its own planning-time skew
    * probe whenever both keys are integral (the salted packing's
    * precondition): ONE narrow, map-side-combined count-per-key over
    * the probe side — far below the join's own sort cost; at 100 TB
    * the same seam takes table statistics or a count-min sketch
    * instead of the exact pass. If the hottest key holds more than
    * [[AutoSaltShare]] of probe rows — the one-straggler regime — the
    * join routes through the row-identical salted form (pinned equal
    * in AsOfJoinSpec). The probe also checks the packing headroom
    * |key| < 2⁶³/salts, so auto-salting can never overflow where the
    * plain join would have worked. Opt out per session with
    * `spark.graft.asof.autoSalt=false` (e.g. to benchmark the
    * unsalted straggler).
    */
  val AutoSaltShare = 0.10
  val AutoSaltSalts = 32
  /** Below this probe-row floor a hot key cannot produce a
    * meaningful straggler, and salting would only add the right-side
    * replication (and defeat bucketed no-shuffle layouts on small
    * dims) — stay on the plain path.
    */
  val AutoSaltMinRows = 100000L

  private def isIntegral(df: DataFrame, c: Column): Boolean =
    try Seq(LongType, IntegerType, ShortType, ByteType)
      .contains(df.select(c).schema.head.dataType)
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Memoized probe verdicts, keyed (session UUID, left-plan
    * fingerprint) — [[shouldAutoSalt]] runs real Spark jobs at
    * plan-construction, so a query that calls [[joinAsOf]] repeatedly
    * on the same left frame (Tables memoizes table handles, making
    * the canonical plan — and so its semanticHash — stable) must pay
    * the ~0.18 s probe once per session, not per call. Safe to serve
    * stale or even hash-collided: the verdict is a ROUTING heuristic
    * and both routes are row-identical (AsOfJoinSpec), so the worst
    * case of a wrong cache hit is the status-quo plan, never a wrong
    * answer — which is why this entry, unlike data-derived artifacts,
    * does not need path-prefix invalidation on rewrite.
    */
  private val probeCache = graft.CacheRegistry.newCache()

  /** Count of REAL probe passes (test pin: repeat calls memo-hit). */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  private def shouldAutoSalt(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column): Boolean = {
    if (left.sparkSession.conf
        .get("spark.graft.asof.autoSalt", "true") != "true") return false
    if (!isIntegral(left, leftKey) || !isIntegral(right, rightKey)) return false
    // Catalyst-stats pre-filter: the probe below runs real Spark jobs
    // at plan-construction time, so short-circuit frames the
    // optimizer can PROVE are under the AutoSaltMinRows floor.
    // Driver-side only — no job. Prefer the exact rowCount when stats
    // carry one (Range, CBO); otherwise fall back to sizeInBytes —
    // but for file relations that estimate is COMPRESSED on-disk
    // bytes (scaled by spark.sql.sources.fileCompressionFactor,
    // default 1.0 = raw file size), and RLE/dictionary parquet packs
    // a skewed integral key well below 8 B/row — exactly the frame
    // this probe exists to catch. So the size path only skips when
    // the estimate sits a full order of magnitude below the 8 B/row
    // floor; anything within 10× falls through to the real probe.
    val statsSkip =
      (try Some(left.queryExecution.optimizedPlan.stats)
       catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(st) => st.rowCount match {
          case Some(rc) => rc < AutoSaltMinRows
          case None => st.sizeInBytes * 10 < BigInt(AutoSaltMinRows) * 8
        }
        case None => false
      }
    if (statsSkip) return false
    val fp =
      try left.select(leftKey.cast("long"))
        .queryExecution.optimizedPlan.semanticHash().toString
      catch { case scala.util.control.NonFatal(_) =>
        java.util.UUID.randomUUID().toString }
    graft.CacheRegistry.cached[java.lang.Boolean](
        probeCache, left.sparkSession, fp, "asofProbe") {
      probeRuns.incrementAndGet()
      java.lang.Boolean.valueOf(
        probeSaysSalt(left, leftKey))
    }.booleanValue()
  }

  private def probeSaysSalt(left: DataFrame, leftKey: Column): Boolean = {
    // Partition-subset probe (every `step`th partition — step is
    // sized so ~8 partitions are probed whatever the partition
    // count), counted in a capped per-partition open map and reduced
    // to each partition's top-64 keys + totals — so the probe's cost
    // stays ~8 tasks, task memory is bounded regardless of key
    // cardinality
    // (cold keys past the cap are dropped; a >10%-hot key is in the
    // map within its first few thousand rows), and the driver merge
    // is ≤ 8·64 entries. Measured ~0.18 s against a 1.4 s join at the
    // Stress shape — the verdict is a routing heuristic, not part of
    // the result contract, so subset noise is safe: both routes are
    // row-identical. Skew concentrated ONLY in unprobed partitions
    // degrades to the status-quo unsalted plan, never to a wrong one.
    val rdd = left.select(leftKey.cast("long").as("__asof_k")).rdd
    val step = math.max(1, rdd.getNumPartitions / 8)
    val MapCap = 1 << 22
    val parts = rdd.mapPartitionsWithIndex { (pi, it) =>
      if (pi % step != 0) Iterator.empty
      else {
        val m = new scala.collection.mutable.HashMap[Long, Long]()
        var n = 0L
        var ak = 0L
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val k = r.getLong(0)
            if (m.contains(k) || m.size < MapCap)
              m.update(k, m.getOrElse(k, 0L) + 1L)
            if (math.abs(k) > ak) ak = math.abs(k)
          }
          n += 1L
        }
        val top = m.toSeq.sortBy(-_._2).take(64)
        Iterator((top, n, ak))
      }
    }.collect()
    val merged = new scala.collection.mutable.HashMap[Long, Long]()
    var n = 0L
    var ak = 0L
    parts.foreach { case (top, pn, pak) =>
      top.foreach { case (k, c) => merged.update(k, merged.getOrElse(k, 0L) + c) }
      n += pn
      ak = math.max(ak, pak)
    }
    // probed totals: scale the row floor by the ACTUAL probed
    // fraction — each probed partition emits exactly one tuple, so
    // parts.length counts them (with step = numPartitions/8 that
    // fraction is ~8/numPartitions, NOT 1/8; the old hardcoded /8
    // floor judged large frames "too small" past 8 partitions and
    // silently skipped salting genuine hot keys). Also demand a 64×
    // packing-headroom margin since the probe only estimates the true
    // key range (a violation past the margin still fails LOUDLY —
    // ANSI overflow in the packed key — never silently).
    val numParts = math.max(1, rdd.getNumPartitions)
    val probedParts = math.max(1, parts.length)
    if (n.toDouble * numParts / probedParts < AutoSaltMinRows) return false
    val mx = if (merged.isEmpty) 0L else merged.values.max
    ak < Long.MaxValue / AutoSaltSalts / 64 &&
      mx.toDouble / n > AutoSaltShare
  }

  /** NEAREST variant: for every left row, the same-key right row with
    * the smallest |leftTime − rightTime|, ties to the earlier (backward)
    * row. Same constraints and null semantics as [[joinAsOf]].
    */
  def joinAsOfNearest(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame =
    joinAsOfDir(left, right, leftKey, rightKey, leftTime, rightTime, Nearest)

  /** Hot-key mitigation as an operator property — the measured manual
    * recipe of SCALE.md's as-of probe (asof_hot_key 2.7 s → salted ≈
    * the uniform 1.4 s baseline) packaged so callers don't hand-roll it: the same
    * as-of join, with each LEFT row's key spread over `salts` sub-keys
    * (salt = leftTime mod salts) and the right side replicated once
    * per salt. Results are row-identical to [[joinAsOf]] — every
    * (key, salt) bucket still sees the key's FULL right timeline — but
    * a 90%-hot key becomes `salts`-way parallel, which AQE cannot do
    * for a custom exec (OptimizeSkewedJoin only rewrites SortMergeJoin
    * / ShuffledHashJoin).
    *
    * Constraints beyond [[joinAsOf]]'s: keys must be INTEGRAL — the
    * packed sub-key is key·salts+salt, and a timestamp key would cast
    * to whole seconds and could merge distinct keys — and
    * |key| < 2⁶³/salts so the packing cannot overflow. The right side
    * grows `salts`×: this is for a skewed probe side against a bounded
    * build side (events vs a quote/dim table), the shape hot keys
    * actually take. A left row with null time keeps the null right
    * side exactly as in the unsalted join (its packed key goes null,
    * and null times never match anyway).
    */
  def joinAsOfSalted(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      salts: Int = 32, forward: Boolean = false): DataFrame = {
    require(salts >= 1, s"joinAsOfSalted: salts must be >= 1, got $salts")
    def requireIntegral(df: DataFrame, c: Column, what: String): Unit = {
      val dt = df.select(c).schema.head.dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"joinAsOfSalted: $what must be integral for lossless key packing, got $dt")
    }
    requireIntegral(left, leftKey, "leftKey")
    requireIntegral(right, rightKey, "rightKey")
    import org.apache.spark.sql.functions.{array, col, explode, lit, pmod}
    val saltCol = "__asof_salt"
    val keyCol = "__asof_salted_key"
    val l2 = left
      .withColumn(saltCol, pmod(leftTime.cast("long"), lit(salts.toLong)))
      .withColumn(keyCol, leftKey.cast("long") * salts + col(saltCol))
    val r2 = right
      .withColumn(saltCol,
        explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      .withColumn(keyCol, rightKey.cast("long") * salts + col(saltCol))
    joinAsOfDir(l2, r2, l2(keyCol), r2(keyCol), leftTime, rightTime,
        if (forward) Forward else Backward)
      .drop(saltCol).drop(keyCol)
  }

  private def joinAsOfDir(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      direction: Direction): DataFrame = {
    val spark = left.sparkSession
    // a session that never registered still plans AsOfJoinExec
    graft.GraftExtensions.register(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    val lk = normalize(Bridge.expression(leftKey), "leftKey")
    val lt = normalize(Bridge.expression(leftTime), "leftTime")
    var rk = normalize(Bridge.expression(rightKey), "rightKey")
    var rt = normalize(Bridge.expression(rightTime), "rightTime")
    require(sameFamily(lk.dataType, rk.dataType),
      s"joinAsOf: key types disagree after widening: ${lk.dataType} vs ${rk.dataType}")
    require(sameFamily(lt.dataType, rt.dataType),
      s"joinAsOf: time types disagree after widening: ${lt.dataType} vs ${rt.dataType}")
    // Self-join attribute dedup: duplicate exprIds would make the right
    // key/time bind ambiguously (or to the left side).
    val leftIds = lPlan.output.map(_.exprId).toSet
    val rPlan =
      if (rPlan0.output.exists(a => leftIds.contains(a.exprId))) {
        val aliases = rPlan0.output.map(a => Alias(a, a.name)())
        val remap = rPlan0.output.map(_.exprId).zip(aliases.map(_.toAttribute)).toMap
        def rewrite(e: Expression): Expression = e.transform {
          case a: AttributeReference if remap.contains(a.exprId) => remap(a.exprId)
        }
        rk = rewrite(rk); rt = rewrite(rt)
        Project(aliases, rPlan0)
      } else rPlan0
    val plan = AsOfJoinPlan(lPlan, rPlan, lk, rk, lt, rt, direction)
    Bridge.ofRows(spark, plan)
  }
}
