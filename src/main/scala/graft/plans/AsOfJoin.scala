package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  Ascending,
  Attribute,
  Expression,
  GenericInternalRow,
  JoinedRow,
  RowOrdering,
  SortOrder,
  UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native backward as-of join: for each left row (key k, time t), the
  * right row with the same key and the greatest right-time ≤ t (nulls
  * if none) — the point-in-time lookup of CDC/state reconstruction
  * ("which signup was in effect at this purchase?").
  *
  * Spark lacks the operator (SURVEY.md §2.3); it IS expressible by
  * composition (union + last-value-carry-forward window — q26), but
  * the composed form materializes both streams through one widened
  * window sort and carries every left row through the state column.
  * This operator is the physical shape a native engine would pick:
  *
  *   - requiredChildDistribution co-partitions both sides on the key
  *     (one hash shuffle each, same as any equi-join);
  *   - requiredChildOrdering sorts each partition by (key, time) —
  *     Spark's regular SortExec, spill-safe;
  *   - execution is a single streaming merge pass per partition:
  *     O(|L| + |R|) with ONE buffered right row, no per-key state, no
  *     window frame materialization. At 100 TB: same shuffle cost as
  *     the composed form, but the per-partition pass holds O(1) rows
  *     in memory instead of a window buffer, and the right side can
  *     be orders of magnitude smaller than the unioned stream.
  *
  * Installed by `GraftExtensions` at session build; on a session
  * built without it, `joinAsOf` adds it to
  * `spark.experimental.extraStrategies` (the public extension point
  * for planner strategies). The logical node flows
  * through analyzer/optimizer untouched (opaque binary node) and the
  * strategy lowers it to [[AsOfJoinExec]].
  *
  * Under AQE the ENSURE_REQUIREMENTS exchanges on both children are
  * adaptive-readable: small shuffles coalesce, and coalescing is
  * validated against the node's ClusteredDistribution so both sides
  * stay co-partitioned (AsOfJoinAqeSpec pins this plus value parity
  * with the non-adaptive run). Known limitation: AQE's
  * `OptimizeSkewedJoin` pattern-matches only SortMergeJoin/
  * ShuffledHashJoin, so a pathologically hot KEY (one key ≫ one
  * partition's budget) is NOT auto-split here. Mitigation at scale,
  * in preference order: (1) pre-reduce the right side to one row per
  * (key, time) — usually free, it's the deterministic-tie contract
  * anyway; (2) pre-salt the hot keys on both sides with a
  * time-range-aligned salt (each salt slice carries the boundary row,
  * `ops.Salting` shows the two-phase discipline); (3) raise
  * partition count for the stage. The merge pass itself is O(1)
  * memory regardless of skew — only shuffle-partition sizing is at
  * stake, never correctness.
  *
  * Contract: key and time columns are non-null — `joinAsOf` wraps
  * nullable picked columns in `AssertNotNull`, so a null key/time
  * FAILS the task loudly instead of silently sorting first and
  * matching as ≤ t. Tie contract: a right row with time EXACTLY equal
  * to t matches in both directions (≤ / ≥ are inclusive); among
  * multiple right rows sharing one (key, time) the matched row is
  * whichever sorts last (backward) / first (forward) in the
  * partition's (key, time) sort — which is UNSPECIFIED between equal
  * sort keys. Callers needing a deterministic pick must pre-reduce
  * the right side to one row per (key, time) (e.g. latest-wins
  * `Materializer.materialize`); the oracle queries' window frames cut
  * at (ts, event_id) and their fixtures carry no duplicate (key, ts),
  * so both formulations agree there (documented, AsOfJoinSpec ties
  * case).
  *
  * `forward = true` flips the direction: the earliest right time ≥ t
  * (the "next event after" lookup), same merge pass with the
  * candidate buffer replaced by the current right head.
  *
  * `nearest = true` (pandas `merge_asof(direction='nearest')`) keeps
  * BOTH the backward candidate and the forward head live in the same
  * single pass and picks the smaller |t − rt|, ties to the backward
  * side — still O(1) state: the two candidates are exactly the one
  * buffered row and the stream head the directional modes already
  * hold. Requires a long-backed time column (the distance compare is
  * integral); combine with `tolerance` to bound the gap on both
  * sides.
  *
  * `tolerance` (Some(maxGap), in the time column's native integral
  * units — µs for TimestampType) bounds the match: backward requires
  * t − rt ≤ maxGap, forward rt − t ≤ maxGap — pandas/Polars'
  * `tolerance`/`within` shape. `inner = true` drops unmatched left
  * rows instead of null-padding them.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean = false,
    tolerance: Option[Long] = None,
    inner: Boolean = false,
    nearest: Boolean = false
) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan,
      newRight: LogicalPlan
  ): LogicalPlan = copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd, tol, inner, nearest) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd, tol, inner, nearest) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean = false,
    tolerance: Option[Long] = None,
    inner: Boolean = false,
    nearest: Boolean = false
) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending))
  )

  /** Inner mode preserves BOTH children's hash partitionings (every
    * output row carries real key values from each side), so a
    * downstream join/agg keyed on either side's columns skips its
    * Exchange — the SortMergeJoinExec discipline. The default
    * (left-outer-like) mode claims only the left: null-padded right
    * keys on unmatched rows would violate the right partitioning.
    */
  override def outputPartitioning: Partitioning =
    if (inner)
      new org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection(
        Seq(left.outputPartitioning, right.outputPartitioning)
      )
    else left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    // nullable output attrs: the projection must NULL-check the right
    // side (binding to the raw right attributes would read field 0 of
    // the all-null pad row as a value)
    val outAttrs = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val rWidth = rOut.size
    val fwd = forward
    val innr = inner
    val nrst = nearest
    // -1 = unbounded; tolerance requires a long-backed time type
    // (Long / Timestamp-µs), validated in joinAsOf
    val tolLimit = tolerance.getOrElse(-1L)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val joined = new JoinedRow
      val rNulls = new GenericInternalRow(rWidth)
      // downstream operators require UnsafeRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private var rHeadTime: InternalRow = _
        private var cand: InternalRow = _
        private var candKey: InternalRow = _
        private var candTime: InternalRow = _
        private var pending: InternalRow = _
        advanceRight()

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            // projections reuse their buffers; the buffered row and
            // its key outlive this call → copy
            rHeadKey = rKeyProj(r).copy()
            rHeadTime = rTimeProj(r).copy()
            rHead = r.copy()
          } else {
            rHead = null
          }

        /** Next output row, or null when the left side is exhausted —
          * inner mode consumes left rows until one matches. */
        private def computeNext(): InternalRow = {
          while (lIter.hasNext) {
            val l = lIter.next()
            val lKey = lKeyProj(l)
            val lTime = lTimeProj(l)
            var cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKey)
            var matched: InternalRow = null
            if (fwd) {
              // drop right rows strictly before (lKey, lTime); the head
              // is then the earliest right row with time >= lTime
              while (
                rHead != null &&
                (cmp < 0 || (cmp == 0 && timeOrd.compare(rHeadTime, lTime) < 0))
              ) {
                advanceRight()
                cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKey)
              }
              if (
                rHead != null && cmp == 0 &&
                (tolLimit < 0 || rHeadTime.getLong(0) - lTime.getLong(0) <= tolLimit)
              ) matched = rHead
            } else if (nrst) {
              // same consume loop as backward; the head left standing
              // is the forward candidate, and both distances are
              // integral (joinAsOf requires a long-backed time here)
              while (
                rHead != null &&
                (cmp < 0 || (cmp == 0 && timeOrd.compare(rHeadTime, lTime) <= 0))
              ) {
                if (cmp == 0) { cand = rHead; candKey = rHeadKey; candTime = rHeadTime }
                advanceRight()
                cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKey)
              }
              val backDist =
                if (cand != null && keyOrd.compare(candKey, lKey) == 0) {
                  val d = lTime.getLong(0) - candTime.getLong(0)
                  if (tolLimit < 0 || d <= tolLimit) d else -1L
                } else -1L
              val fwdDist =
                if (rHead != null && cmp == 0) {
                  val d = rHeadTime.getLong(0) - lTime.getLong(0)
                  if (tolLimit < 0 || d <= tolLimit) d else -1L
                } else -1L
              if (backDist >= 0 && (fwdDist < 0 || backDist <= fwdDist))
                matched = cand
              else if (fwdDist >= 0) matched = rHead
            } else {
              while (
                rHead != null &&
                (cmp < 0 || (cmp == 0 && timeOrd.compare(rHeadTime, lTime) <= 0))
              ) {
                if (cmp == 0) { cand = rHead; candKey = rHeadKey; candTime = rHeadTime }
                advanceRight()
                cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKey)
              }
              if (
                cand != null && keyOrd.compare(candKey, lKey) == 0 &&
                (tolLimit < 0 || lTime.getLong(0) - candTime.getLong(0) <= tolLimit)
              ) matched = cand
            }
            if (matched != null) return resultProj(joined(l, matched))
            if (!innr) return resultProj(joined(l, rNulls))
            // inner && unmatched: fall through to the next left row
          }
          null
        }

        override def hasNext: Boolean = {
          if (pending == null) pending = computeNext()
          pending != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan,
      newRight: SparkPlan
  ): SparkPlan = copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  import org.apache.spark.sql.classic

  private def classicDf(df: DataFrame): classic.Dataset[Row] =
    df.asInstanceOf[classic.Dataset[Row]]

  /** Backward as-of join of `left` and `right` on equal keys with the
    * greatest `rightTimeCol` ≤ `leftTimeCol`. Right columns should be
    * pre-renamed by the caller to avoid name collisions; expression
    * ids are re-aliased internally so self-join lineage is safe.
    *
    * Nullable picked key/time columns are wrapped in `AssertNotNull`:
    * a null violates the operator's sort/merge contract (it would sort
    * first and silently match as ≤ t), so it fails the task instead.
    *
    * `tolerance`: max allowed |t − rt| in the time column's native
    * integral units (µs for timestamps); requires a long-backed time
    * type. `inner`: drop unmatched left rows.
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      forward: Boolean = false,
      tolerance: Option[Long] = None,
      inner: Boolean = false,
      nearest: Boolean = false
  ): DataFrame = {
    require(!(forward && nearest), "pick ONE direction: forward or nearest")
    val spark = classicDf(left).sparkSession
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull

    val lAnalyzed = classicDf(left).queryExecution.analyzed
    val lGuarded = (leftOn :+ leftTimeCol).toSet
    val lExprs = lAnalyzed.output.map { a =>
      if (lGuarded.contains(a.name) && a.nullable)
        Alias(AssertNotNull(a, Seq(s"as-of join key/time column ${a.name}")), a.name)()
      else a
    }
    val lPlan =
      if (lExprs.exists(_.isInstanceOf[Alias])) Project(lExprs, lAnalyzed)
      else lAnalyzed
    // fresh expression ids on the right side: left and right often
    // share lineage (two filters of one table) and duplicate attribute
    // ids would make the binary node ambiguous
    val rAnalyzed = classicDf(right).queryExecution.analyzed
    val rGuarded = (rightOn :+ rightTimeCol).toSet
    val rAliases = rAnalyzed.output.map { a =>
      val base: Expression =
        if (rGuarded.contains(a.name) && a.nullable)
          AssertNotNull(a, Seq(s"as-of join key/time column ${a.name}"))
        else a
      Alias(base, a.name)()
    }
    val rPlan = Project(rAliases, rAnalyzed)
    val rOut = rAliases.map(_.toAttribute)

    def pick(out: Seq[Attribute], name: String): Attribute =
      out
        .find(_.name == name)
        .getOrElse(
          throw new IllegalArgumentException(
            s"column $name not in [${out.map(_.name).mkString(", ")}]"
          )
        )

    val lTime = pick(lPlan.output, leftTimeCol)
    val rTime = pick(rOut, rightTimeCol)
    if (tolerance.isDefined || nearest) {
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      val ok = Set[org.apache.spark.sql.types.DataType](
        LongType,
        TimestampType,
        TimestampNTZType
      )
      require(
        ok.contains(lTime.dataType) && ok.contains(rTime.dataType),
        s"tolerance/nearest requires a long-backed time column (long/timestamp), got " +
          s"${lTime.dataType.simpleString}/${rTime.dataType.simpleString}"
      )
    }

    val node = AsOfJoinPlan(
      lPlan,
      rPlan,
      leftOn.map(pick(lPlan.output, _)),
      rightOn.map(pick(rOut, _)),
      lTime,
      rTime,
      forward,
      tolerance,
      inner,
      nearest
    )
    org.apache.spark.sql.graftshim.GraftSqlShims.ofRows(spark, node)
  }
}
