package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native as-of join (SURVEY.md §7.3 "no Spark built-in"; the second
  * whole-operator custom tier after [[TopKPerGroup]]).
  *
  * Semantics, backward (default): for every left row, the single right
  * row with the same key whose `rightTime <= leftTime` and which is
  * LAST under (rightTime ASC, tieBreak ASC) — i.e. the latest right
  * row at or before the left timestamp, ties resolved toward the
  * largest tieBreak. Forward (`forward = true`): the FIRST right row
  * with `rightTime >= leftTime` under the same ordering — the earliest
  * at-or-after match, ties toward the smallest tieBreak (pandas
  * merge_asof direction parity). Inner semantics by default: unmatched
  * left rows (and null keys or times on either side) are dropped.
  *
  * `leftOuter = true` keeps every left row instead (pandas merge_asof's
  * DEFAULT row semantics, and SQL LEFT JOIN parity): an unmatched left
  * row — including one with a null key or time, exactly as a LEFT JOIN
  * keeps null-key rows — is emitted with nulls in every right column.
  *
  * `tolerance = Some(t)` bounds the match's staleness (merge_asof's
  * `tolerance` window): backward requires `leftTime - rightTime <= t`,
  * forward `rightTime - leftTime <= t`; a candidate outside the window
  * is no match at all (dropped, or nulls under leftOuter). `t` is in
  * the time column's NATIVE internal unit — microseconds for
  * TIMESTAMP/TIMESTAMP_NTZ, days for DATE, the raw value for integral
  * types — and must be >= 0 (0 = exact-time matches only, like
  * merge_asof).
  *
  * Why an operator instead of the join+window formulation: the
  * `key = key AND rt <= lt` join fans out to a left row × that key's
  * ENTIRE earlier history before row_number() discards all but one —
  * a heavy key (one user with millions of orders) turns into a
  * multiplicative blowup at exactly the scale where it hurts. This
  * exec instead requires both children clustered by key and sorted by
  * (key, time): one shuffle per side, then a single O(n + m) merge
  * pass per partition holding ONE candidate row — no fanout, no
  * per-group sort, heap memory O(1). A skewed key costs its linear
  * scan share and nothing more (measured in PERF.md §as-of).
  *
  * Reference analogue: matching each plan event to the latest
  * preceding status snapshot (`agents/orbiter.md:85-90` pick-latest
  * discipline applied across two feeds).
  */
case class AsOfJoin(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tieBreak: Seq[Expression],
    forward: Boolean,
    leftOuter: Boolean,
    tolerance: Option[Long],
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs matching non-empty key lists")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match exactly (cast first)")
  require(leftTime.dataType == rightTime.dataType,
    "as-of join time types must match exactly (cast first)")
  require(tolerance.forall(_ >= 0), "as-of tolerance must be >= 0")
  require(tolerance.isEmpty || AsOfJoin.toleranceTypes(leftTime.dataType),
    s"as-of tolerance needs a long-comparable time type " +
      s"(timestamp/date/integral), got ${leftTime.dataType}")
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  import org.apache.spark.sql.types._
  /** Time types whose internal value is a plain long/int — the ones a
    * numeric tolerance window is well-defined over. */
  val toleranceTypes: Set[DataType] = Set(
    TimestampType, TimestampNTZType, DateType, LongType, IntegerType, ShortType)
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tieBreak: Seq[Expression],
    forward: Boolean,
    leftOuter: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  /** Same-key rows of both sides must meet in one partition — Catalyst
    * inserts (or reuses) the hash exchanges, co-partitioned the same
    * way it co-partitions a sort-merge join. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** The merge needs both sides sorted by (key, time) — and the right
    * additionally by tieBreak so "last consumed" IS the tie winner.
    * Catalyst inserts the sorts; an already-sorted child (bucketed
    * table, previous sort) satisfies them for free. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +: tieBreak.map(SortOrder(_, Ascending))))

  /** One output row per matched left row, emitted in left order — the
    * left child's clustering and ordering both survive. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val (lOut, rOut) = (left.output, right.output)
    val (lk, rk, lt, rt) = (leftKeys, rightKeys, leftTime, rightTime)
    val outAttrs = output
    val outer = leftOuter
    val tol = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      // Under leftOuter the right-side columns are fed nulls for
      // unmatched rows — the projection must bind them NULLABLE or
      // codegen would skip the null check and read garbage zeros.
      val rBind = if (outer) rOut.map(_.withNullability(true)) else rOut
      val result = UnsafeProjection.create(outAttrs, lOut ++ rBind)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.length)
      // tolerance window: compare times as their internal long value
      // (micros for timestamps, days for dates, raw for integral) —
      // types outside this set were rejected at the logical node
      import org.apache.spark.sql.types._
      val timeVal: InternalRow => Long =
        if (tol.isEmpty) null
        else timeType match {
          case TimestampType | TimestampNTZType | LongType => _.getLong(0)
          case DateType | IntegerType => _.getInt(0).toLong
          case ShortType => _.getShort(0).toLong
          case other => throw new IllegalStateException(
            s"tolerance over unsupported time type $other")
        }
      def withinTol(earlier: InternalRow, later: InternalRow): Boolean =
        tol.forall(t => timeVal(later) - timeVal(earlier) <= t)

      new Iterator[InternalRow] {
        // Child iterators reuse their row buffers, so anything retained
        // across an advance is copied: the one candidate row (`best`)
        // and the small projected key/time rows of the right cursor.
        private var rRow: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rTime: UnsafeRow = _
        private var best: InternalRow = _
        private var bestKey: UnsafeRow = _
        private var bestTime: UnsafeRow = _
        private var ready: InternalRow = _

        private def advanceRight(): Unit = {
          // null right keys/times can never match any left row — skip
          // them here so they cannot wedge the consume loop (they sort
          // NULLS FIRST, i.e. ahead of every real row of their key)
          var ok = false
          while (!ok && rIter.hasNext) {
            rRow = rIter.next()
            val k = rKeyProj(rRow)
            if (!k.anyNull) {
              val t = rTimeProj(rRow)
              if (!t.anyNull) { rKey = k.copy(); rTime = t.copy(); ok = true }
            }
          }
          if (!ok) { rRow = null; rKey = null; rTime = null }
        }
        advanceRight()

        override def hasNext: Boolean = {
          while (ready == null && lIter.hasNext) {
            val lRow = lIter.next()
            // the single matched right row for this left row, if any
            var matched: InternalRow = null
            val lKey = lKeyProj(lRow)
            if (!lKey.anyNull) {
              val lTimeRow = lTimeProj(lRow)
              if (!lTimeRow.anyNull) {
                if (forward) {
                  // forward: winner is the FIRST right row of the key at
                  // or after the left time — skip everything earlier
                  // (later left rows of the key have even larger times,
                  // so the skipped rows can never match again) and emit
                  // the cursor WITHOUT advancing: the same right row may
                  // serve several left rows.
                  while (rRow != null && (keyOrd.compare(rKey, lKey) < 0 ||
                      (keyOrd.compare(rKey, lKey) == 0 &&
                        timeOrd.compare(rTime, lTimeRow) < 0))) advanceRight()
                  if (rRow != null && keyOrd.compare(rKey, lKey) == 0 &&
                      withinTol(lTimeRow, rTime)) {
                    matched = rRow
                  }
                } else {
                  // discard right rows of keys already passed
                  while (rRow != null && keyOrd.compare(rKey, lKey) < 0) advanceRight()
                  // consume this key's rows up to the left timestamp; the
                  // LAST consumed is the as-of winner (time, then tieBreak)
                  while (rRow != null && keyOrd.compare(rKey, lKey) == 0 &&
                      timeOrd.compare(rTime, lTimeRow) <= 0) {
                    best = rRow.copy(); bestKey = rKey; bestTime = rTime
                    advanceRight()
                  }
                  // left times only grow within a key, so `best` stays the
                  // latest candidate for every subsequent same-key left row.
                  // A best outside the tolerance window is NO match — and
                  // since it is the key's LATEST at-or-before row, no other
                  // candidate could be closer.
                  if (best != null && keyOrd.compare(bestKey, lKey) == 0 &&
                      withinTol(bestTime, lTimeRow)) {
                    matched = best
                  }
                }
              }
            }
            if (matched != null) ready = result(joined(lRow, matched))
            // LEFT JOIN parity: an unmatched left row — null key/time
            // included — survives with nulls in every right column
            else if (outer) ready = result(joined(lRow, nullRight))
          }
          ready != null
        }

        override def next(): InternalRow = {
          if (ready == null && !hasNext) throw new NoSuchElementException
          val r = ready; ready = null; r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(lk, rk, lt, rtm, tb, fwd, outer, tol, l, r) =>
      AsOfJoinExec(lk, rk, lt, rtm, tb, fwd, outer, tol,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** As-of join of `left` to `right`: every left row paired with its
    * key's latest right row at or before `leftTimeCol` (backward,
    * default — ties toward the largest `tieBreak`), or its earliest
    * right row at or after it (`direction = "forward"` — ties toward
    * the smallest). Unmatched left rows drop (`joinType = "inner"`,
    * default) or survive with nulls in the right columns
    * (`joinType = "left_outer"` — pandas merge_asof's row semantics).
    * `tolerance` caps the match distance in the time column's native
    * internal unit (micros for timestamps, days for dates, raw for
    * integral types); a candidate farther than that is no match.
    * Columns are resolved by name; key and time types must already
    * match between the sides. Registers the strategy idempotently. */
  def join(left: DataFrame, right: DataFrame,
           leftKeys: Seq[String], rightKeys: Seq[String],
           leftTimeCol: String, rightTimeCol: String,
           tieBreak: Seq[String] = Nil,
           direction: String = "backward",
           joinType: String = "inner",
           tolerance: Option[Long] = None): DataFrame = {
    val forward = direction match {
      case "backward" => false
      case "forward"  => true
      case other => throw new IllegalArgumentException(
        s"as-of direction must be backward or forward, got $other")
    }
    val leftOuter = joinType match {
      case "inner"      => false
      case "left_outer" => true
      case other => throw new IllegalArgumentException(
        s"as-of joinType must be inner or left_outer, got $other")
    }
    val spark = left.sparkSession
    Strategies.ensure(spark, AsOfStrategy)
    val (lp, rp) = (left.queryExecution.analyzed, right.queryExecution.analyzed)
    // Self-joins built from the same base plan carry the SAME attribute
    // exprIds on both sides; the output projection would then bind every
    // right column to its left twin and silently emit left values in
    // right columns. Fail fast instead — the caller aliases one side
    // (select with new names), exactly what q113/q21 do.
    val shared = lp.outputSet.intersect(rp.outputSet)
    if (shared.nonEmpty) throw new IllegalArgumentException(
      "as-of join sides share column identities (" +
        shared.map(_.name).mkString(", ") +
        ") — a self-join must rename one side first " +
        "(e.g. right.select(col(\"c\").as(\"c2\"), ...))")
    // session resolver (case-insensitive by default) with an explicit
    // ambiguity error — same contract as TopK.perGroup
    val resolver = spark.sessionState.conf.resolver
    def attr(p: LogicalPlan, n: String) =
      p.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $n is ambiguous: matches ${many.map(_.name).mkString(", ")}")
      }
    org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark, AsOfJoin(
      leftKeys.map(attr(lp, _): Expression), rightKeys.map(attr(rp, _): Expression),
      attr(lp, leftTimeCol), attr(rp, rightTimeCol),
      tieBreak.map(attr(rp, _): Expression), forward, leftOuter, tolerance, lp, rp))
  }

  /** q113: the operator's second graded shape (as q106 is to q86) —
    * attribution: every non-signup event matched to its user's latest
    * signup at or before the event time. Same exec as q21 but a
    * self-derived split (the two sides come from one feed), different
    * sizes and selectivity; hash-graded against the window-SQL
    * restatement. This is the "attach the session opener to every
    * action" shape a behavioral pipeline runs at 100 TB, where the
    * fanout formulation pays each user's full signup history per
    * action. */
  def q113AsofAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
    val actions = ev.filter($"event_type" =!= "signup")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"user_id".as("su"), $"ts".as("su_ts"))
    join(actions, signups,
        leftKeys = Seq("user_id"), rightKeys = Seq("su"),
        leftTimeCol = "ts", rightTimeCol = "su_ts",
        tieBreak = Seq("signup_id"))
      .select($"event_id", $"signup_id")
      .orderBy($"event_id")
  }

  val q113Sql: String =
    """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
      |SELECT event_id, signup_id FROM (
      |  SELECT a.event_id, s.event_id AS signup_id,
      |    row_number() OVER (PARTITION BY a.event_id
      |      ORDER BY s.ts DESC, s.event_id DESC) AS rn
      |  FROM ev a JOIN ev s
      |    ON s.user_id = a.user_id AND s.event_type = 'signup' AND s.ts <= a.ts
      |  WHERE a.event_type <> 'signup') t
      |WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** q114: the forward direction under the oracle gate — every order
    * matched to its customer's FIRST event at or after the order date
    * ("next touch after purchase"). Distinct from q21/q113 in direction
    * AND join selectivity (only custkeys that are also event users
    * match); hash-graded against the ascending window restatement. */
  def q114AsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = graft.Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        $"o_orderdate".cast(org.apache.spark.sql.types.TimestampNTZType)
          .as("o_orderdate"))
    val ev = graft.Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
    join(ord, ev,
        leftKeys = Seq("o_custkey"), rightKeys = Seq("user_id"),
        leftTimeCol = "o_orderdate", rightTimeCol = "ts",
        tieBreak = Seq("event_id"), direction = "forward")
      .select($"o_orderkey", $"event_id")
      .orderBy($"o_orderkey")
  }

  val q114Sql: String =
    """SELECT o_orderkey, event_id FROM (
      |  SELECT o.o_orderkey, e.event_id,
      |    row_number() OVER (PARTITION BY o.o_orderkey
      |      ORDER BY e.ts ASC, e.event_id ASC) AS rn
      |  FROM orders o JOIN events e
      |    ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate) t
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** q123: q113's attribution under LEFT-OUTER semantics — every
    * non-signup event keeps a row; one whose user has no signup at or
    * before it carries a null signup_id. This is the enrichment shape
    * real pipelines default to ("attach last-known profile, keep the
    * event either way" — pandas merge_asof's default), and it grades
    * the null-emission path of the operator against a LEFT JOIN +
    * window oracle. */
  def q123AsofOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
    val actions = ev.filter($"event_type" =!= "signup")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"user_id".as("su"), $"ts".as("su_ts"))
    join(actions, signups,
        leftKeys = Seq("user_id"), rightKeys = Seq("su"),
        leftTimeCol = "ts", rightTimeCol = "su_ts",
        tieBreak = Seq("signup_id"), joinType = "left_outer")
      .select($"event_id", $"signup_id")
      .orderBy($"event_id")
  }

  val q123Sql: String =
    """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
      |SELECT event_id, signup_id FROM (
      |  SELECT a.event_id, s.event_id AS signup_id,
      |    row_number() OVER (PARTITION BY a.event_id
      |      ORDER BY s.ts DESC, s.event_id DESC) AS rn
      |  FROM ev a LEFT JOIN ev s
      |    ON s.user_id = a.user_id AND s.event_type = 'signup' AND s.ts <= a.ts
      |  WHERE a.event_type <> 'signup') t
      |WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Tolerance for q124: 7 days in microseconds (the time columns are
    * micros-backed timestamps). */
  val Q124TolUs: Long = 7L * 24 * 3600 * 1000000L

  /** q124: q114's forward match bounded by a 7-day tolerance window and
    * kept LEFT-OUTER — "next touch within a week of purchase, keep the
    * order either way". Grades tolerance and null-emission together:
    * an order whose customer's next event is later than 7 days out gets
    * a null, same as one with no event at all. */
  def q124AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = graft.Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        $"o_orderdate".cast(org.apache.spark.sql.types.TimestampNTZType)
          .as("o_orderdate"))
    val ev = graft.Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
    join(ord, ev,
        leftKeys = Seq("o_custkey"), rightKeys = Seq("user_id"),
        leftTimeCol = "o_orderdate", rightTimeCol = "ts",
        tieBreak = Seq("event_id"), direction = "forward",
        joinType = "left_outer", tolerance = Some(Q124TolUs))
      .select($"o_orderkey", $"event_id")
      .orderBy($"o_orderkey")
  }

  val q124Sql: String =
    """SELECT o_orderkey, event_id FROM (
      |  SELECT o.o_orderkey, e.event_id,
      |    row_number() OVER (PARTITION BY o.o_orderkey
      |      ORDER BY e.ts ASC, e.event_id ASC) AS rn
      |  FROM orders o LEFT JOIN events e
      |    ON e.user_id = o.o_custkey
      |      AND CAST(e.ts AS TIMESTAMP) >= CAST(o.o_orderdate AS TIMESTAMP)
      |      AND CAST(e.ts AS TIMESTAMP) <= CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL 7 DAY) t
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** q126: the SQL FRONT DOOR to the as-of operator — the join itself is
    * SQL TEXT through the `graft_asof` table function (q125's completion
    * for the whole-operator tier): q113's attribution shape, so the
    * text path is hash-graded against the same window-SQL oracle that
    * grades the Scala path. Default knobs (backward, inner) exercised
    * deliberately — the TVF's optional-argument tail is the contract
    * under test; q128 grades the fully-specified tail. */
  def q126AsofSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftTableFunctions.register(s)
    val ev = graft.Tables.events(s, dir)
    ev.filter($"event_type" =!= "signup")
      .select($"event_id", $"user_id", $"ts")
      .createOrReplaceTempView("graft_q126_actions")
    ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"user_id".as("su"), $"ts".as("su_ts"))
      .createOrReplaceTempView("graft_q126_signups")
    s.sql(
      """SELECT event_id, signup_id
        |FROM graft_asof('graft_q126_actions', 'graft_q126_signups',
        |                'user_id', 'su', 'ts', 'su_ts', 'signup_id')
        |ORDER BY event_id""".stripMargin)
  }

  /** q128: the front door with every knob spelled out in the text —
    * q124's forward + left_outer + 7-day tolerance shape through
    * `graft_asof`, so direction/joinType/tolerance all flow from SQL
    * literals into the exec and are hash-graded against q124's oracle. */
  def q128AsofSqlKnobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftTableFunctions.register(s)
    graft.Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        $"o_orderdate".cast(org.apache.spark.sql.types.TimestampNTZType)
          .as("o_orderdate"))
      .createOrReplaceTempView("graft_q128_orders")
    graft.Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
      .createOrReplaceTempView("graft_q128_events")
    s.sql(
      s"""SELECT o_orderkey, event_id
         |FROM graft_asof('graft_q128_orders', 'graft_q128_events',
         |                'o_custkey', 'user_id', 'o_orderdate', 'ts',
         |                'event_id', 'forward', 'left_outer', $Q124TolUs)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** q143: time-series resampling with forward-fill — each user's
    * event stream re-sampled onto an hourly grid carrying the LAST
    * value known at each grid point (null before the first event).
    * The grid is `sequence(h0, h1, 1 hour)` per user (both engines'
    * series are end-inclusive), events are pre-deduplicated per
    * (user, ts) so the as-of match is unique without a tie-break, and
    * the fill itself IS the custom operator: one backward left-outer
    * `AsOfJoinExec` of grid against events. The DuckDB oracle uses
    * DuckDB's own native `ASOF LEFT JOIN` — the one catalog entry
    * where both engines run their first-class as-of operator and must
    * agree row-for-row.
    *
    * Scale shape: grid rows = users × span-hours (generated, never
    * shuffled wide), and the as-of merge is the O(1)-state
    * co-clustered pass — the resample never materializes a
    * grid × events product. */
  def q143ResampleFfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.{date_trunc, explode, expr, max, min, round, sequence}
    val base = graft.Tables.events(s, dir).filter($"user_id" < 20)
    // both time columns normalized to TimestampType explicitly — the
    // operator requires exact time-type equality (events `ts` is NTZ,
    // `sequence` emits LTZ; under the UTC session they are the same
    // wall clock)
    val ev = base.groupBy($"user_id", $"ts").agg(max($"value").as("v"))
      .select($"user_id".as("eu"), $"ts".cast("timestamp").as("ets"), $"v")
    val grid = base.groupBy($"user_id")
      .agg(date_trunc("hour", min($"ts")).as("h0"),
        date_trunc("hour", max($"ts")).as("h1"))
      .select($"user_id",
        explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("h0h"))
      .select($"user_id", $"h0h".cast("timestamp").as("h"))
    join(grid, ev,
        leftKeys = Seq("user_id"), rightKeys = Seq("eu"),
        leftTimeCol = "h", rightTimeCol = "ets",
        joinType = "left_outer")
      .select($"user_id", $"h".as("hour"), round($"v", 2).as("last_value"))
      .orderBy($"user_id", $"hour")
  }

  val q143Sql: String =
    """WITH ev0 AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE user_id < 20),
      |ev AS (SELECT user_id, ts, max(value) AS v FROM ev0 GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
      |         date_trunc('hour', max(ts)) AS h1
      |  FROM ev0 GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM spans)
      |SELECT g.user_id, g.h AS hour, round(e.v, 2) AS last_value
      |FROM grid g ASOF LEFT JOIN ev e
      |  ON g.user_id = e.user_id AND g.h >= e.ts
      |ORDER BY g.user_id, hour""".stripMargin

  /** q183: as-of NEAREST — the remaining merge_asof direction: match
    * each action to its user's temporally CLOSEST signup, before or
    * after. Composed from the native operator's two directional passes
    * (backward and forward, both left-outer so either side may be
    * absent) and one integer-µs comparison per row: nearest = the
    * smaller absolute gap, ties to the backward match (the pandas
    * convention). Each pass keeps the operator's O(1)-state merge —
    * composing two passes costs 2× the as-of scan, never a left×history
    * fan-out — and the pick is a narrow projection.
    *
    * Tie rules are inherited per direction (backward: latest ts then
    * highest id; forward: earliest ts then lowest id) and restated in
    * the oracle's two window CTEs. `dir` says which side won
    * ('backward'/'forward'/'none'), `gap_us` is the exact µs distance. */
  def q183AsofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{lit, unix_micros, when}
    val ev = graft.Tables.events(s, dir)
    val actions = ev.filter($"event_type" =!= "signup")
      .select($"event_id", $"user_id", $"ts")
    def signups(pfx: String) = ev.filter($"event_type" === "signup")
      .select($"event_id".as(s"${pfx}_id"), $"user_id".as(s"${pfx}_u"),
        $"ts".as(s"${pfx}_ts"))
    val back = join(actions, signups("b"),
        leftKeys = Seq("user_id"), rightKeys = Seq("b_u"),
        leftTimeCol = "ts", rightTimeCol = "b_ts",
        tieBreak = Seq("b_id"), joinType = "left_outer")
      .select($"event_id", $"ts", $"b_id", $"b_ts")
    val fwd = join(actions.select($"event_id".as("f_event"), $"user_id", $"ts".as("f_ats")),
        signups("f"),
        leftKeys = Seq("user_id"), rightKeys = Seq("f_u"),
        leftTimeCol = "f_ats", rightTimeCol = "f_ts",
        tieBreak = Seq("f_id"), direction = "forward", joinType = "left_outer")
      .select($"f_event", $"f_id", $"f_ts")
    val us = (c: Column) => unix_micros(c.cast("timestamp"))
    back.join(fwd, $"event_id" === $"f_event")
      .withColumn("bg", us($"ts") - us($"b_ts"))
      .withColumn("fg", us($"f_ts") - us($"ts"))
      .select($"event_id",
        when($"b_id".isNull && $"f_id".isNull, lit("none"))
          .when($"f_id".isNull || ($"b_id".isNotNull && $"bg" <= $"fg"), lit("backward"))
          .otherwise(lit("forward")).as("dir"),
        when($"f_id".isNull || ($"b_id".isNotNull && $"bg" <= $"fg"), $"b_id")
          .otherwise($"f_id").as("nearest_signup"),
        when($"b_id".isNull && $"f_id".isNull, lit(null))
          .when($"f_id".isNull || ($"b_id".isNotNull && $"bg" <= $"fg"), $"bg")
          .otherwise($"fg").as("gap_us"))
      .orderBy($"event_id")
  }

  val q183Sql: String =
    """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |a AS (SELECT event_id, user_id, ts FROM ev WHERE event_type <> 'signup'),
      |s AS (SELECT event_id AS sid, user_id, ts AS sts FROM ev WHERE event_type = 'signup'),
      |b AS (
      |  SELECT event_id, sid AS b_id, sts AS b_ts FROM (
      |    SELECT a.event_id, s.sid, s.sts,
      |      row_number() OVER (PARTITION BY a.event_id
      |        ORDER BY s.sts DESC, s.sid DESC) AS rn
      |    FROM a JOIN s ON s.user_id = a.user_id AND s.sts <= a.ts) t
      |  WHERE rn = 1),
      |f AS (
      |  SELECT event_id, sid AS f_id, sts AS f_ts FROM (
      |    SELECT a.event_id, s.sid, s.sts,
      |      row_number() OVER (PARTITION BY a.event_id
      |        ORDER BY s.sts ASC, s.sid ASC) AS rn
      |    FROM a JOIN s ON s.user_id = a.user_id AND s.sts >= a.ts) t
      |  WHERE rn = 1),
      |j AS (
      |  SELECT a.event_id, a.ts, b.b_id, b.b_ts, f.f_id, f.f_ts,
      |    epoch_us(a.ts) - epoch_us(b.b_ts) AS bg,
      |    epoch_us(f.f_ts) - epoch_us(a.ts) AS fg
      |  FROM a LEFT JOIN b ON b.event_id = a.event_id
      |         LEFT JOIN f ON f.event_id = a.event_id)
      |SELECT event_id,
      |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN 'none'
      |       WHEN f_id IS NULL OR (b_id IS NOT NULL AND bg <= fg) THEN 'backward'
      |       ELSE 'forward' END AS dir,
      |  CASE WHEN f_id IS NULL OR (b_id IS NOT NULL AND bg <= fg) THEN b_id
      |       ELSE f_id END AS nearest_signup,
      |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
      |       WHEN f_id IS NULL OR (b_id IS NOT NULL AND bg <= fg) THEN bg
      |       ELSE fg END AS gap_us
      |FROM j ORDER BY event_id""".stripMargin

  /** q187: time-series resample with LINEAR interpolation — the other
    * half of q143's forward-fill: each hourly grid point takes the
    * straight-line value between its surrounding observations,
    * `p + (n − p)·(h − tₚ)/(tₙ − tₚ)`. Composed like q183 from the two
    * native directional as-of passes (backward = previous observation,
    * forward = next), so the grid never fans out against history.
    *
    * Edge rules in the query text, identical in the oracle: before the
    * first observation → next value; after the last → previous value;
    * grid point exactly ON an observation → that value (and the
    * degenerate tₙ = tₚ division is thereby never taken). Determinism:
    * the lerp is the SAME expression tree on both sides — one integer-µs
    * ratio, one multiply, one add, rounded once at the end — so the
    * doubles are bit-identical. The oracle runs DuckDB's native ASOF
    * twice (>= and <=), its first-class operator against this one. */
  def q187LerpResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.{date_trunc, explode, expr, max, min, round, sequence, unix_micros, when}
    val base = graft.Tables.events(s, dir).filter($"user_id" < 20)
    val ev = base.groupBy($"user_id", $"ts").agg(max($"value").as("v"))
      .select($"user_id".as("eu"), $"ts".cast("timestamp").as("ets"), $"v")
    def grid(hCol: String, uCol: String) = base.groupBy($"user_id")
      .agg(date_trunc("hour", min($"ts")).as("h0"),
        date_trunc("hour", max($"ts")).as("h1"))
      .select($"user_id".as(uCol),
        explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("h0h"))
      .select(org.apache.spark.sql.functions.col(uCol), $"h0h".cast("timestamp").as(hCol))
    val prev = join(grid("h", "user_id"), ev,
        leftKeys = Seq("user_id"), rightKeys = Seq("eu"),
        leftTimeCol = "h", rightTimeCol = "ets", joinType = "left_outer")
      .select($"user_id", $"h", $"ets".as("p_ts"), $"v".as("p_v"))
    val nxt = join(grid("nh", "nu"),
        ev.select($"eu".as("neu"), $"ets".as("nets"), $"v".as("nv")),
        leftKeys = Seq("nu"), rightKeys = Seq("neu"),
        leftTimeCol = "nh", rightTimeCol = "nets",
        direction = "forward", joinType = "left_outer")
      .select($"nu", $"nh", $"nets".as("n_ts"), $"nv".as("n_v"))
    prev.join(nxt, $"user_id" === $"nu" && $"h" === $"nh")
      .select($"user_id", $"h".as("hour"),
        round(
          when($"p_ts".isNull, $"n_v")
            .when($"n_ts".isNull, $"p_v")
            .when($"n_ts" === $"p_ts", $"p_v")
            .otherwise($"p_v" + ($"n_v" - $"p_v") *
              ((unix_micros($"h") - unix_micros($"p_ts")).cast("double") /
               (unix_micros($"n_ts") - unix_micros($"p_ts")).cast("double"))),
          4).as("lerp_value"))
      .orderBy($"user_id", $"hour")
  }

  val q187Sql: String =
    """WITH ev0 AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE user_id < 20),
      |ev AS (SELECT user_id, ts, max(value) AS v FROM ev0 GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
      |         date_trunc('hour', max(ts)) AS h1
      |  FROM ev0 GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM spans),
      |p AS (
      |  SELECT g.user_id, g.h, e.ts AS p_ts, e.v AS p_v
      |  FROM grid g ASOF LEFT JOIN ev e
      |    ON g.user_id = e.user_id AND g.h >= e.ts),
      |n AS (
      |  SELECT g.user_id, g.h, e.ts AS n_ts, e.v AS n_v
      |  FROM grid g ASOF LEFT JOIN ev e
      |    ON g.user_id = e.user_id AND g.h <= e.ts)
      |SELECT p.user_id, p.h AS hour,
      |  round(CASE WHEN p_ts IS NULL THEN n_v
      |             WHEN n_ts IS NULL THEN p_v
      |             WHEN n_ts = p_ts THEN p_v
      |             ELSE p_v + (n_v - p_v) *
      |               (CAST(epoch_us(p.h) - epoch_us(p_ts) AS DOUBLE)
      |                / CAST(epoch_us(n_ts) - epoch_us(p_ts) AS DOUBLE))
      |        END, 4) AS lerp_value
      |FROM p JOIN n ON n.user_id = p.user_id AND n.h = p.h
      |ORDER BY p.user_id, hour""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_lerp_resample"    -> (q187LerpResample _),
    "q183_asof_nearest"     -> (q183AsofNearest _),
    "q113_asof_attribution" -> (q113AsofAttribution _),
    "q114_asof_forward"     -> (q114AsofForward _),
    "q123_asof_outer"       -> (q123AsofOuter _),
    "q124_asof_tolerance"   -> (q124AsofTolerance _),
    "q126_asof_sql"         -> (q126AsofSql _),
    "q128_asof_sql_knobs"   -> (q128AsofSqlKnobs _),
    "q143_resample_ffill"   -> (q143ResampleFfill _))
  val oracle: Map[String, String] = Map(
    "q187_lerp_resample"    -> q187Sql,
    "q183_asof_nearest"     -> q183Sql,
    "q113_asof_attribution" -> q113Sql,
    "q114_asof_forward"     -> q114Sql,
    "q123_asof_outer"       -> q123Sql,
    "q124_asof_tolerance"   -> q124Sql,
    "q126_asof_sql"         -> q113Sql,
    "q128_asof_sql_knobs"   -> q124Sql,
    "q143_resample_ffill"   -> q143Sql)
}
