package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Scale-mechanism checks: stream-stream interval join state bounds and
  * bucketed shuffle-free joins — the 100 TB design claims, verified on
  * small data by inspecting plans and results. */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream-stream interval join matches follow-ups within the hour only") {
    implicit val sqlCtx = spark.sqlContext
    val suMem = MemoryStream[(Timestamp, Long)]
    val evMem = MemoryStream[(Timestamp, Long, String)]
    val signups = suMem.toDS().toDF("ts", "user_id")
    val events = evMem.toDS().toDF("ts", "user_id", "event_type")
    val joined = Streams.signupFollowupJoin(signups, events, "0 seconds")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      suMem.addData((ts("2026-01-01 10:00:00"), 1L), (ts("2026-01-01 10:00:00"), 2L))
      evMem.addData(
        (ts("2026-01-01 10:30:00"), 1L, "click"),   // in window
        (ts("2026-01-01 11:30:00"), 1L, "click"),   // past 1 hour
        (ts("2026-01-01 09:30:00"), 1L, "click"),   // before signup
        (ts("2026-01-01 10:15:00"), 3L, "click"))   // other user
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      assert(rows.length == 1, s"expected 1 joined row, got ${rows.length}")
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(rows.head.getAs[Timestamp]("ts") == ts("2026-01-01 10:30:00"))
    } finally q.stop()
  }

  test("left-outer stream-stream join: orphans emit NULLs only after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val suMem = MemoryStream[(Timestamp, Long)]
    val evMem = MemoryStream[(Timestamp, Long, String)]
    val signups = suMem.toDS().toDF("ts", "user_id")
    val events = evMem.toDS().toDF("ts", "user_id", "event_type")
    val joined = Streams.signupFollowupLeftOuter(signups, events, "0 seconds")
    val q = joined.writeStream.format("memory").queryName("ssj_outer_out")
      .outputMode("append").start()
    try {
      suMem.addData((ts("2026-01-01 10:00:00"), 1L))
      evMem.addData(
        (ts("2026-01-01 10:30:00"), 1L, "click"),  // matched
        (ts("2026-01-01 10:30:00"), 2L, "click"))  // orphan (no signup)
      q.processAllAvailable()
      val early = spark.table("ssj_outer_out").collect()
      // the match emits eagerly; the orphan must NOT — a late signup
      // for user 2 could still arrive inside the join window
      assert(early.length == 1 && early.head.getAs[Long]("user_id") == 1L,
        s"pre-watermark rows: ${early.toSeq}")
      // advance the watermark on BOTH inputs past the orphan's window
      suMem.addData((ts("2026-01-01 13:00:00"), 9L))
      evMem.addData((ts("2026-01-01 13:00:00"), 9L, "click"))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("ssj_outer_out").collect()
      val orphan = rows.filter(_.getAs[Long]("user_id") == 2L)
      assert(orphan.length == 1, s"orphan rows after watermark: ${rows.toSeq}")
      assert(orphan.head.isNullAt(orphan.head.fieldIndex("su_user")),
        "orphan must carry NULL signup columns")
    } finally q.stop()
  }

  test("right-outer stream-stream join: unanswered signups emit NULLs only after their hour closes") {
    implicit val sqlCtx = spark.sqlContext
    val suMem = MemoryStream[(Timestamp, Long)]
    val evMem = MemoryStream[(Timestamp, Long, String)]
    val signups = suMem.toDS().toDF("ts", "user_id")
    val events = evMem.toDS().toDF("ts", "user_id", "event_type")
    val joined = Streams.signupFollowupOuter(signups, events, "0 seconds", "rightOuter")
    val q = joined.writeStream.format("memory").queryName("ssj_right_out")
      .outputMode("append").start()
    try {
      suMem.addData(
        (ts("2026-01-01 10:00:00"), 1L),   // will be answered
        (ts("2026-01-01 10:00:00"), 2L))   // never answered
      evMem.addData((ts("2026-01-01 10:30:00"), 1L, "click"))
      q.processAllAvailable()
      val early = spark.table("ssj_right_out").collect()
      // match emits eagerly; the unanswered signup must NOT — its
      // 1-hour follow-up window is still open at watermark 10:30
      assert(early.length == 1 && early.head.getAs[Long]("su_user") == 1L,
        s"pre-watermark rows: ${early.toSeq}")
      // advance both watermarks past 11:00 (end of user 2's window)
      suMem.addData((ts("2026-01-01 13:00:00"), 9L))
      evMem.addData((ts("2026-01-01 13:00:00"), 9L, "click"))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("ssj_right_out").collect()
      val orphan = rows.filter(r => !r.isNullAt(r.fieldIndex("su_user")) &&
        r.getAs[Long]("su_user") == 2L)
      assert(orphan.length == 1, s"signup-orphan rows after watermark: ${rows.toSeq}")
      assert(orphan.head.isNullAt(orphan.head.fieldIndex("user_id")),
        "unanswered signup must carry NULL event columns")
    } finally q.stop()
  }

  test("full-outer stream-stream join: both orphan sides emit NULLs, each on its own watermark clock") {
    implicit val sqlCtx = spark.sqlContext
    val suMem = MemoryStream[(Timestamp, Long)]
    val evMem = MemoryStream[(Timestamp, Long, String)]
    val signups = suMem.toDS().toDF("ts", "user_id")
    val events = evMem.toDS().toDF("ts", "user_id", "event_type")
    val joined = Streams.signupFollowupOuter(signups, events, "0 seconds", "fullOuter")
    val q = joined.writeStream.format("memory").queryName("ssj_full_out")
      .outputMode("append").start()
    try {
      suMem.addData(
        (ts("2026-01-01 10:00:00"), 1L),   // answered
        (ts("2026-01-01 10:00:00"), 2L))   // signup-side orphan
      evMem.addData(
        (ts("2026-01-01 10:30:00"), 1L, "click"),   // the answer
        (ts("2026-01-01 10:30:00"), 3L, "click"))   // event-side orphan
      q.processAllAvailable()
      val early = spark.table("ssj_full_out").collect()
      assert(early.length == 1 && early.head.getAs[Long]("su_user") == 1L,
        s"pre-watermark rows: ${early.toSeq}")
      suMem.addData((ts("2026-01-01 13:00:00"), 9L))
      evMem.addData((ts("2026-01-01 13:00:00"), 9L, "click"))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("ssj_full_out").collect()
      val suOrphan = rows.filter(r => !r.isNullAt(r.fieldIndex("su_user")) &&
        r.getAs[Long]("su_user") == 2L)
      val evOrphan = rows.filter(r => !r.isNullAt(r.fieldIndex("user_id")) &&
        r.getAs[Long]("user_id") == 3L)
      assert(suOrphan.length == 1 && suOrphan.head.isNullAt(
        suOrphan.head.fieldIndex("user_id")),
        s"signup orphan wrong: ${rows.toSeq}")
      assert(evOrphan.length == 1 && evOrphan.head.isNullAt(
        evOrphan.head.fieldIndex("su_user")),
        s"event orphan wrong: ${rows.toSeq}")
    } finally q.stop()
  }

  test("outer-join watermark delay keeps the orphan door open for tolerably-late matches") {
    // the TemporalJoin-knob interaction (VERDICT r11 item 6): a NONZERO
    // watermark delay D is the interval join's lateness tolerance — a
    // match arriving out-of-order but within D must still join, and the
    // orphan NULL row must NOT have been emitted in the meantime. Same
    // contract as TemporalJoin's watermarkDelay/tolerance pair: the
    // delay changes WHEN eviction finalizes, never WHAT matches.
    implicit val sqlCtx = spark.sqlContext
    val suMem = MemoryStream[(Timestamp, Long)]
    val evMem = MemoryStream[(Timestamp, Long, String)]
    val signups = suMem.toDS().toDF("ts", "user_id")
    val events = evMem.toDS().toDF("ts", "user_id", "event_type")
    val joined = Streams.signupFollowupOuter(signups, events, "30 minutes", "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ssj_late_out")
      .outputMode("append").start()
    try {
      // batch 1: a follow-up with NO signup yet; max event time 10:45
      // -> watermark 10:15, so a signup as old as 10:15 is still legal
      suMem.addData((ts("2026-01-01 10:45:00"), 8L))
      evMem.addData((ts("2026-01-01 10:30:00"), 2L, "click"))
      q.processAllAvailable()
      assert(spark.table("ssj_late_out").isEmpty,
        "orphan emitted while a tolerably-late signup could still arrive")
      // batch 2: the LATE signup (su_ts 10:20 < max seen 10:45, but
      // above the 10:15 watermark) — must match, not orphan
      suMem.addData((ts("2026-01-01 10:20:00"), 2L))
      q.processAllAvailable()
      // close everything
      suMem.addData((ts("2026-01-01 14:00:00"), 9L))
      evMem.addData((ts("2026-01-01 14:00:00"), 9L, "click"))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("ssj_late_out").collect()
        .filter(r => r.getAs[Long]("user_id") == 2L)
      assert(rows.length == 1, s"user-2 rows: ${rows.toSeq}")
      assert(!rows.head.isNullAt(rows.head.fieldIndex("su_user")),
        "the tolerably-late signup must have joined, not orphaned")
    } finally q.stop()
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    val o = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val l = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/ob").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/lb").saveAsTable("lineitem_b")
    val savedBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable auto-broadcast so the join would otherwise shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("lineitem_b")
        .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"l_quantity").as("q"))
      val plan = j.queryExecution.executedPlan.toString
      // bucketed co-partitioning: no Exchange below the join
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected sort-merge join:\n$plan")
      val below = plan.substring(joinIdx)
      assert(!below.contains("Exchange hashpartitioning(l_orderkey"),
        s"join still shuffles its inputs:\n$plan")
      // results match the unbucketed join
      val expected = l.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"l_quantity").as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = j.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == expected)
    } finally {
      savedBroadcast match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("TopKPerGroup falls back to external sort past the group-cardinality cap") {
    import graft.plans.TopK
    // every customer is its own group -> high cardinality relative to a
    // tiny cap, so every partition overflows into the sort path
    val o = Tables.orders(spark, sf)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    def run(): Set[(Long, Long)] =
      TopK.perGroup(o, Seq("o_custkey"),
          Seq(TopK.Ord("o_totalprice", asc = false), TopK.Ord("o_orderkey")), 2)
        .select($"o_custkey", $"o_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = run()
    spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "8")
    try {
      val spilled = run()
      assert(spilled == fast, "sort-fallback path must produce the heap path's rows")
      // and both match the window formulation
      val win = o.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"o_custkey")
            .orderBy($"o_totalprice".desc, $"o_orderkey")))
        .filter($"rn" <= 2)
        .select($"o_custkey", $"o_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spilled == win)
    } finally spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // One hot key holds ~83% of the left side — the shape that strands a
    // 100 TB join on one straggler task. With the skew thresholds scaled
    // down to this fixture's size (the ratios, not the mechanism, are
    // what's tuned), AQE must re-plan the SMJ with skew=true splits and
    // still produce exactly the unsplit join's result.
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 120000).select(
        when($"id" < 100000, lit(7L)).otherwise(pmod($"id", lit(100)) + 50).as("k"),
        $"id".as("lv"))
      val right = spark.range(0, 200).select($"id".as("rk"), ($"id" * 2).as("rv"))
      val j = left.join(right, $"k" === $"rk")
      // execute THIS dataset (count() would plan its own agg tree and
      // leave j's adaptive plan unfinalized)
      val n = j.collect().length
      assert(n == 120000, s"expected every left row matched once, got $n")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition for skew split:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
