package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // a literal 4, not Sessions.cores: job counts and partitioning in the
  // specs must not depend on the box
  lazy val spark: SparkSession = Sessions.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Every declared query returns rows at sf0.001, plus semantic
  * invariants for the non-obvious operators. */
class RelationalSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  // Smoke: every declared operator runs and returns rows.
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q15 top1: exactly one row per customer with orders") {
    import org.apache.spark.sql.functions._
    val df = relational.Breadth.q15Top1PerGroup(spark, sf)
    val nCust = Tables.orders(spark, sf).select(countDistinct(col("o_custkey")))
      .head().getLong(0)
    assert(df.count() == nCust)
    assert(df.select("o_custkey").distinct().count() == nCust)
  }

  test("q21 as-of: matched order precedes or equals event time") {
    import org.apache.spark.sql.functions._
    val matched = relational.Breadth.q21AsOfJoin(spark, sf)
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    val ord = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderdate"))
    val bad = matched.join(ev, "event_id").join(ord, "o_orderkey")
      .filter(col("o_orderdate") > col("ts")).count()
    assert(bad == 0, s"$bad as-of matches violate o_orderdate <= ts")
  }

  test("q139 quantile sketch: estimates in-band, quantiles ordered") {
    val rows = relational.Stats.q139QuantileSketch(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("sketch_ok_p50") && r.getAs[Boolean]("sketch_ok_p95"),
        s"${r.getString(0)}: sketch out of band")
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p95"),
        s"${r.getString(0)}: p50 > p95")
    }
  }

  test("q140 pagerank: probability mass conserved, ranks dense, scores positive") {
    val rows = relational.Graph.q140PageRank(spark, sf).collect()
    val n = Tables.nation(spark, sf).count().toInt
    assert(rows.length == n)
    assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to n))
    assert(rows.forall(_.getDouble(1) > 0.0))
    // dangling-mass redistribution makes each iteration conserve total
    // mass: 0.15 + 0.85·Σr = 1 (up to the decimal-sum rounding)
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-5, s"rank mass $mass drifted from 1")
  }

  test("q141 cohort retention: k=0 is always 1.0 and retention never exceeds it") {
    val rows = relational.Events.q141CohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getDate(0).toString)
    byCohort.foreach { case (cw, rs) =>
      val k0 = rs.find(_.getInt(1) == 0)
      assert(k0.isDefined, s"cohort $cw missing k=0")
      assert(k0.get.getDouble(3) == 1.0, s"cohort $cw k=0 retention != 1")
      rs.foreach(r => assert(r.getDouble(3) <= 1.0 && r.getDouble(3) > 0.0))
    }
  }

  test("q142 funnel: stage counts are monotone and ordered in time") {
    val rows = relational.Events.q142EventFunnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(v >= c && c >= p, s"${r.getString(0)}: funnel not monotone ($v,$c,$p)")
    }
    // the ordering constraint is real: a click BEFORE the first view
    // must not count. Synthetic: user 1 clicks at t=1, views at t=2.
    import spark.implicits._
    import org.apache.spark.sql.functions.min
    val e = Seq((1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      (1L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:00:02")))
      .toDF("user_id", "event_type", "ts")
    val v1 = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c1 = e.filter($"event_type" === "click").join(v1, "user_id")
      .filter($"ts" > $"t1")
    assert(c1.count() == 0, "pre-view click leaked into the funnel")
  }

  test("q144 spike flag is the integer predicate, and a synthetic burst trips it") {
    val rows = relational.Events.q144SpikeDetect(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s24, n24, spike) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
      assert(spike == (n24 >= 12 && n * n24 > s24 * 2),
        s"${r.getString(0)} @ ${r.getTimestamp(1)}: flag inconsistent")
      assert(n24 >= 1 && s24 >= n)
    }
    // synthetic: 25 quiet hours at 1 event/hour, then a 10-event burst
    // — the burst hour must flag, the quiet hours must not
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum}
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val quiet = (0 until 25).map(h =>
      ("e", java.sql.Timestamp.from(base.plusSeconds(h * 3600L))))
    val burst = (0 until 10).map(i =>
      ("e", java.sql.Timestamp.from(base.plusSeconds(25 * 3600L + i))))
    val hourly = (quiet ++ burst).toDF("event_type", "ts")
      .groupBy($"event_type", org.apache.spark.sql.functions.date_trunc("hour", $"ts").as("hour"))
      .agg(fcount(flit(1)).as("n"))
      .withColumn("he", org.apache.spark.sql.functions.unix_timestamp($"hour"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"he").rangeBetween(-82800, 0)
    val flagged = hourly
      .withColumn("s24", fsum($"n").over(w))
      .withColumn("n24", fcount(flit(1)).over(w))
      .withColumn("spike", $"n24" >= 12 && $"n" * $"n24" > $"s24" * 2)
      .collect().map(r => r.getAs[java.sql.Timestamp]("hour").getTime ->
        r.getAs[Boolean]("spike")).toMap
    val burstHour = base.plusSeconds(25 * 3600L).toEpochMilli
    assert(flagged(burstHour), "burst hour must flag")
    assert(flagged.filter(_._1 != burstHour).values.forall(!_), "quiet hours must not flag")
  }

  test("q145 SCD2 intervals tile each user's timeline exactly") {
    val rows = relational.Extra3.q145Scd2Intervals(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(2).getTime)
      // exactly one open (current) version, and it is the last one
      assert(sorted.count(_.getBoolean(4)) == 1, s"user $u: current-count != 1")
      assert(sorted.last.getBoolean(4), s"user $u: current is not last")
      // each version closes exactly where the next opens; states alternate
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(3) == b.getTimestamp(2), s"user $u: gap/overlap")
          assert(a.getString(1) != b.getString(1), s"user $u: non-change version")
        case _ =>
      }
    }
  }

  test("q146 skew report: shares coherent and cumulative share monotone") {
    val rows = relational.Extra3.q146SkewReport(spark, sf).collect()
    assert(rows.length == 20)
    val cums = rows.map(_.getDouble(4))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a }, "cum not monotone")
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, "not rank-ordered")
    rows.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) <= r.getDouble(4)))
  }

  test("q213 sketch equi-depth: buckets 1..10, exact total, 5% band holds") {
    val rows = relational.Extra3.q213EquidepthSketch(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10), "a decile is missing/empty")
    val n = Tables.orders(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_total") == n, "n_total must be the exact count")
      assert(r.getAs[Boolean]("depth_ok"),
        s"decile ${r.getInt(0)} misses the 5% equi-depth band")
    }
  }

  test("q216 k-anonymity: classes partition the corpus; flags replay k<5") {
    val rows = llm.TextOps.q216KAnonymity(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("k")).sum == n, "classes must partition all docs")
    rows.foreach(r => assert(r.getAs[Boolean]("at_risk") == (r.getAs[Long]("k") < 5)))
    assert(rows.forall { r =>
      val b = r.getAs[Long]("len_band"); b >= 0 && b <= 7
    })
  }

  test("q219 KS drift: D in [0,1]; brute-force CDF sup replays the integer max") {
    val out = relational.Stats.q219KsSplitDrift(spark, sf).collect()
    assert(out.length == 1)
    val d = out(0).getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0, s"ks_d out of range: $d")
    // brute-force replay: per-doc splits, both empirical CDFs evaluated
    // at every distinct length, sup of the difference
    import org.apache.spark.sql.functions._
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    val docs = Tables.documents(spark, sf)
      .withColumn("split",
        when(bucket.isin("c", "d"), "val")
          .when(bucket.isin("e", "f"), "test")
          .otherwise("train"))
      .filter(col("split").isin("train", "val"))
      .select(col("split"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tr = docs.filter(_._1 == "train").map(_._2).sorted
    val va = docs.filter(_._1 == "val").map(_._2).sorted
    val xs = (tr ++ va).distinct
    val sup = xs.map { x =>
      math.abs(tr.count(_ <= x).toDouble / tr.length -
        va.count(_ <= x).toDouble / va.length)
    }.max
    assert(math.abs(d - sup) < 5e-7, s"engine D=$d, brute-force sup=$sup")
    assert(out(0).getAs[Long]("n_train") == tr.length &&
      out(0).getAs[Long]("n_val") == va.length)
  }

  test("q220 entropy: bounded by ln(n_sources), evenness in (0,1]") {
    val rows = llm.Corpus.q220MixtureEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val ns = r.getAs[Long]("n_sources")
      assert(h >= 0.0 && h <= math.log(ns.toDouble) + 1e-3,
        s"${r.getAs[String]("lang")}: H=$h outside [0, ln($ns)]")
      if (ns > 1) {
        val ev = r.getAs[Double]("evenness")
        assert(ev > 0.0 && ev <= 1.0 + 1e-3, s"evenness $ev")
      } else assert(r.isNullAt(r.fieldIndex("evenness")))
    }
  }

  test("q222 calibration: pooled percentiles ordered, bounded, docs conserved") {
    val rows = llm.TextOps.q222SourceCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Double]("p25_pool"),
        r.getAs[Double]("p50_pool"), r.getAs[Double]("p75_pool"))
      assert(p25 >= 0.0 && p75 <= 1.0 && p25 <= p50 && p50 <= p75,
        s"${r.getAs[String]("source")}: $p25/$p50/$p75")
      assert(r.getAs[Boolean]("low_vs_corpus") == (p50 < 0.4))
    }
  }

  test("q223 HLL rolling distinct: cumulative monotone, ends at total distinct") {
    val rows = relational.Events.q223HllRollingDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    val cums = rows.map(_.getAs[Long]("exact_cum"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a }, "not monotone")
    val total = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("user_id"))).head().getLong(0)
    assert(cums.last == total, s"final cum ${cums.last} != total distinct $total")
    assert(rows.forall(_.getAs[Boolean]("sketch_ok")),
      "a sketch estimate left the 5% band")
  }

  test("q224 dedup velocity: conservation, bucket-local rates, cumulative coherence") {
    val rows = llm.Corpus.q224DedupVelocity(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    // total dups across buckets = docs minus distinct fingerprints
    val nFp = llm.TextOps.q33Fingerprint(spark, sf)
      .select("fp").distinct().count()
    assert(rows.map(_.getAs[Long]("n_dup")).sum == n - nFp,
      "per-bucket dups must sum to (docs - distinct fingerprints)")
    rows.foreach { r =>
      assert(r.getAs[Double]("dup_rate") >= 0.0 && r.getAs[Double]("dup_rate") <= 1.0)
    }
    // the final cumulative rate is the corpus dup rate
    val last = rows.maxBy(_.getAs[Long]("bucket"))
    assert(math.abs(last.getAs[Double]("cum_dup_rate") -
      (n - nFp).toDouble / n) < 1e-3)
  }

  test("q225 vocab growth: types conserved, cumulatives monotone, Heaps-concave tail") {
    val rows = llm.Corpus.q225VocabGrowth(spark, sf).collect()
    assert(rows.nonEmpty)
    val types = rows.map(_.getAs[Long]("cum_types"))
    val occs = rows.map(_.getAs[Long]("cum_occ"))
    assert(types.zip(types.tail).forall { case (a, b) => b >= a })
    assert(occs.zip(occs.tail).forall { case (a, b) => b > a })
    // total distinct types equals the corpus vocabulary
    import org.apache.spark.sql.functions._
    val vocab = Tables.documents(spark, sf)
      .select(explode(llm.TextOps.tokens(col("text"))).as("t"))
      .distinct().count()
    assert(types.last == vocab, s"${types.last} != vocab $vocab")
  }

  test("q226 Neyman: budget conserved, quota bounds hold, weights replay") {
    val rows = relational.Extra3.q226NeymanAllocation(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("alloc")).sum == 10000L, "budget not conserved")
    // largest-remainder quota property: every alloc within 1 of its
    // exact proportional share
    val tw = rows.map(_.getAs[Long]("w")).sum.toDouble
    rows.foreach { r =>
      val exact = r.getAs[Long]("w") * 10000L / tw
      val a = r.getAs[Long]("alloc")
      assert(a >= math.floor(exact) && a <= math.ceil(exact) + 1e-9,
        s"${r.getAs[String]("event_type")}: alloc $a vs quota $exact")
    }
    // weight replay: w = round(sqrt(n*sx2 - sx^2)) on cent-scaled values
    import org.apache.spark.sql.functions._
    val st = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("xc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("sx"),
        sum(col("xc") * col("xc")).as("sx2"))
      .collect().map(r => r.getString(0) ->
        math.round(math.sqrt((r.getLong(1) * r.getLong(3) -
          r.getLong(2) * r.getLong(2)).toDouble))).toMap
    rows.foreach(r => assert(r.getAs[Long]("w") ==
      st(r.getAs[String]("event_type"))))
  }

  test("q149 PIT lookup: as-of result equals interval containment, totals conserved") {
    val out = relational.Extra3.q149PitLookup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nPurchases = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count()
    assert(out.size == nPurchases, "every purchase must enrich exactly once")
    // driver-side containment recompute over the versions
    val versions = relational.Extra3.q145Scd2Intervals(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        Option(r.getTimestamp(3)).map(_.getTime)))
    val purchases = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime))
    purchases.take(200).foreach { case (eid, u, t) =>
      val contained = versions.filter(v =>
        v._1 == u && v._3 <= t && v._4.forall(t < _)).map(_._2)
      assert(contained.length == 1 && out(eid) == contained.head,
        s"event $eid: asof=${out(eid)} containment=${contained.mkString(",")}")
    }
  }

  test("q06 outer join keeps every customer") {
    val n = Tables.customer(spark, sf).count()
    assert(relational.Core.q06OuterJoin(spark, sf).count() == n)
  }

  test("q05 anti + semi partition customers for the same predicate") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sf)
    val open = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "O").select("o_custkey")
    val semi = cust.join(open, cust("c_custkey") === open("o_custkey"), "left_semi").count()
    val anti = cust.join(open, cust("c_custkey") === open("o_custkey"), "left_anti").count()
    assert(semi + anti == cust.count())
  }

  test("q151 heavy hitters: sketch contract holds and ranks are a permutation") {
    import org.apache.spark.sql.functions._
    val out = relational.Stats.q151HeavyHitters(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(out.map(_.getAs[Int]("rk")).toSeq == (1 to out.length))
    assert(out.forall(_.getAs[Boolean]("cms_ok")),
      "count-min estimate left its [true, true + eps*N] band")
    // counts non-increasing with rank
    val ns = out.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("q153 hopping windows: every event lands in exactly duration/slide windows") {
    import org.apache.spark.sql.functions._
    val out = relational.Events.q153HoppingWindow(spark, sf)
    val windowedRows = out.agg(sum(col("n"))).head().getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(windowedRows == 4 * events,
      s"2h/30min hop must fan each event to 4 windows: $windowedRows vs 4*$events")
  }

  test("q154 CDC apply: row conservation — base - deletes + inserts") {
    import org.apache.spark.sql.functions._
    val out = relational.Extra3.q154CdcApply(spark, sf)
    val merged = out.agg(sum(col("n_rows"))).head().getLong(0)
    val base = Tables.orders(spark, sf).count()
    // independent recount of latest-op deletes (keys are all in base here)
    // via struct-max under the SAME total order the merge uses:
    // (seq DESC, op ASC, price DESC) == max of (seq, isDelete, price).
    val li = Tables.lineitem(spark, sf)
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .groupBy(col("l_orderkey"))
      .agg(max(struct(col("l_linenumber"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("isdel"),
        col("l_extendedprice"))).as("w"))
    val deletes = li.filter(col("w.isdel") === 1).count()
    assert(merged == base - deletes,
      s"merged $merged != base $base - latest-deletes $deletes")
  }

  test("q163 constraint audit: clean corpus audits clean, violations are countable") {
    import org.apache.spark.sql.functions._
    val out = relational.Stats.q163ConstraintAudit(spark, sf).collect()
      .map(r => r.getAs[String]("constraint_name") -> r.getAs[Long]("violations")).toMap
    assert(out.size == 5)
    // this corpus satisfies PK/FK/domain constraints — the audit must agree
    assert(out("pk_orders_unique") == 0 && out("fk_orders_customer") == 0 &&
      out("fk_lineitem_orders") == 0 && out("check_lineitem_domain") == 0)
    // and the childless-parent count matches an independent recount
    val childless = Tables.orders(spark, sf).select(col("o_orderkey"))
      .except(Tables.lineitem(spark, sf).select(col("l_orderkey"))).count()
    assert(out("orders_have_lines") == childless)
  }

  test("q160 quality band keeps ~80% per language and orders its bounds") {
    val out = llm.TextOps.q160QualityBand(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, kept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(kept < n, "band must trim both tails")
      // percent_rank band [0.1, 0.9] keeps ~80%, discretization slack
      assert(kept.toDouble / n > 0.6 && kept.toDouble / n <= 0.92,
        s"kept $kept of $n is far from the 80% band")
      assert(r.getAs[Double]("band_lo") <= r.getAs[Double]("band_hi"))
    }
  }

  test("q162 path mining: trigrams are 3-step paths from the event-type alphabet") {
    val out = relational.Events.q162PathMining(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val types = Tables.events(spark, sf).select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    out.foreach { r =>
      val steps = r.getAs[String]("trigram").split(" ")
      assert(steps.length == 3, s"not a trigram: ${r.getAs[String]("trigram")}")
      assert(steps.forall(types.contains), "steps must be real event types")
    }
    val ns = out.map(_.getAs[Long]("n_sessions")).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("q158 column profile: stats are internally consistent per column") {
    val out = relational.Stats.q158ColumnStats(spark, sf).collect()
    assert(out.length == 5)
    val n = out.head.getAs[Long]("n")
    out.foreach { r =>
      assert(r.getAs[Long]("n") == n, "row count is a table property")
      assert(r.getAs[Long]("n_nulls") == 0, "these lineitem columns are non-null")
      val ndv = r.getAs[Long]("ndv")
      assert(ndv >= 1 && ndv <= n, s"${r.getAs[String]("col_name")}: ndv $ndv out of range")
      assert(r.getAs[String]("min_s") != null && r.getAs[String]("max_s") != null)
    }
    // sanity against an independent recount for one column
    val dq = Tables.lineitem(spark, sf).select("l_quantity").distinct().count()
    assert(out.find(_.getAs[String]("col_name") == "l_quantity").get.getAs[Long]("ndv") == dq)
  }

  test("q172 mode: the picked value really is a maximal-count value") {
    import org.apache.spark.sql.functions._
    val out = relational.Stats.q172ModePerGroup(spark, sf).collect()
    assert(out.nonEmpty)
    val counts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val flag = r.getString(0)
      val maxC = counts(flag).map(_.getLong(2)).max
      assert(r.getAs[Long]("mode_n") == maxC, s"$flag: not a maximal count")
    }
  }

  test("q173 window-distinct equivalence: max(dense_rank) == countDistinct") {
    import org.apache.spark.sql.functions._
    val out = relational.Stats.q173WindowDistinct(spark, sf).collect()
    assert(out.nonEmpty)
    val direct = Tables.orders(spark, sf)
      .filter(col("o_custkey") <= 500)
      .groupBy(col("o_custkey"))
      .agg(countDistinct(trunc(col("o_orderdate").cast("date"), "month")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val dm = r.getAs[Number]("distinct_months").longValue
      assert(dm == direct(r.getAs[Long]("o_custkey")))
      assert(dm <= r.getAs[Long]("n_orders"))
    }
  }

  test("q170 native session boundary: exact-gap MERGES, strictly-greater splits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")), // exact gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:30:01"))) // beyond gap
      .toDF("user_id", "ts")
    val sess = df.groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sess(1L) == 1,
      "session_window merges a gap of exactly the window — the q23 `>` convention")
    assert(sess(2L) == 2, "a strictly-greater gap must split")
  }

  test("q171 discrete percentiles are realizable data values in order") {
    import org.apache.spark.sql.functions._
    val out = relational.Stats.q171PercentileDisc(spark, sf).collect()
    assert(out.nonEmpty)
    val quantities = Tables.lineitem(spark, sf)
      .select("l_quantity").distinct().collect().map(_.getDouble(0)).toSet
    out.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Double]("p25"), r.getAs[Double]("p50"), r.getAs[Double]("p75"))
      assert(p25 <= p50 && p50 <= p75)
      assert(Set(p25, p50, p75).subsetOf(quantities),
        "discrete percentiles must be actual data values")
    }
  }

  test("q168 null-key semantics: sentinel == null-safe, equality is the floor") {
    val out = relational.Extra3.q168NullSafeJoin(spark, sf).collect()
      .map(r => r.getAs[String]("join_kind") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    assert(out.size == 3)
    // -1 is outside the 0..99 key domain, so sentinel ≡ null-safe exactly
    assert(out("sentinel") == out("null_safe"),
      s"sentinel ${out("sentinel")} != null_safe ${out("null_safe")}")
    // plain equality can only lose the NULL-matches
    assert(out("equality")._1 <= out("null_safe")._1)
  }

  test("q169 windowed approx distinct: sketch in-band every day, counts coherent") {
    val out = relational.Events.q169WindowApproxDistinct(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"), "HLL left its 10% band")
      assert(r.getAs[Long]("exact_users") <= r.getAs[Long]("n_events"))
    }
  }

  test("q167 trend slope matches Spark's regr_slope within float tolerance") {
    import org.apache.spark.sql.functions._
    val ours = relational.Extra3.q167TrendSlope(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("month").toString ->
        Option(r.get(r.fieldIndex("slope"))).map(_.asInstanceOf[Double])).toMap
    val ref = Tables.orders(spark, sf)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("double"))
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(expr("regr_slope(y, x)").as("s"), count(lit(1)).as("n"))
      .collect()
    assert(ours.nonEmpty && ours.size == ref.length)
    ref.foreach { r =>
      val m = r.getAs[java.sql.Date]("month").toString
      (ours(m), Option(r.get(r.fieldIndex("s")))) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b.asInstanceOf[Double]) < 1e-4,
            s"$m: ours $a vs regr_slope $b")
        case (a, b) => assert(a.isEmpty == b.isEmpty ||
          r.getAs[Long]("n") == 1, s"$m: null disagreement ($a vs $b)")
      }
    }
  }

  test("q164 date spine: calendar complete, splits partition days, gap bounded") {
    import org.apache.spark.sql.functions._
    val out = relational.Extra3.q164DateSpine(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (days, act, zero) = (r.getAs[Long]("n_days"),
        r.getAs[Long]("active_days"), r.getAs[Long]("zero_days"))
      assert(act + zero == days, "active/zero must partition the month")
      assert(days >= 1 && days <= 31)
      assert(r.getAs[Long]("max_gap") <= zero, "a run cannot exceed its zero mass")
    }
    // spine covers the full extent: Σ n_days == datediff(max,min)+1
    val span = Tables.orders(spark, sf)
      .agg((datediff(max(col("o_orderdate")), min(col("o_orderdate"))) + 1)
        .cast("long")).head().getLong(0)
    assert(out.map(_.getAs[Long]("n_days")).sum == span)
    // and order totals are conserved through the spine join
    assert(out.map(_.getAs[Long]("n_orders")).sum ==
      Tables.orders(spark, sf).count())
  }

  test("q161 BFS: seeds at hop 0, levels within bound, totals partition the users") {
    val out = relational.Graph.q161BfsHops(spark, sf).collect()
      .map(r => r.getAs[Long]("hops") -> r.getAs[Long]("n_users")).toMap
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.values.sum == users, "every user lands in exactly one level")
    assert(out.keySet.forall(h => (h >= 0 && h <= 3) || h == 999),
      s"levels out of bound: ${out.keySet}")
    val seeds = Tables.events(spark, sf).select("user_id").distinct()
      .filter(org.apache.spark.sql.functions.expr("user_id % 50 = 0")).count()
    assert(out.getOrElse(0L, 0L) == seeds, "hop 0 must be exactly the seed set")
  }

  test("coVisitEdges cap: flooded bucket dropped and counted, clean edges survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    // users 1,2 share three clean buckets (edge at minW=3); users
    // 100..299 flood one bucket past the 128 cap
    val clean = Seq((1L, "view", t0), (2L, "view", t0),
      (1L, "view", t1), (2L, "view", t1), (1L, "view", t2), (2L, "view", t2))
    val flood = (100L until 300L).map(u => (u, "click", t0))
    val b = (clean ++ flood).toDF("user_id", "event_type", "hr")
    val e = relational.Graph.coVisitEdges(b, minW = 3)
    val edges = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L)), s"unexpected edges: $edges")
    val m = graft.llm.DropMetrics.read(e, graft.llm.DropMetrics.CoVisitDrops)
    assert(m("dropped_buckets") == 1L, m.toString)
    assert(m("dropped_rows") == 200L, m.toString)
    assert(m("dropped_pairs") == 200L * 199L / 2L, m.toString)
    // at the test SF the cap binds nowhere: zero drops on the real
    // build. Built DIRECTLY here (not through q155) since r13: the
    // shared edge table is memoized behind a pinned checkpoint, so the
    // consumers' plans no longer carry the observe node — the counters
    // fire once, at build time, through the DropMetrics listener (the
    // "never a silent cap" contract reports at the build execution).
    val rb = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .distinct()
    val real = relational.Graph.coVisitEdges(rb, minW = 3)
    real.collect()
    val m2 = graft.llm.DropMetrics.read(real, graft.llm.DropMetrics.CoVisitDrops)
    assert(m2("dropped_buckets") == 0L && m2("dropped_pairs") == 0L, m2.toString)
  }

  test("q155 memoized edge build reports its counters at build time, then goes silent") {
    // ADVICE r13: the zero-drop assertion above bypasses the production
    // q155 routing (the memoized consumers' plans no longer carry the
    // observe node), so a regression in q155's path THROUGH the capped
    // edge build went uncovered. Drive the memo build itself: a dir no
    // other test touches Graph with (sf0.01) forces a fresh
    // coVisitEdgesCached build, whose reportNow must leave the
    // CoVisitDrops counters readable — and zero at this scale.
    import graft.llm.DropMetrics
    val dir = "/root/testdata/sf0.01"
    DropMetrics.lastReports.remove(DropMetrics.CoVisitDrops)
    assert(relational.Graph.q155Triangles(spark, dir).count() > 0)
    val m = DropMetrics.lastReports.get(DropMetrics.CoVisitDrops)
    assert(m.nonEmpty, "memo build executed but reportNow left no counters")
    val mm = m.get
    assert(mm("dropped_buckets") == 0L && mm("dropped_pairs") == 0L,
      s"cap bound at a grading scale: $mm")
    // second consumer is served from the memo: the build (and its
    // report) must NOT re-run — the counters fired once, at build time
    DropMetrics.lastReports.remove(DropMetrics.CoVisitDrops)
    assert(relational.Graph.q161BfsHops(spark, dir).count() > 0)
    assert(DropMetrics.lastReports.get(DropMetrics.CoVisitDrops).isEmpty,
      "memoized consumer re-executed the edge build (cache miss)")
  }

  test("q155 triangles: participation equals 3x the brute-force triangle count") {
    import org.apache.spark.sql.functions._
    val out = relational.Graph.q155Triangles(spark, sf).collect()
    val participation = out.map(_.getAs[Long]("n_tri")).sum
    assert(participation % 3 == 0, "each triangle has exactly 3 corners")
    // Brute force on the tiny sf0.001 graph: collect edges, count in Scala.
    val b = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .distinct()
    val edges = b.as("x").join(b.as("y"),
        col("x.event_type") === col("y.event_type") &&
        col("x.hr") === col("y.hr") && col("x.user_id") < col("y.user_id"))
      .groupBy(col("x.user_id").as("u1"), col("y.user_id").as("u2"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 3)
      .select("u1", "u2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = edges.map { case (a, bb) =>
      adj.getOrElse(a, Set.empty).intersect(adj.getOrElse(bb, Set.empty)).size
    }.sum
    assert(participation == 3L * brute,
      s"participation $participation != 3 * brute $brute")
  }

  test("q176 representative is a real member with the cluster's max chars") {
    import org.apache.spark.sql.functions._
    val lab = graft.llm.Dedup.q105DedupClusters(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
      .groupBy(_._1)
    graft.llm.Dedup.q176ClusterRep(spark, sf).collect().foreach { r =>
      val cl = r.getAs[Long]("cluster"); val rep = r.getAs[Long]("rep_doc")
      val members = lab(cl)
      assert(members.exists(_._2 == rep), s"rep $rep not in cluster $cl")
      val maxChars = members.map(_._3).max
      val repChars = members.find(_._2 == rep).get._3
      assert(repChars == maxChars, s"rep $rep has $repChars < max $maxChars")
      // tie rule: among max-chars members, rep is the smallest id
      assert(rep == members.filter(_._3 == maxChars).map(_._2).min)
      assert(r.getAs[Long]("n_members").toInt == members.size)
      assert(r.getAs[Long]("n_dropped") == members.size - 1)
    }
  }

  test("q177 novelty is a valid ratio and detects the corpus's shared bigrams") {
    import org.apache.spark.sql.functions._
    val rows = graft.llm.TextOps.q177BigramNovelty(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams"); val nov = r.getAs[Long]("n_novel")
      assert(nov >= 0 && nov <= n)
      val ratio = r.getAs[Double]("novelty")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // the corpus contains near-dup templates, so SOME doc must share bigrams
    assert(rows.exists(r => r.getAs[Long]("n_novel") < r.getAs[Long]("n_bigrams")))
  }

  test("q178 listagg renders each region's nations sorted and complete") {
    graft.relational.Extra3.q178Listagg(spark, sf).collect().foreach { r =>
      val n = r.getAs[Long]("n_nations")
      val parts = r.getAs[String]("nations").split(",").toSeq
      assert(parts.size == n, s"expected $n names, got ${parts.size}")
      assert(parts == parts.sorted, s"names not in order: $parts")
    }
  }

  test("q179 med/mad are realizable data values and the fence is one-sided") {
    import org.apache.spark.sql.functions._
    val vals = Tables.events(spark, sf).select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    graft.relational.Stats.q179MadOutliers(spark, sf).collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val med = r.getAs[Double]("med"); val mad = r.getAs[Double]("mad")
      val vs = vals(t).map(_._2)
      assert(vs.contains(med), s"$t: med $med is not a data value")
      assert(vs.map(v => math.abs(v - med)).contains(mad),
        s"$t: mad $mad is not a realizable deviation")
      val expected = vs.count(v => math.abs(v - med) > 3 * mad)
      assert(r.getAs[Long]("n_outliers") == expected)
    }
  }

  test("q181 variant front door returns exactly q26's rows") {
    val a = graft.relational.Events.q181VariantJson(spark, sf).collect().toSet
    val b = SparkEntry.queries("q26_json_props")(spark, sf).collect().toSet
    assert(a === b, "variant_get path diverged from get_json_object path")
  }

  test("q182 BPE rounds are well-formed and the merge was applied") {
    val rows = graft.llm.TextOps.q182BpeMerges(spark, sf).collect()
    assert(rows.length == 20)
    Seq(1, 2).foreach { it =>
      val rs = rows.filter(_.getAs[Int]("iter") == it).sortBy(_.getAs[Int]("rk"))
      assert(rs.map(_.getAs[Int]("rk")).toSeq == (1 to 10))
      val cnts = rs.map(_.getAs[Long]("pair_count")).toSeq
      assert(cnts == cnts.sortBy(-_), s"iter $it counts not non-increasing: $cnts")
      // every reported symbol is non-empty and placeholder-free
      rs.foreach { r =>
        assert(r.getAs[String]("left_sym").nonEmpty && r.getAs[String]("right_sym").nonEmpty)
        assert(!r.getAs[String]("left_sym").contains("\u0001"))
      }
    }
    // the merge was APPLIED: the round-1 winning adjacency cannot exist
    // in round 2 — every occurrence of that character pair was replaced,
    // so any surviving (l1, r1) adjacency would be an unreplaced copy
    val w1 = rows.filter(r => r.getAs[Int]("iter") == 1 && r.getAs[Int]("rk") == 1).head
    val (l1, r1) = (w1.getAs[String]("left_sym"), w1.getAs[String]("right_sym"))
    val survived = rows.filter(r => r.getAs[Int]("iter") == 2 &&
      r.getAs[String]("left_sym") == l1 && r.getAs[String]("right_sym") == r1)
    assert(survived.isEmpty,
      s"round-1 merge ($l1,$r1) still appears as a round-2 adjacency")
  }

  test("q183 nearest as-of picks the smaller gap, ties backward") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tu"), col("event_type"))
      .collect()
    val signups = ev.filter(_.getString(3) == "signup")
      .groupBy(_.getLong(1)).map { case (u, rs) => u -> rs.map(_.getLong(2)) }
    val rows = plans.AsOf.q183AsofNearest(spark, sf).collect()
    assert(rows.nonEmpty)
    val actions = ev.filter(_.getString(3) != "signup")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (u, tu) = actions(r.getAs[Long]("event_id"))
      val ss = signups.getOrElse(u, Array.empty[Long])
      val dir = r.getAs[String]("dir")
      if (ss.isEmpty) assert(dir == "none")
      else {
        val bestGap = ss.map(s => math.abs(tu - s)).min
        assert(r.getAs[Long]("gap_us") == bestGap,
          s"event ${r.getAs[Long]("event_id")}: gap ${r.getAs[Long]("gap_us")} != $bestGap")
        // tie rule: if a backward signup achieves the best gap, dir is backward
        val backAchieves = ss.exists(s => s <= tu && tu - s == bestGap)
        assert(dir == (if (backAchieves) "backward" else "forward"))
      }
    }
  }

  test("q184 TWAP lies within each group's value range and spans cover the day tail") {
    import org.apache.spark.sql.functions._
    val ranges = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    graft.relational.Events.q184Twap(spark, sf).collect().foreach { r =>
      val k = (r.getString(0), r.get(1).toString)
      val (lo, hi, cnt) = ranges(k)
      val tw = r.getAs[Double]("twap")
      assert(tw >= lo - 1e-4 && tw <= hi + 1e-4, s"$k: twap $tw outside [$lo,$hi]")
      assert(r.getAs[Long]("n") == cnt)
      // spans: first event start to midnight, so span <= 24h and > 0
      val span = r.getAs[Long]("span_us")
      assert(span > 0 && span <= 86400000000L, s"$k: span $span")
    }
  }

  test("q185 prediction is a true plurality winner among the 5 neighbors") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cands = vecs.filter(_._1 >= 10)
    val expected = vecs.filter(_._1 < 10).map { case (qid, tl, qv) =>
      val nn = cands.map(c => (cos(qv, c._3), c._1, c._2))
        .sortBy { case (s, cid, _) => (-s, cid) }.take(5)
      val votes = nn.groupBy(_._3).map { case (l, xs) => (l, xs.length) }
      val best = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      qid -> (best._1, best._2.toLong, tl)
    }.toMap
    graft.llm.Similarity.q185KnnLabel(spark, sf).collect().foreach { r =>
      val (pl, v, tl) = expected(r.getAs[Long]("qid"))
      assert(r.getAs[Int]("pred_label") == pl && r.getAs[Long]("votes") == v)
      assert(r.getAs[Int]("true_label") == tl)
      assert(r.getAs[Boolean]("correct") == (pl == tl))
    }
  }

  test("q186 compaction bins conserve bytes, stay contiguous and ordered") {
    import org.apache.spark.sql.functions._
    val totals = Tables.documents(spark, sf).groupBy(col("source"))
      .agg(sum("n_chars").as("b"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = graft.llm.Corpus.q186CompactionPlan(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("bin"))
      assert(sorted.map(_.getAs[Long]("bin")).toSeq ==
        (0L until sorted.length).toSeq, s"$src: bins not contiguous")
      assert(sorted.map(_.getAs[Long]("bin_bytes")).sum == totals(src)._1)
      assert(sorted.map(_.getAs[Long]("n_docs")).sum == totals(src)._2)
      // doc ranges are disjoint and increasing across bins
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
    }
  }

  test("q187 lerp replays exactly from the surrounding observations") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf).filter(col("user_id") < 20)
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("v"))
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tu"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(t => (t._2, t._3)).sortBy(_._1) }
    val rows = plans.AsOf.q187LerpResample(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val h = r.getAs[java.sql.Timestamp]("hour").toInstant
      val hu = h.getEpochSecond * 1000000L + h.getNano / 1000L
      val obs = ev(u)
      val prev = obs.filter(_._1 <= hu).lastOption
      val next = obs.find(_._1 >= hu)
      val expected = (prev, next) match {
        case (None, Some((_, nv))) => nv
        case (Some((_, pv)), None) => pv
        case (Some((pt, pv)), Some((nt, nv))) =>
          if (nt == pt) pv
          else pv + (nv - pv) * ((hu - pt).toDouble / (nt - pt).toDouble)
        case _ => fail(s"user $u has no observations")
      }
      val got = r.getAs[Double]("lerp_value")
      assert(math.abs(got - BigDecimal(expected).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"user $u @ $h: got $got, expected $expected")
    }
  }

  test("q188 effective sizes replay from the cluster map and never exceed raw counts") {
    import org.apache.spark.sql.functions._
    val lab = graft.llm.Dedup.q105DedupClusters(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"), r.getAs[String]("source")))
    val csize = lab.groupBy(_._2).map { case (c, xs) => c -> xs.length }
    val expected = lab.groupBy(_._3).map { case (src, xs) =>
      src -> (xs.length.toLong,
        xs.map(_._2).distinct.length.toLong,
        xs.map(x => math.round(1000000.0 / csize(x._2))).sum)
    }
    graft.llm.Dedup.q188DupWeights(spark, sf).collect().foreach { r =>
      val (n, nc, ppm) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_clusters") == nc)
      assert(r.getAs[Long]("sum_weight_ppm") == ppm)
      assert(r.getAs[Double]("effective_docs") <= n.toDouble)
    }
  }

  test("q189 leakage report covers the three split pairs with coherent bounds") {
    import org.apache.spark.sql.functions._
    val splitOf = (id: Long) => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes)(0) & 0xF0
      val c = "0123456789abcdef".charAt(h >> 4)
      if (c == 'c' || c == 'd') "val" else if (c == 'e' || c == 'f') "test" else "train"
    }
    val docBySplit = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0)).groupBy(splitOf).map { case (k, v) => k -> v.length }
    val rows = graft.llm.TextOps.q189SplitLeakage(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("test", "train"), ("test", "val"), ("train", "val")))
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getAs[Long]("n_shared") <= math.min(r.getAs[Long]("na"), r.getAs[Long]("nb")))
      assert(r.getAs[Long]("docs_b_leaked") <= docBySplit(r.getString(1)),
        s"${r.getString(1)}: leaked docs exceed split size")
    }
    // the corpus HAS near-dup templates, so a random split must leak
    assert(rows.exists(_.getAs[Long]("docs_b_leaked") > 0))
  }

  test("q190 confusion matrix accounts for every probe, rows sum to 1") {
    val rows = graft.llm.Similarity.q190KnnConfusion(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 100L)
    rows.groupBy(_.getAs[Int]("true_label")).foreach { case (tl, rs) =>
      val tot = rs.map(_.getAs[Double]("row_recall")).sum
      assert(math.abs(tot - 1.0) <= 1e-4 * rs.length, s"label $tl recalls sum to $tot")
    }
  }

  test("q191 division returns exactly the customers covering every priority") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = orders.map(_._2).distinct.toSet
    val expected = orders.groupBy(_._1)
      .filter { case (_, os) => os.map(_._2).distinct.toSet == all }
      .map { case (c, os) => c -> os.length.toLong }
    val got = graft.relational.Extra3.q191RelationalDivision(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_orders")).toMap
    assert(got == expected)
  }

  test("q192 carried value replays last-observation-carried-forward") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tu"),
        col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.getString(3) == "error") None else Some(r.getDouble(4))))
      .groupBy(_._1).map { case (u, rs) =>
        u -> rs.sortBy(t => (t._2, t._3))
      }
    val expected = evs.toSeq.flatMap { case (_, rs) =>
      var lastSeen: Option[Double] = None
      rs.toSeq.map { case (_, _, id, v) =>
        if (v.isDefined) lastSeen = v
        id -> lastSeen
      }
    }
    val got = graft.relational.Extra3.q192IgnoreNulls(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got == expected.toMap)
  }

  test("q193 encode conserves words and never expands a source") {
    val rows = graft.llm.TextOps.q193BpeEncode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val before = r.getAs[Long]("chars_before")
      val after = r.getAs[Long]("syms_after")
      assert(after <= before && after > 0, s"${r.getString(0)}: $after vs $before")
      val c = r.getAs[Double]("compression")
      assert(c > 0.0 && c <= 1.0)
    }
    // the learned merges must actually fire somewhere
    assert(rows.exists(r => r.getAs[Long]("syms_after") < r.getAs[Long]("chars_before")))
  }

  test("q194 integer z-score predicate equals the floating 2-sigma test") {
    import org.apache.spark.sql.functions._
    val vals = Tables.events(spark, sf)
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2) }
    graft.relational.Stats.q194ZscoreFlags(spark, sf).collect().foreach { r =>
      val xs = vals(r.getLong(0)).map(_.toDouble)
      val n = xs.length
      val mu = xs.sum / n
      val sigma = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / n)
      val expected = xs.count(x => math.abs(x - mu) > 2 * sigma)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_outliers") == expected,
        s"user ${r.getLong(0)}: ${r.getAs[Long]("n_outliers")} vs $expected")
    }
  }

  test("q195 conversion lags are ordered percentiles of real gaps") {
    graft.relational.Events.q195ConversionLag(spark, sf).collect().foreach { r =>
      val p50 = r.getAs[Long]("p50_lag_us"); val p90 = r.getAs[Long]("p90_lag_us")
      assert(p50 >= 0 && p90 >= p50, s"p50=$p50 p90=$p90")
      assert(r.getAs[Long]("n_converted") > 0)
    }
  }

  test("q196 diff classes replay from the mutation rules") {
    import org.apache.spark.sql.functions._
    val keys = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val deleted = keys.count(k => k._1 % 7 == 0)
    val added = keys.count(k => k._1 % 11 == 0)
    val changed = keys.count(k => k._1 % 7 != 0 && k._1 % 5 == 0)
    val unchanged = keys.length - deleted - changed
    val got = graft.relational.Extra3.q196SnapshotDiff(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(got.getOrElse("deleted", 0L) == deleted)
    assert(got.getOrElse("added", 0L) == added)
    assert(got.getOrElse("changed", 0L) == changed)
    assert(got.getOrElse("unchanged", 0L) == unchanged)
  }

  test("q197 deciles are balanced, exhaustive, and boundary-monotone") {
    val rows = graft.relational.Extra3.q197EquidepthHist(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val counts = rows.map(_.getAs[Long]("n"))
    assert(counts.max - counts.min <= 1, s"unbalanced tiles: ${counts.toSeq}")
    assert(counts.sum == Tables.orders(spark, sf).count())
    val bounds = rows.map(_.getAs[Double]("hi_bound"))
    assert(bounds.zip(bounds.tail).forall { case (a, b) => a <= b })
  }

  test("q198 sweep counts are monotone non-increasing in the threshold") {
    val rows = graft.llm.Similarity.q198CosineThresholdSweep(spark, sf)
      .collect().sortBy(_.getDouble(0))
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.7, 0.9))
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    val docs = rows.map(_.getAs[Long]("n_docs"))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b })
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    // a pair involves two docs, a doc can be in many pairs
    rows.foreach { r =>
      if (r.getAs[Long]("n_pairs") > 0)
        assert(r.getAs[Long]("n_docs") >= 2)
    }
  }

  test("q199 estimator audit is internally consistent") {
    val rows = graft.llm.Dedup.q199MinhashAccuracy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("avg_est"); val ex = r.getAs[Double]("avg_exact")
      val err = r.getAs[Double]("mean_abs_err")
      assert(est >= 0.0 && est <= 1.0 && ex >= 0.0 && ex <= 1.0)
      // mean |e_i| >= |mean e_i| (triangle inequality), up to rounding
      assert(err + 1e-3 >= math.abs(est - ex),
        s"band ${r.getInt(0)}: err $err < |$est - $ex|")
      val band = r.getInt(0)
      assert(ex + 1e-4 >= band / 5.0 && ex - 1e-4 <= (band + 1) / 5.0,
        s"avg_exact $ex outside band $band")
    }
  }

  test("q200 growth accounting conserves users and events") {
    import org.apache.spark.sql.functions._
    val rows = graft.relational.Events.q200UserGrowth(spark, sf).collect()
      .sortBy(_.getTimestamp(0).getTime)
    val totalUsers = Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    val totalEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == totalEvents)
    assert(rows.map(_.getAs[Long]("new_users")).sum == totalUsers)
    assert(rows.last.getAs[Long]("cum_users") == totalUsers)
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("returning_users") ==
        r.getAs[Long]("active_users") - r.getAs[Long]("new_users"))
      cum += r.getAs[Long]("new_users")
      assert(r.getAs[Long]("cum_users") == cum)
    }
  }

  test("q201 dup rates replay from the fingerprint groups") {
    import org.apache.spark.sql.functions._
    val fps = Tables.documents(spark, sf)
      .select(col("source"), graft.llm.TextOps.normFp(col("text")).as("fp"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val expected = fps.groupBy(_._1).map { case (src, xs) =>
      val groups = xs.groupBy(_._2).values.map(_.length)
      src -> (xs.length.toLong, groups.size.toLong, groups.max.toLong)
    }
    graft.llm.TextOps.q201SourceDupRate(spark, sf).collect().foreach { r =>
      val (n, d, mx) = expected(r.getString(0))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_distinct") == d)
      assert(r.getAs[Long]("dup_docs") == n - d)
      assert(r.getAs[Long]("max_clone_group") == mx)
    }
  }

  test("q202 growth rates replay from the revenue series") {
    val rows = graft.relational.Events.q202MomGrowth(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      assert(sorted.head.isNullAt(4), "first month must have NULL growth")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val prev = a.getAs[Double]("revenue")
          val exp = BigDecimal((b.getAs[Double]("revenue") - prev) / prev)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(math.abs(b.getAs[Double]("mom_growth") - exp) < 1e-9)
        case _ =>
      }
    }
  }

  test("q203 audio RMS replays from the raw text bytes") {
    import org.apache.spark.sql.functions._
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = graft.llm.Multimodal.q203AudioRms(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = texts(r.getAs[Long]("media_id"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = bytes.length / 2
      val nf = n / 64
      assert(r.getAs[Long]("n_samples") == n && r.getAs[Long]("n_frames") == nf)
      val rmss = (0 until nf).map { f =>
        val ss = (f * 64 until (f + 1) * 64).map { i =>
          val sm = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xFF)).toLong
          sm * sm
        }.sum
        math.sqrt(ss.toDouble / 64.0)
      }
      assert(r.getAs[Double]("peak_rms") == rmss.max)
      assert(r.getAs[Int]("peak_frame") == rmss.indexOf(rmss.max))
      val ssAll = (0 until nf * 64).map { i =>
        val sm = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xFF)).toLong
        sm * sm
      }.sum
      assert(r.getAs[Double]("clip_rms") == math.sqrt(ssAll.toDouble / (nf * 64.0)))
    }
  }

  test("q205 attribution conserves exactly one million ppm per touched purchase") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tu")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val touchesByUser = ev.filter(e => e._3 == "view" || e._3 == "click").groupBy(_._2)
    val touched = ev.filter(_._3 == "purchase").count { case (_, u, _, pu) =>
      touchesByUser.getOrElse(u, Array.empty)
        .exists(t => t._4 >= pu - 1800000000L && t._4 < pu)
    }
    val rows = graft.relational.Ranges.q205LinearAttribution(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("credit_ppm")).sum == touched * 1000000L,
      s"ppm not conserved for $touched touched purchases")
    rows.foreach(r => assert(r.getAs[Long]("n_touches") > 0))
  }

  test("q206 survivorship agrees with q176's pick and replays majority lang") {
    import org.apache.spark.sql.functions._
    val reps = graft.llm.Dedup.q176ClusterRep(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("rep_doc"), r.getAs[Long]("dropped_chars"))).toMap
    val langs = graft.llm.Dedup.q105DedupClusters(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("cluster"), r.getAs[String]("lang")))
      .groupBy(_._1)
    graft.llm.Dedup.q206Survivorship(spark, sf).collect().foreach { r =>
      val cl = r.getAs[Long]("cluster")
      val (rep, dropped) = reps(cl)
      assert(r.getAs[Long]("golden_doc") == rep)
      assert(r.getAs[Long]("retired_chars") == dropped)
      val majority = langs(cl).groupBy(_._2).toSeq
        .sortBy { case (l, xs) => (-xs.length, l) }.head._1
      assert(r.getAs[String]("golden_lang") == majority)
      val srcs = r.getAs[String]("sources").split(",").toSeq
      assert(srcs == srcs.sorted && srcs == srcs.distinct)
    }
  }

  test("q207 PPS picks exactly one owner per threshold, size-proportionally") {
    import org.apache.spark.sql.functions._
    val rows = graft.relational.Extra3.q207PpsSample(spark, sf).collect()
    val srcs = Tables.documents(spark, sf).select(col("source")).distinct().count()
    // exactly 5 thresholds per source, each owned by exactly one doc
    assert(rows.length == srcs * 5)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until 5).toSeq, s"$src thresholds")
    }
    // replay one source end-to-end
    val src0 = rows.filter(_.getString(0) == rows.head.getString(0))
    val docs = Tables.documents(spark, sf)
      .filter(col("source") === src0.head.getString(0))
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = docs.map(_._2).sum
    (0 until 5).foreach { j =>
      val t = (2 * j + 1) * total / 10
      var cum = 0L
      val expect = docs.find { case (_, nc) => val lo = cum; cum += nc; lo <= t && t < cum }.get._1
      assert(src0.find(_.getInt(1) == j).get.getLong(2) == expect, s"threshold $j")
    }
  }

  test("q208 apportionment sums exactly to the budget and is near-proportional") {
    val rows = graft.relational.Extra3.q208Apportionment(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L, "budget not conserved")
    rows.foreach { r =>
      val exact = r.getAs[Long]("n") * 1000.0 / total
      val alloc = r.getAs[Long]("alloc")
      // Hamilton's method never strays more than 1 from the exact quota
      assert(alloc >= math.floor(exact) && alloc <= math.ceil(exact),
        s"${r.getString(0)}: alloc $alloc vs quota $exact")
    }
  }

  test("q209 IQR fences replay and quartiles are realizable and ordered") {
    import org.apache.spark.sql.functions._
    val vals = Tables.events(spark, sf).select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    graft.relational.Stats.q209IqrFences(spark, sf).collect().foreach { r =>
      val t = r.getString(0)
      val (q1, q3) = (r.getAs[Double]("q1"), r.getAs[Double]("q3"))
      val vs = vals(t).map(_._2)
      assert(vs.contains(q1) && vs.contains(q3) && q1 <= q3)
      val (lo, hi) = (q1 - (q3 - q1) * 1.5, q3 + (q3 - q1) * 1.5)
      assert(r.getAs[Long]("n_outside") == vs.count(v => v < lo || v > hi))
    }
  }

  test("q210 pareto k80 is the minimal prefix reaching 80% of bytes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    graft.llm.Corpus.q210ParetoBytes(spark, sf).collect().foreach { r =>
      val src = r.getString(0)
      val sorted = docs(src).sortBy(d => (-d._3, d._2)).map(_._3)
      val total = sorted.sum
      assert(r.getAs[Long]("total_bytes") == total)
      val cums = sorted.scanLeft(0L)(_ + _).tail
      val k80 = cums.indexWhere(c => c * 5 >= total * 4) + 1
      assert(r.getAs[Long]("k80") == k80, s"$src: k80")
      // minimality: the prefix one shorter is under 80%
      if (k80 > 1) assert(cums(k80 - 2) * 5 < total * 4)
    }
  }

  test("q180 transition probabilities are row-stochastic after rounding") {
    import org.apache.spark.sql.functions._
    val rows = graft.relational.Events.q180MarkovTransitions(spark, sf).collect()
    rows.groupBy(_.getAs[String]("src")).foreach { case (src, rs) =>
      val total = rs.map(_.getAs[Double]("prob")).sum
      // each prob rounds at 1e-6; |row| <= #event types
      assert(math.abs(total - 1.0) <= 1e-6 * rs.length,
        s"$src row sums to $total")
      rs.foreach(r => assert(r.getAs[Double]("prob") > 0.0))
    }
  }
}
