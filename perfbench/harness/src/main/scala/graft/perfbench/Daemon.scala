package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.{PhaseStatus, ToolEvent}
import graft.rounds.Stratify
import graft.streaming.{Dispatch, Lifecycle, Streams}

/** The daemon loop: the streaming path of the reference daemon, driven
  * closed-loop by one driver thread over inputs that run.py generated
  * from the seed (see perfbench/daemon_gen.py).
  *
  * A pass admits its queued plans through `queueStream -> dispatchSink`
  * (one plan per trigger), then executes them one at a time in dispatch
  * order: `Stratify.stratify` over the plan's phase DAG, each round's
  * tool events fed to the long-lived `Lifecycle.statusStream` query
  * (`processAllAvailable` per round, statuses written as parquet under
  * status/<plan>), and `Streams.pulse` over the plan's statuses. The
  * stream is started during set-up and lives for the whole run. */
final class Daemon(spark: SparkSession, trace: Trace, root: String) {
  import Daemon._
  import spark.implicits._
  private val sc = spark.sparkContext
  private val statusDir = s"$root/status"
  private val mem = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[ToolEvent]
  }
  @volatile private var current = "none"

  // The stream thread inherits local properties from this thread; an
  // empty span id makes run.py parent its jobs by time containment.
  sc.setLocalProperty(Trace.SpanProp, "")
  sc.setLocalProperty(Trace.ModuleProp, "streaming.Lifecycle")
  private val query: StreamingQuery =
    Lifecycle.statusStream(mem.toDS()).writeStream
      .queryName("lifecycle")
      .outputMode("update")
      .foreachBatch { (b: Dataset[PhaseStatus], _: Long) =>
        b.write.mode("append").parquet(s"$statusDir/$current")
        ()
      }
      .start()
  sc.setLocalProperty(Trace.ModuleProp, null)
  sc.setLocalProperty(Trace.SpanProp, null)

  def stop(): Unit = query.stop()

  private def tsv(name: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(s"$root/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def run(seconds: Double): Map[String, Any] = {
    val plans = tsv("plans.tsv").map(r => PlanIn(r(0).toInt, r(1)))
    val phases: Map[String, Map[Int, PhaseIn]] = tsv("phases.tsv")
      .groupBy(_(0)).map { case (p, rs) =>
        p -> rs.map(r => r(1).toInt -> PhaseIn(r(2).toInt, r(3), r(4).toInt)).toMap }
    val edges: Map[String, Seq[(String, Int, Int)]] = tsv("edges.tsv")
      .map(r => (r(0), r(1).toInt, r(2).toInt)).groupBy(_._1)
    val events: Map[(String, Int), Seq[ToolEvent]] = tsv("events.tsv").map { r =>
      ToolEvent(r(0), r(1).toInt, r(2), r(3), Option(r(4)).filter(_.nonEmpty),
        r(5), micros(r(6).toLong))
    }.groupBy(e => (e.plan_id, e.phase))
    val byPass = plans.groupBy(_.pass)

    val passes = ArrayBuffer[Map[String, Any]]()
    val ops = ArrayBuffer[Map[String, Any]]()
    val roundsOut = ArrayBuffer[Map[String, Any]]()
    val executed = ArrayBuffer[String]()
    val t0 = trace.now()
    val deadline = t0 + seconds * 1e3
    var pass = 0
    var lastPassMs = 0.0 // a pass starts only if one like the last still fits
    while (pass < FirstWarmPass + MinWarmPasses || trace.now() + lastPassMs <= deadline) {
      val queued = byPass.getOrElse(pass, sys.error(
        s"generated inputs hold no pass $pass; generate more passes"))
      val (_, passS) = trace.span(sc, 0L, "pass", s"pass-$pass", "") { passId =>
        // admission: every queued plan of the pass, one plan per trigger
        var batches = 0
        val (dispatched, admitS) = trace.span(sc, passId, "admit", s"pass-$pass",
            "streaming.Dispatch") { _ =>
          val q = Dispatch.dispatchSink(
            Streams.queueStream(spark, s"$root/queue/pass-$pass/*"),
            s"$root/dispatched/pass-$pass")
          q.awaitTermination()
          batches = q.recentProgress.count(_.numInputRows > 0)
          spark.read.json(s"$root/dispatched/pass-$pass").select("id", "pid")
            .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
        }
        val admitOk = dispatched.map(_._1).sorted == queued.map(_.id).sorted &&
          dispatched.map(_._2).distinct.size == dispatched.size
        val byId = queued.map(p => p.id -> p).toMap
        dispatched.foreach { case (id, _) =>
          val p = byId.getOrElse(id, sys.error(s"dispatched an unknown plan $id"))
          val res =
            try executePlan(passId, p, phases(p.id), edges.getOrElse(p.id, Nil),
              events, roundsOut)
            catch { case e: Throwable =>
              Map[String, Any]("pass" -> pass, "name" -> p.id,
                "error" -> s"${e.getClass.getName}: ${e.getMessage}")
            }
          ops += res ++ Map("admit_ok" -> admitOk,
            "admit_s" -> admitS / queued.size, "batches" -> batches)
          executed += p.id
        }
      }
      passes += Map("pass" -> pass, "wall_s" -> passS)
      lastPassMs = passS * 1e3
      pass += 1
    }
    val t1 = trace.now()

    // Correctness, outside the timed window: the statuses the stream
    // wrote must equal a batch replay of the same event log.
    val done = executed.toSet
    val log = events.toSeq.filter(kv => done(kv._1._1)).flatMap(_._2)
    val replay = Lifecycle.replayBatch(spark.createDataset(log)).collect()
      .map(s => (s.plan_id, s.phase) -> s).toMap
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .schema(spark.emptyDataset[PhaseStatus].schema).parquet(statusDir)
      .as[PhaseStatus].collect().groupBy(s => (s.plan_id, s.phase))
      .map { case (k, ss) => k -> ss.maxBy(s => (s.updated_at.getTime, s.tool_count)) }
    val badPlans = (replay.keySet ++ streamed.keySet)
      .filter(k => replay.get(k) != streamed.get(k)).map(_._1)

    Map("window" -> Map("start" -> t0, "end" -> t1), "passes" -> passes,
      "ops" -> ops.map(o => o + ("replay_ok" -> !badPlans(o("name").toString))),
      "rounds" -> roundsOut, "first_warm_pass" -> FirstWarmPass,
      "replay_mismatched_plans" -> badPlans.toSeq.sorted)
  }

  private def executePlan(passId: Long, p: PlanIn, phs: Map[Int, PhaseIn],
      deps: Seq[(String, Int, Int)], events: Map[(String, Int), Seq[ToolEvent]],
      roundsOut: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    var stratifyS, pulseS = Double.NaN
    var checks = Map.empty[String, Boolean]
    val (_, turnaroundS) = trace.span(sc, passId, "plan", p.id, "") { planId =>
      current = p.id
      val nodes = phs.keys.toSeq.sorted.map(n => (p.id, n)).toDF("plan", "phase")
      val edgeDf = deps.toDF("plan", "phase", "dep")
      val (strata, st) = trace.span(sc, planId, "stratify", p.id, "rounds.Stratify")(
        _ => Stratify.stratify(nodes, edgeDf).collect()
          .map(r => r.getAs[Int]("phase") -> r.getAs[Int]("round")).toMap)
      stratifyS = st
      strata.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (round, members) =>
        val evs = members.keys.toSeq.flatMap(ph => events((p.id, ph)))
          .sortBy(e => (e.at.getTime, e.at.getNanos))
        val (_, lat) = trace.span(sc, planId, "round", s"${p.id}/$round",
            "streaming.Lifecycle") { _ =>
          mem.addData(evs)
          query.processAllAvailable()
        }
        roundsOut += Map("plan" -> p.id, "round" -> round, "events" -> evs.size,
          "latency_s" -> lat)
      }
      val (pulse, ps) = trace.span(sc, planId, "pulse", p.id, "streaming.Streams")(
        _ => Streams.pulse(spark.read.schema(spark.emptyDataset[PhaseStatus].schema)
          .parquet(s"$statusDir/${p.id}").as[PhaseStatus]).collect())
      pulseS = ps
      val want = phs.values
      checks = Map(
        "stratify_ok" -> (strata == phs.map { case (n, ph) => n -> ph.round }),
        "pulse_ok" -> (pulse.length == 1 && {
          val r = pulse.head
          r.getAs[Long]("n_phases") == phs.size &&
          r.getAs[Long]("n_completed") == want.count(_.outcome == "completed") &&
          r.getAs[Long]("n_failed") == want.count(_.outcome == "failed") &&
          r.getAs[Long]("n_active") == 0L && r.getAs[Long]("n_stalled") == 0L &&
          r.getAs[Long]("total_tools") == want.map(_.tools.toLong).sum
        }))
    }
    Map("pass" -> p.pass, "name" -> p.id, "phases" -> phs.size,
      "rounds" -> phs.values.map(_.round).max, "turnaround_s" -> turnaroundS,
      "stratify_s" -> stratifyS, "pulse_s" -> pulseS) ++ checks
  }
}

object Daemon {
  // pass 0 is cold, passes 1-3 warm the JIT, passes 4, 5, ... are the
  // timed warm passes
  val FirstWarmPass = 4
  val MinWarmPasses = 3

  private final case class PlanIn(pass: Int, id: String)
  private final case class PhaseIn(round: Int, outcome: String, tools: Int)
}
