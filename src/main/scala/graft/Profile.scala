package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftSqlShim
import graft.llm.DropMetrics

/** Measurement runner (PERF.md decade rows, optimization rounds): times
  * the named queries on each given dataset dir and explains each time
  * twice — by the `graft_*` observed metrics the run emitted and by its
  * Spark stages.
  *
  * Per (dir, query): a warm-up pass (file listing, codegen, JIT), then
  * one timed pass, both through the same `noop` sink as [[Bench]] with
  * `Ckpt.sweep` after each. It prints
  *   - one `STUDY dir=… query=… sec=… graft_*=[…]` line carrying every
  *     `graft_*` observation of the timed pass (DropMetrics' listener
  *     and memo-build reports, values in schema order; a sum over empty
  *     input shows as null). A width-capped run that looks sublinear is
  *     only honest with its dropped-bucket/row/pair counters next to
  *     the time;
  *   - the timed pass's stages: wall time, task count, input /
  *     shuffle-read / shuffle-write MB, so shuffle-bound vs
  *     compute-bound vs overhead-bound is readable without the UI.
  * A (dir, query) that throws prints STUDY-FAILED, and the run goes on.
  *
  * Usage: `runMain graft.Profile <dir1,dir2,...> <queryPrefix1,...>`
  * (cores: [[Sessions.cores]]). Writes no bench record.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: Profile <dir1,dir2,...> <queryPrefix1,...>")
    val dirs = args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val prefixes = args(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local(Sessions.cores)
    DropMetrics.ensureListener(spark)

    final case class StageRow(jobId: Int, stageId: Int, name: String,
      ms: Long, tasks: Int, inputMb: Double, srMb: Double, swMb: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageIds.foreach(sid => jobOfStage.put(sid, js.jobId))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.add(StageRow(
          jobOfStage.getOrDefault(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n'), ms, si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 + m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    })

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(qs.nonEmpty, s"no query matches ${prefixes.mkString(",")}")
    // a (dir, query) that throws must not abort the rest of the run — a
    // multi-dir study losing all later points to one bad decade; the
    // session stop rides a finally so an unexpected error cannot leak
    // the JVM's executors
    try {
      for (dir <- dirs; (name, fn) <- qs) {
        def pass(): Double = {
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          Ckpt.sweep(spark)
          dt
        }
        try {
          pass()
          // listener callbacks fire asynchronously: drain before clearing
          // so a slow warm-up callback cannot bleed into the timed pass's
          // metrics and stages, and drain again before reading them
          GraftSqlShim.drainListenerBus(spark)
          DropMetrics.lastReports.clear()
          stages.clear()
          val dt = pass()
          GraftSqlShim.drainListenerBus(spark)
          val kv = DropMetrics.lastReports.toSeq.sortBy(_._1)
            .map { case (k, vs) => vs.values.mkString(s"$k=[", ",", "]") }.mkString(" ")
          println(f"STUDY dir=$dir query=$name sec=$dt%.2f $kv")
          import scala.jdk.CollectionConverters._
          val rows = stages.asScala.toVector.sortBy(s => (s.jobId, s.stageId))
          val nJobs = rows.map(_.jobId).distinct.size
          println(f"-- $name stages=${rows.size} jobs=$nJobs sumStageMs=${rows.map(_.ms).sum}")
          rows.foreach { s =>
            println(f"   job=${s.jobId}%3d stage=${s.stageId}%4d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
              f"in=${s.inputMb}%7.2fMB sr=${s.srMb}%7.2fMB sw=${s.swMb}%7.2fMB ${s.name}")
          }
        } catch {
          case t: Throwable =>
            System.err.println(
              s"STUDY-FAILED dir=$dir query=$name: ${t.getClass.getName}: ${t.getMessage}")
            t.getStackTrace.take(5).foreach(f => System.err.println(s"  at $f"))
        }
      }
    } finally spark.stop()
  }
}
