package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this JVM and writes the raw record
  * (result.json, and spans.jsonl when traced) to `--out`; perfbench/run.py
  * grades it and turns it into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --out DIR
  *
  * Set-up (session built with the `graft.Bench` configuration, plus the
  * workload's own preparation) runs three times; the first two sessions
  * are stopped again, so the record holds three set-up times. */
object Main {
  def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$out/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val Setups = 3
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak resident set of this process (VmHWM), in bytes. */
  def peakRssBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(-1L)
    finally src.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors
    require(Set("catalog", "daemon-loop")(workload), s"unknown workload $workload")
    val trace = new Trace(traced)

    // set-up, three times: session + the workload's inputs ready
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var jvmToReadyS = 0.0
    var spark: SparkSession = null
    var daemon: Daemon = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime()
      spark = session(cores, out)
      if (workload == "daemon-loop") daemon = new Daemon(spark, trace, s"$out/daemon")
      else Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i == 1) jvmToReadyS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      if (i < Setups) {
        if (daemon != null) daemon.stop()
        spark.stop()
        deleteTree(Paths.get(out, "checkpoints"))
        deleteTree(Paths.get(out, "daemon", "status"))
      }
    }

    val jobs = new JobListener(trace)
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(new ProgressListener(trace))
    }
    val gc0 = gcMillis()
    val record =
      if (daemon != null) daemon.run(seconds)
      else Catalog.run(spark, trace, seed, seconds, data, out)
    val gcS = (gcMillis() - gc0) / 1e3
    val versions = Map("spark" -> spark.version,
      "java" -> sys.props("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)
    if (daemon != null) daemon.stop()
    spark.stop() // drains the listener bus

    val full = record ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores, "setup_s" -> setupS,
      "jvm_to_ready_s" -> jvmToReadyS, "gc_s" -> gcS,
      "peak_rss_bytes" -> peakRssBytes(), "versions" -> versions,
      "block_write_bytes" -> jobs.blockWriteBytes,
      "exchanges" -> jobs.exchangesByExecution.map { case (k, v) => k.toString -> v })
    Files.writeString(Paths.get(out, "result.json"), Json(full))
    if (traced)
      Files.write(Paths.get(out, "spans.jsonl"),
        trace.spans.asScala.map(Json.spanLine).toSeq.asJava)
  }
}
