package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.{Ckpt, SparkEntry}

/** The catalog workload: closed-loop passes over the registered queries
  * of [[Workloads.catalog]], one driver thread, each query followed by
  * `Ckpt.sweep`, as `graft.Bench` does.
  *
  * Pass 0 is the cold pass: the first touch of every query in a fresh
  * session, memo builds included, always in the listed order so that the
  * same query pays each memo build in every run. It writes every query's
  * output as parquet, which run.py grades against the DuckDB oracle, so
  * the outputs graded are the ones timed. Every later pass materializes
  * each query through the `noop` sink (every column of every row
  * evaluated, then discarded), in an order the seed sets. Pass 1 only
  * warms the JIT; passes 2, 3, ... are the timed warm passes. */
object Catalog {
  val FirstWarmPass = 2
  val MinWarmPasses = 3

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
      data: String, out: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val queries = Workloads.catalog.map(q => q -> Workloads.moduleOf(q))
    val registry = SparkEntry.queries
    val passes = ArrayBuffer[Map[String, Any]]()
    val ops = ArrayBuffer[Map[String, Any]]()

    def timedPass(pass: Int): Double = {
      val order =
        if (pass == 0) queries
        else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val (_, passS) = trace.span(sc, 0L, "pass", s"pass-$pass", "") { passId =>
        order.foreach { case (name, module) =>
          var buildS, execS = Double.NaN
          val err =
            try {
              trace.span(sc, passId, "query", name, module) { qid =>
                val (df, b) = trace.span(sc, qid, "build", name, module)(
                  _ => registry(name)(spark, data))
                buildS = b
                execS = trace.span(sc, qid, "exec", name, module) { _ =>
                  if (pass == 0) df.write.mode("overwrite").parquet(s"$out/verify/$name")
                  else df.write.format("noop").mode("overwrite").save()
                }._2
              }
              None
            } catch {
              case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
            }
          val sweepS = trace.span(sc, passId, "sweep", name, "Ckpt")(
            _ => Ckpt.sweep(spark))._2
          ops += Map("pass" -> pass, "name" -> name, "module" -> module,
            "build_s" -> buildS, "exec_s" -> execS, "sweep_s" -> sweepS,
            "error" -> err)
        }
      }
      passes += Map("pass" -> pass, "wall_s" -> passS)
      passS
    }

    val t0 = trace.now()
    val deadline = t0 + seconds * 1e3
    (0 until FirstWarmPass + MinWarmPasses).foreach(timedPass)
    // more warm passes only while one like the last still fits
    var pass = FirstWarmPass + MinWarmPasses
    while (trace.now() + passes.last("wall_s").asInstanceOf[Double] * 1e3 <= deadline) {
      timedPass(pass)
      pass += 1
    }
    val t1 = trace.now()
    // what the block manager still holds after the last sweep is the
    // pinned memo artifacts
    val pinnedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val memo = graft.SessionCache.paysSnapshot
      .map { case (label, start, secs) => (label, trace.nanosToEpochMs(start), secs) }
      .filter(_._2 >= t0)
      .map { case (label, s, secs) =>
        trace.add(Span(trace.nextId(), 0L, "memo", label, s, s + secs * 1e3,
          Map("module" -> "SessionCache")))
        Map("label" -> label, "start" -> s, "secs" -> secs)
      }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(Workloads.catalog.filter(oracle.contains).map(n => n -> oracle(n)).toMap))

    Map("window" -> Map("start" -> t0, "end" -> t1), "passes" -> passes,
      "ops" -> ops, "memo" -> memo, "pinned_bytes" -> pinnedBytes,
      "first_warm_pass" -> FirstWarmPass)
  }
}
