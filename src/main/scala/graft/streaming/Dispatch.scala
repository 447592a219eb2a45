package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Execution-side operators: round-ordered fan-out (S11), background
  * dispatch sink (S23), bounded retry (S26) — the reference's process
  * orchestration re-expressed on Spark's own scheduler.
  *
  * The reference spawns one OS process per phase and polls files
  * (`commands/pulsar.md:230-262`); here a round is one Spark job whose
  * tasks are the phases — the cluster scheduler IS the fan-out, and
  * round barriers are job boundaries (exactly Catalyst's stage-barrier
  * notion restated at plan level, SURVEY.md §3 closing note).
  */
object Dispatch {

  /** S11 — execute a stratified plan round-by-round: phases within a
    * round run as parallel tasks (one Spark job per round = the round
    * barrier); returns the execution log (phase, round, jobSeq).
    * `work` runs on executors — it must be serializable and must not
    * touch the driver. */
  def executeRounds(strata: DataFrame, work: (Long, Int) => String): DataFrame = {
    val spark = strata.sparkSession
    import spark.implicits._
    // persist: the strata lineage is evaluated once for the round list
    // and once per round's filter — without this an expensive upstream
    // plan recomputes R+1 times
    val st = strata.persist()
    try {
      val rounds = st.select($"round").distinct()
        .orderBy($"round").collect().map(_.getInt(0))
      // driver iterates only over round *numbers* (bounded by DAG depth);
      // each round's phase set stays distributed
      val logs = rounds.zipWithIndex.map { case (r, seq) =>
        st.filter($"round" === r)
          .select($"plan".cast("long").as("plan"), $"phase".cast("int").as("phase"))
          .as[(Long, Int)]
          .map { case (plan, phase) => (plan, phase, r, seq, work(plan, phase)) }
          .toDF("plan", "phase", "round", "job_seq", "result")
          .transform(graft.Ckpt.cut) // run the round NOW, before the next starts
      }
      if (logs.isEmpty)
        // zero rounds is a legal input (a plan with no phases) — an
        // empty log, not an empty.reduce crash
        Seq.empty[(Long, Int, Int, Int, String)]
          .toDF("plan", "phase", "round", "job_seq", "result")
      else logs.reduce(_ unionByName _)
    } finally st.unpersist(blocking = false)
  }

  /** S26 — bounded retry (max 2, ref `commands/pulsar.md:677-683`):
    * wraps per-record work; returns (attempts, ok). */
  def withBoundedRetry[T](maxRetries: Int = 2)(work: () => T): (Int, Option[T]) = {
    var attempt = 0
    var result: Option[T] = None
    while (result.isEmpty && attempt <= maxRetries) {
      attempt += 1
      // NonFatal only: a bare `case _: Exception` would swallow
      // InterruptedException and keep retrying through a task
      // cancellation instead of propagating it
      try result = Some(work())
      catch { case scala.util.control.NonFatal(_) => () } // budget exhausted -> (n, None)
    }
    (attempt, result)
  }

  /** S23 — background dispatch sink: consume the queue stream one plan
    * per trigger and append a dispatch record (plan id, claim "pid" =
    * batch id, log line) to `outDir` — the nohup-spawn + PID-file +
    * log-tee of `scripts/pulsar-auto.sh:39-97` as a foreachBatch sink.
    * Returns the started query (AvailableNow trigger). */
  def dispatchSink(queue: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    queue.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a batch replayed after a
        // partial failure must not double-dispatch. Writing each batch
        // to its own batch_id=N directory with overwrite makes the
        // replay idempotent (the retry truncates its own directory);
        // readers see batch_id as a partition column via discovery.
        batch
          .withColumn("pid", lit(batchId))
          .withColumn("dispatched_at", current_timestamp())
          .withColumn("log", concat(lit("dispatched "), col("id"),
            lit(" for "), col("project")))
          .write.mode("overwrite").json(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()

  /** S27 — capability detection (ref `scripts/first-run.sh:104-160`):
    * probe the session for feature flags instead of PATH binaries. */
  def detectCapabilities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val conf = spark.conf
    Seq(
      ("spark_version", spark.version),
      ("codegen", conf.get("spark.sql.codegen.wholeStage", "true")),
      ("aqe", conf.get("spark.sql.adaptive.enabled", "false")),
      ("ansi", conf.get("spark.sql.ansi.enabled", "true")),
      ("shuffle_partitions", conf.get("spark.sql.shuffle.partitions")),
      ("session_tz", conf.get("spark.sql.session.timeZone")),
      ("streaming_state_store", conf.get("spark.sql.streaming.stateStore.providerClass", "default"))
    ).toDF("capability", "value")
  }

  /** S28 — research scatter-gather (ref `commands/nova.md:40-171`):
    * launch N independent sub-analyses of the same corpus and gather by
    * union; each branch is an independent subplan Spark runs in
    * parallel within one job. */
  def scatterGather(branches: Seq[DataFrame]): DataFrame =
    branches.reduce(_ unionByName _)
}
