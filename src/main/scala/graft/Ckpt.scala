package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Block-manager hygiene for the long-lived sessions the driver runs
  * (one JVM, 100+ queries back-to-back, warmup + timed passes).
  *
  * `localCheckpoint(eager = true)` blocks are never freed when the
  * DataFrame goes out of scope, so a full catalog run accumulates every
  * query's intermediates in the block manager — by mid-run, storage
  * memory is doing eviction/GC work that gets billed to whichever query
  * is executing. `sweep()` frees everything between queries, EXCEPT
  * checkpoints registered through `pinned()` or `pin()` — those back
  * cross-query memo caches (Stratify's strata, Dedup's pair set) whose
  * lineage is truncated and therefore cannot be recomputed if their
  * blocks vanish.
  */
object Ckpt {
  // Pins are scoped by applicationId: a bare rdd-id set would grow
  // monotonically across sessions, and a stale id from a dead context
  // could collide with (and wrongly protect) a live context's rdd.
  private val pinnedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** THE eager cut — every multi-consumer materialization site routes
    * through here (optimization r20, VERDICT r19 item 5).
    *
    * Mode `spark.graft.ckpt.mode`:
    *  - `local` (default): `localCheckpoint(eager = true)`. Right for
    *    local mode and for clusters that accept the trade: blocks are
    *    EXECUTOR-LOCAL and UNREPLICATED, and the lineage is truncated —
    *    losing one executor mid-query kills the job unrecoverably
    *    (Spark cannot recompute a truncated lineage). It is also raw
    *    row blocks outside the §5 spill discipline: storage eviction,
    *    not graceful spill, under memory pressure.
    *  - `reliable`: `checkpoint(eager = true)` to the checkpoint dir
    *    (`spark.graft.ckpt.dir`, else <java.io.tmpdir>/graft-ckpt —
    *    point it at durable shared storage on a real cluster). Survives
    *    executor loss; costs a write+read of the cut frame through the
    *    checkpoint store. The 100 TB default for long jobs on
    *    preemptible capacity.
    * Both modes yield a LogicalRDD-backed frame, so `pinned`/`free`/
    * `sweep` work identically (a reliable-checkpoint RDD's unpersist is
    * a no-op; its files are reaped with the checkpoint dir). Callers
    * chain it as `.transform(graft.Ckpt.cut)`. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.ckpt.mode").map(_.trim).getOrElse("local") match {
      case "reliable" =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            s.conf.getOption("spark.graft.ckpt.dir").getOrElse(
              sys.props("java.io.tmpdir") + "/graft-ckpt"))
        df.checkpoint(eager = true)
      case "local" => df.localCheckpoint(eager = true)
      case other => throw new IllegalArgumentException(
        s"spark.graft.ckpt.mode must be local|reliable, got '$other'")
    }
  }

  /** Eager cut whose blocks survive `sweep` — use ONLY for
    * DataFrames memoized across queries. */
  def pinned(df: DataFrame): DataFrame = pin(cut(df))

  /** Pin a frame that is ALREADY the output of `cut` — a memo build
    * that ends in its own cut — so its blocks survive `sweep` without a
    * second checkpoint. Returns `df` itself.
    *
    * Pins by the checkpointed DataFrame's OWN rdd id: `localCheckpoint`
    * returns a Dataset whose analyzed plan is the `LogicalRDD` wrapping
    * exactly the persisted RDD, so that id is read off the plan. (The
    * previous implementation diffed `getPersistentRDDs` around the call,
    * which permanently pinned any `.persist()` issued by a concurrent
    * thread during the window.) `LogicalRDD.rdd` is `private[sql]`,
    * which erases to a public accessor in bytecode — reflection reaches
    * it without copying Spark internals. */
  def pin(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val rdd =
      try plan.getClass.getMethod("rdd").invoke(plan)
        .asInstanceOf[org.apache.spark.rdd.RDD[_]]
      catch {
        case e: Exception => throw new IllegalStateException(
          s"Ckpt.pin: expected a LogicalRDD plan from Ckpt.cut, " +
            s"got ${plan.getClass.getName}", e)
      }
    pinnedIds.add((rdd.context.applicationId, rdd.id))
    df
  }

  /** Free one localCheckpoint's blocks NOW — for iterative fixpoints
    * that supersede a checkpointed table every round: without this, a
    * k-round loop holds k full table copies in executor storage until
    * the post-query sweep. No-op on non-checkpoint plans. */
  def free(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    try plan.getClass.getMethod("rdd").invoke(plan)
      .asInstanceOf[org.apache.spark.rdd.RDD[_]].unpersist(false)
    catch { case _: Exception => () }
  }

  /** Free all persisted blocks except pinned ones. Dataset-level caches
    * (`.persist()`) are cleared via the cache manager first — those have
    * full lineage and recompute gracefully if ever re-used; truncated
    * localCheckpoint RDDs are unpersisted only when not pinned. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val app = spark.sparkContext.applicationId
    val live = spark.sparkContext.getPersistentRDDs
    live.foreach { case (id, rdd) =>
      if (!pinnedIds.contains((app, id))) rdd.unpersist(blocking = false)
    }
    // prune pins whose blocks are gone (unpersisted elsewhere, or from
    // this app's earlier life) so the set stays bounded by live pins
    pinnedIds.removeIf(p => p._1 == app && !live.contains(p._2))
  }
}
