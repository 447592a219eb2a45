package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{PhaseStatus, ToolEvent}

/** The per-phase lifecycle state machine S12–S15 (SURVEY.md §2.1) as one
  * stateful streaming operator keyed by (plan_id, phase):
  *
  *  - claim CAS S12: the first `start` wins; later starts are ignored
  *    (no steal — ref `hooks/session-start.sh:60-67`,
  *    `hooks/status-tracker.sh:64-67`);
  *  - status upsert S13: every tool event bumps `tool_count`, records
  *    last_tool/last_file, refreshes `updated_at` — and a terminal
  *    status is never downgraded (ref `hooks/status-tracker.sh:133-139`);
  *  - finalize S14: stop events fold to completed/failed (ref
  *    `hooks/session-stop.sh:103-113`);
  *  - stall S15: no progress for `stallMinutes` of event time ⇒ emit a
  *    `stalled` record (ref `agents/orbiter.md:176-194` — 10 min rule),
  *    implemented with an event-time timeout against the watermark.
  *
  * The transition function is pure (`step`) so batch replay, streaming,
  * and unit tests share one semantics. State per key is O(1) — at 100 TB
  * scale the state store shards by key across executors; no key ever
  * holds more than one small record.
  */
object Lifecycle {

  val StallMinutes = 10

  case class PhaseState(
      status: String,
      toolCount: Int,
      lastTool: Option[String],
      lastFile: Option[String],
      startedAt: Timestamp,
      updatedAt: Timestamp,
      completedAt: Option[Timestamp])

  def isTerminal(status: String): Boolean =
    status == "completed" || status == "failed"

  /** Pure transition: fold one event into the (optional) current state.
    * Mirrors the reference's guards exactly. */
  def step(cur: Option[PhaseState], e: ToolEvent): Option[PhaseState] = cur match {
    case None =>
      // First event claims the phase (even a tool event self-heals a
      // missing `starting` record — ref status-tracker.sh:142-143).
      val st = e.kind match {
        case "start"          => "starting"
        case "stop_completed" => "completed"
        case "stop_failed"    => "failed"
        case _                => "running"
      }
      Some(PhaseState(st, if (e.kind == "tool") 1 else 0,
        Option(e.tool).filter(_.nonEmpty), e.file,
        e.at, e.at, if (isTerminal(st)) Some(e.at) else None))
    case Some(s) if isTerminal(s.status) =>
      // no downgrade, no steal: terminal state absorbs everything
      Some(s)
    case Some(s) =>
      e.kind match {
        case "start" => Some(s) // claim already held; refuse to steal
        case "tool" =>
          Some(s.copy(status = "running", toolCount = s.toolCount + 1,
            lastTool = Option(e.tool).filter(_.nonEmpty).orElse(s.lastTool),
            lastFile = e.file.orElse(s.lastFile),
            updatedAt = e.at))
        case "stop_completed" =>
          Some(s.copy(status = "completed", updatedAt = e.at, completedAt = Some(e.at)))
        case "stop_failed" =>
          Some(s.copy(status = "failed", updatedAt = e.at, completedAt = Some(e.at)))
        case _ => Some(s)
      }
  }

  private def toStatus(key: (String, Int, String), s: PhaseState): PhaseStatus =
    PhaseStatus(s"phase-${key._2}-${key._1}", key._3, key._1, key._2, None,
      s.status, s.toolCount, s.lastTool, s.lastFile,
      s.updatedAt, s.startedAt, s.completedAt)

  /** Streaming form: events → status updates, one record per key per
    * micro-batch, plus `stalled` records when the event-time watermark
    * passes updated_at + stallMinutes. */
  def statusStream(events: Dataset[ToolEvent],
      watermarkDelay: String = "10 seconds"): Dataset[PhaseStatus] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("at", watermarkDelay)
      .groupByKey(e => (e.plan_id, e.phase, e.project))
      .flatMapGroupsWithState[PhaseState, PhaseStatus](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (key, it, state: GroupState[PhaseState]) =>
          if (state.hasTimedOut) {
            // S15: stalled — emit, mark, and stop the clock (the
            // reference kills the process and logs one incident)
            val s = state.get
            val stalled = s.copy(status = "stalled")
            state.update(stalled)
            Iterator.single(toStatus(key, stalled))
          } else {
            // Sort at MICROSECOND precision: Timestamp.getTime truncates to
            // millis, which would let the kind-string tiebreak reorder two
            // events 800 µs apart (a stop before the tool it follows) —
            // the same truncation class TemporalJoin.us() exists to avoid.
            val sorted = it.toSeq.sortBy(e => (TemporalJoin.us(e.at), e.kind))
            val init: Option[PhaseState] = state.getOption
            val fin = sorted.foldLeft(init)(step)
            fin match {
              case Some(s) =>
                state.update(s)
                if (!isTerminal(s.status) && s.status != "stalled") {
                  // Clamp to just past the watermark: an allowed-late event
                  // (watermarkDelay > StallMinutes) can have updatedAt +
                  // stall below the current watermark, and
                  // setTimeoutTimestamp rejects timestamps <= watermark —
                  // uncaught, that kills the whole streaming query. The
                  // clamp makes such a key stall on the next batch instead.
                  val target = s.updatedAt.getTime + StallMinutes * 60000L
                  state.setTimeoutTimestamp(
                    math.max(target, state.getCurrentWatermarkMs() + 1L))
                }
                Iterator.single(toStatus(key, s))
              case None => Iterator.empty
            }
          }
      }
  }

  /** Batch replay of an event log → final status per phase. Same `step`
    * fold; used by q44 and anywhere a status table must be rebuilt from
    * the event stream (event sourcing). */
  def replayBatch(events: Dataset[ToolEvent]): Dataset[PhaseStatus] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.plan_id, e.phase, e.project))
      .flatMapGroups { (key, it) =>
        // micros, not getTime millis — see statusStream
        val sorted = it.toSeq.sortBy(e => (TemporalJoin.us(e.at), e.kind))
        sorted.foldLeft(Option.empty[PhaseState])(step)
          .map(s => toStatus(key, s)).iterator
      }
  }
}
