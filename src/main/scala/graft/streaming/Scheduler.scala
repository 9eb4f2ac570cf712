package graft.streaming

import java.nio.file.Path
import java.time.{DayOfWeek, Instant, ZonedDateTime, ZoneId, ZoneOffset}
import java.time.temporal.TemporalAdjusters

import graft.pipeline.Json

/** Interval/daily/weekly job scheduling — the engine-shaped analog of the
  * reference's automation scheduler (/root/reference/src/automation/
  * scheduler.py:42-160 schedule types; :437-536 run loop). Design split:
  *
  *   - a SCHEDULE is pure arithmetic over epoch millis (`nextAfter`) —
  *     deterministic and unit-testable with no threads or clocks;
  *   - a JOB couples a schedule to an action — in this engine typically a
  *     `Trigger.AvailableNow` drain ([[StreamingExtract.runAvailableNow]],
  *     the Spark analog of the reference's "process the watched folder
  *     now") or a [[graft.pipeline.CurationJob]] resume (idempotent by
  *     construction, so an extra tick is harmless);
  *   - the RUNNER owns only last-run state, a JSON object of job name →
  *     epoch ms committed through [[graft.pipeline.Json]] (tmp file +
  *     atomic rename), so a restarted scheduler resumes where it left off
  *     (the reference keeps next_execution in its config store,
  *     scheduler.py:95-116).
  *
  * Catch-up semantics mirror the reference: when several periods elapsed
  * while the process was down, a due job runs ONCE and its clock resets
  * to the tick that ran — no backfill storm (safe because the actions
  * this engine schedules are resumable/idempotent jobs, not deltas).
  */
object Scheduler {

  sealed trait Schedule {
    /** First due instant STRICTLY after `afterMs`. */
    def nextAfter(afterMs: Long): Long
  }

  final case class Interval(periodMs: Long) extends Schedule {
    require(periodMs > 0, "interval period must be positive")
    def nextAfter(afterMs: Long): Long = afterMs + periodMs
  }

  final case class Daily(
      hour: Int, minute: Int, zone: ZoneId = ZoneOffset.UTC) extends Schedule {
    // validate EAGERLY (like Interval): nextAfter is called from due()
    // outside runPending's per-job isolation, so a lazily-thrown
    // DateTimeException would kill the whole runner on every tick
    require(hour >= 0 && hour <= 23, s"hour must be 0..23, got $hour")
    require(minute >= 0 && minute <= 59, s"minute must be 0..59, got $minute")
    def nextAfter(afterMs: Long): Long = {
      val t = ZonedDateTime.ofInstant(Instant.ofEpochMilli(afterMs), zone)
      val cand = t.withHour(hour).withMinute(minute).withSecond(0).withNano(0)
      val next = if (cand.toInstant.toEpochMilli > afterMs) cand else cand.plusDays(1)
      next.toInstant.toEpochMilli
    }
  }

  final case class Weekly(
      day: DayOfWeek, hour: Int, minute: Int,
      zone: ZoneId = ZoneOffset.UTC) extends Schedule {
    require(hour >= 0 && hour <= 23, s"hour must be 0..23, got $hour")
    require(minute >= 0 && minute <= 59, s"minute must be 0..59, got $minute")
    def nextAfter(afterMs: Long): Long = {
      val t = ZonedDateTime.ofInstant(Instant.ofEpochMilli(afterMs), zone)
      val cand = t.`with`(TemporalAdjusters.nextOrSame(day))
        .withHour(hour).withMinute(minute).withSecond(0).withNano(0)
      val next = if (cand.toInstant.toEpochMilli > afterMs) cand else cand.plusWeeks(1)
      next.toInstant.toEpochMilli
    }
  }

  final case class Job(
      name: String, schedule: Schedule, action: () => Unit,
      enabled: Boolean = true)

  /** Due/ran bookkeeping with optional persistence. `startMs` anchors
    * jobs that have never run (their first due tick is
    * `schedule.nextAfter(startMs)` — registering a job does not fire it
    * immediately, scheduler.py:118-128).
    */
  final class Runner(
      jobs: Seq[Job], startMs: Long, stateFile: Option[Path] = None) {
    require(jobs.map(_.name).distinct.size == jobs.size, "job names must be unique")

    // the state file is a local path, so it is addressed as file:// even
    // when the active session's default filesystem is not local
    private val statePath = stateFile.map(_.toUri.toString)
    private val lastRun = scala.collection.mutable.Map.empty[String, Long]
    statePath.flatMap(Json.read[Map[String, Long]](_)).foreach(lastRun ++= _)

    private def anchor(j: Job): Long = lastRun.getOrElse(j.name, startMs)

    def nextDue(j: Job): Long = j.schedule.nextAfter(anchor(j))

    def due(nowMs: Long): Seq[Job] =
      jobs.filter(j => j.enabled && nextDue(j) <= nowMs)

    /** Execute every due enabled job once; persist state; return names
      * executed successfully (in registration order — the reference's
      * list order). A throwing action is ISOLATED: later due jobs still
      * run, successful jobs' clocks still persist (so a restart never
      * replays them), and the failed job stays due — it retries next
      * tick (the reference's error path logs and continues,
      * scheduler.py:468-476).
      */
    def runPending(nowMs: Long): Seq[String] = {
      val ran = scala.collection.mutable.ListBuffer.empty[String]
      due(nowMs).foreach { j =>
        try {
          j.action()
          lastRun(j.name) = nowMs
          ran += j.name
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scheduler] job '${j.name}' failed: ${e.getMessage}")
        }
      }
      // persistence failure must not kill the runner either: the tick
      // already executed; losing the state write means an idempotent
      // replay after restart (documented), not a crash. The next
      // successful tick re-persists the full map.
      if (ran.nonEmpty) {
        try persist()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[scheduler] state persist failed (tick will replay after " +
                s"a restart): ${e.getMessage}")
        }
      }
      ran.toSeq
    }

    private def persist(): Unit =
      statePath.foreach(Json.write(_, scala.collection.immutable.TreeMap.from(lastRun)))

    /** Production convenience loop (scheduler.py:437-466's
      * check-every-minute thread, minus the thread — callers own the
      * lifecycle). Polls until `untilMs`.
      */
    def loop(pollMs: Long, untilMs: Long): Unit = {
      require(pollMs > 0, s"pollMs must be positive, got $pollMs")
      var now = System.currentTimeMillis()
      while (now < untilMs) {
        runPending(now)
        Thread.sleep(math.min(pollMs, math.max(1L, untilMs - now)))
        now = System.currentTimeMillis()
      }
    }
  }
}
