package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a traced run. Times are epoch milliseconds.
  * `parent` is the id of the span that caused this one (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-task facts kept by [[Tracer]]'s listener (seconds and bytes). */
final case class TaskFacts(
    startMs: Long, durS: Double, runS: Double, schedDelayS: Double,
    gcS: Double, shuffleWriteB: Long, spillB: Long, peakExecB: Long,
    failed: Boolean)

/** Span recorder for the traced run. Harness spans are opened around calls
  * into the engine's public functions; Spark jobs are recorded by a
  * `SparkListener` the tracer registers itself, and each job is parented
  * afterwards to the innermost harness span that contains its start.
  * Everything stays in memory until [[write]].
  */
final class Tracer(val runId: String, sc: SparkContext) extends Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val harness = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Double)]
  private var nextId = 0
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[TaskFacts]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val f =
        if (m == null) TaskFacts(i.launchTime, i.duration / 1e3, 0, 0, 0, 0, 0, 0, failed = true)
        else {
          val gettingResult =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult
          TaskFacts(i.launchTime, i.duration / 1e3, m.executorRunTime / 1e3,
            math.max(0L, delay) / 1e3, m.jvmGCTime / 1e3,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
            m.peakExecutionMemory, failed = !i.successful)
        }
      Tracer.this.synchronized { tasks += f }
    }
  }

  /** Start (true) or stop (false) recording Spark jobs and tasks. */
  def listen(on: Boolean): Unit =
    if (on) sc.addSparkListener(listener)
    else {
      // wait until the listener has seen every event posted so far
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }


  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, nowMs))
    try f
    finally {
      val (_, start) = open.pop()
      harness += Span(id, name, parent, start, nowMs)
    }
  }

  /** Harness spans plus one span per Spark job, each job parented to the
    * innermost harness span containing its start.
    */
  def spans: Seq[Span] = synchronized {
    val hs = harness.toSeq
    val js = jobs.toSeq.sortBy(_._2).zipWithIndex.map { case ((jobId, s, e), k) =>
      val parent = hs.filter(h => h.start <= s && s <= h.end)
        .sortBy(_.dur).headOption.map(_.id).getOrElse(-1)
      Span(nextId + k, s"spark.job.$jobId", parent, s.toDouble, e.toDouble)
    }
    hs ++ js
  }

  /** A span's duration minus the part of it its children cover (ms). */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionMs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Tasks that started inside `s`. */
  def tasksIn(s: Span): Seq[TaskFacts] = synchronized {
    tasks.filter(t => t.startMs >= s.start && t.startMs <= s.end).toSeq
  }

  /** Write every span, with its self time, as one JSON object per line. */
  def write(dir: String): String = {
    val all = spans
    val self = selfMs(all)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val path = s"$dir/$runId.jsonl"
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${self(s.id)}%.3f}""")
    } finally w.close()
    path
  }
}

object Tracer {
  /** Length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
