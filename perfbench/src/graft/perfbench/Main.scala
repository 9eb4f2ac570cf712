package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Runs one workload: set-up, warm-up, then a closed loop of operations for
  * the given seconds, one after another on one local-mode Spark session.
  * Prints `RESULT <json>` with the raw metric values; perfbench/run.py
  * attaches the units from BENCHMARK.json.
  *
  * With `--trace 0` the loop is untraced and the end-to-end metrics are
  * reported. With `--trace 1` untraced and traced operations alternate,
  * the traced ones record spans and Spark listener facts, and the layer
  * metrics plus the tracing overhead are reported.
  */
object Main {
  // The first operations in a JVM run up to twice as long as later ones
  // (JIT, code generation caches), and 1-2 s operations keep getting faster
  // for several more; warm-up runs at least this many operations and
  // seconds before timing starts.
  private val Warmups = 2
  private val WarmupSeconds = 8.0
  private val ClosureTolerance = 0.10

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"--$k required"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work-dir")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - opt("t0-ms").toLong) / 1e3

    val w = Workload(name, Ctx(spark, seed, cores, work))
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    // one attempted operation: it fails if it throws or its check reports errors
    def attempt(what: String)(f: => Seq[String]): Boolean = {
      attempted += 1
      val errs = try f catch { case NonFatal(e) => Seq(s"threw $e") }
      if (errs.nonEmpty) failed += 1
      failures ++= errs.map(e => s"$what: $e")
      errs.isEmpty
    }
    def runOp(i: Int, sp: Spans): Option[(Long, Double)] = {
      var timed = (0L, 0.0)
      val ok = attempt(s"op $i") {
        w.prepare(i)
        timed = Stats.time(sp.span("op")(w.op(i, sp)))
        w.check(i)
      }
      if (ok) Some(timed) else None
    }

    // ---- set-up: start-up, input generation, the reference outputs and
    // the warm-up operations
    val genS = Stats.seconds(w.generate())
    val refS = Stats.seconds(w.reference())
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmS = Stats.seconds {
      val warmStart = System.nanoTime()
      while (warm.size < Warmups || (System.nanoTime() - warmStart) / 1e9 < WarmupSeconds)
        warm += runOp(warm.size, NoSpans).fold(Double.NaN)(_._2)
    }
    val setupS = startS + genS + refS + warmS
    System.err.println(f"perfbench: set-up $setupS%.2f s = start $startS%.2f + generate $genS%.2f" +
      f" + reference $refS%.2f + warm-up $warmS%.2f (" + warm.map(w => f"$w%.2f").mkString(" ") + ")")

    attempt("expected.json")(Expected.check(opt("expected"), name, seed, w.observed))

    // ---- measured loop
    val tracer =
      if (trace) Some(new Tracer(s"$name-s$seed-${System.currentTimeMillis()}", spark.sparkContext))
      else None
    val minOps = if (trace) 4 else 2
    val ops = mutable.ArrayBuffer.empty[(Int, Long, Double, Boolean)]
    HeapPeak.reset()
    val loopStart = System.nanoTime()
    var i = warm.size
    while (i < warm.size + minOps || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      // traced, untraced, untraced, traced, ...: a drift cancels out of the overhead
      val traced = tracer.isDefined && (i % 4 == 1 || i % 4 == 2)
      if (traced) tracer.get.listen(true)
      val r = runOp(i, if (traced) tracer.get else NoSpans)
      if (traced) tracer.get.listen(false)
      r.foreach { case (rows, sec) => ops += ((i, rows, sec, traced)) }
      i += 1
    }
    if (ops.count(!_._4) == 0 || (trace && ops.count(_._4) == 0))
      sys.error(s"no timed operation succeeded: ${failures.mkString("; ")}")
    val heapMb = HeapPeak.peakMb
    System.err.println(s"perfbench: ${ops.size} timed operations: " +
      ops.map(o => f"${o._3}%.2f${if (o._4) "t" else ""}").mkString(" "))

    val values: Map[String, Double] = tracer match {
      case None =>
        Map("setup_s" -> setupS,
          "rows_per_s" -> Stats.median(ops.map(o => o._2 / o._3).toSeq))
      case Some(t) =>
        val untracedS = Stats.median(ops.filterNot(_._4).map(_._3).toSeq)
        val tracedOps = ops.filter(_._4).map(_._1).toSeq
        var measured = Map.empty[String, Double]
        attempt("layer pass") { measured = w.layers(tracedOps); Nil }
        val layer = measured ++ SpanMetrics(t) + ("jvm.heap_peak_mb" -> heapMb) +
          ("trace.overhead_frac" -> (Stats.median(ops.filter(_._4).map(_._3).toSeq) / untracedS - 1))
        System.err.println(s"perfbench: spans written to ${t.write(opt("trace-dir"))}")
        val gaps = closureGaps(layer)
        gaps.foreach { case (name, gap) =>
          System.err.println(f"perfbench: $name = ${gap * 100}%+.1f%% unattributed")
        }
        attempt("closure check") {
          gaps.toSeq.sorted.collect { case (name, gap) if math.abs(gap) > ClosureTolerance =>
            f"$name = $gap%+.3f, beyond $ClosureTolerance%.2f either way" }
        }
        layer ++ gaps
    }
    failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))

    val json = JObject(
      "correct" -> JBool(failures.isEmpty),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "values" -> JObject(values.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
    println("RESULT " + JsonMethods.compact(JsonMethods.render(json)))
    spark.stop()
  }

  /** The traced run's closure checks, as the share of the whole that the
    * parts leave unattributed: the kernel steps against processTurn, and
    * scan + encode + extract + assemble against the extract-assemble
    * operation. A gap beyond [[ClosureTolerance]] either way fails the run.
    */
  private def closureGaps(v: Map[String, Double]): Map[String, Double] =
    (v.get("kernel.other_ns").map(o => "closure.kernel_gap_frac" -> o / v("kernel.process_turn_ns")) ++
      v.get("extraction_job.other_s").map(o => "closure.extraction_gap_frac" ->
        o / (o + Seq("scan", "encode", "extract", "assemble").map(l => v(s"extraction_job.${l}_s")).sum))).toMap
}

/** Layer metrics read from the traced operations' spans and tasks. */
object SpanMetrics {
  def apply(t: Tracer): Map[String, Double] = {
    val all = t.spans
    val self = t.selfMs(all)
    val kids = all.groupBy(_.parent)
    val opSpans = all.filter(_.name == "op")
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val perOp = opSpans.map(t.tasksIn)
    val spark = Map(
      "spark.task_busy_s" -> med(perOp.map(_.map(_.runS).sum)),
      "spark.task_s_max" -> med(perOp.map(ts => if (ts.isEmpty) 0.0 else ts.map(_.durS).max)),
      "spark.task_s_p50" -> med(perOp.map(ts => med(ts.map(_.durS)))),
      "spark.scheduler_delay_s" -> med(perOp.map(_.map(_.schedDelayS).sum)),
      "spark.gc_s" -> med(perOp.map(_.map(_.gcS).sum)),
      "spark.shuffle_write_mb" -> med(perOp.map(_.map(_.shuffleWriteB).sum / 1e6)),
      "spark.spill_mb" -> med(perOp.map(_.map(_.spillB).sum / 1e6)),
      "spark.peak_exec_mem_mb" -> med(perOp.map(ts => if (ts.isEmpty) 0.0 else ts.map(_.peakExecB).max / 1e6)),
      "spark.failed_tasks" -> perOp.map(_.count(_.failed)).sum.toDouble)
    val runs = all.filter(_.name == "checkpoint.run")
    val checkpoint =
      if (runs.isEmpty) Map.empty[String, Double]
      else {
        val jobs = runs.map(r => kids.getOrElse(r.id, Nil).filter(_.name.startsWith("spark.job.")))
        Map(
          "checkpoint.jobs" -> med(jobs.map(_.size.toDouble)),
          "checkpoint.job_s" -> med(jobs.map(js => Tracer.unionMs(js.map(j => (j.start, j.end))) / 1e3)),
          "checkpoint.driver_gap_s" -> med(runs.map(r => self(r.id) / 1e3)))
      }
    spark ++ checkpoint
  }
}

/** Outputs pinned for the default seed in perfbench/expected.json. The
  * kernel probe is checked on every seed; the rest on the default seed.
  */
object Expected {
  private def load(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  private def defaultSeed(j: JValue): Long = j \ "default_seed" match {
    case JInt(s) => s.toLong
    case other => sys.error(s"expected.json: bad default_seed $other")
  }

  def check(path: String, workload: String, seed: Long, got: Map[String, String]): Seq[String] = {
    val j = load(path)
    val probe = (j \ "kernel_probe", got.get("kernel_probe")) match {
      case (JString(p), Some(_)) => Map("kernel_probe" -> p)
      case _ => Map.empty[String, String]
    }
    val pinned =
      if (seed != defaultSeed(j)) Map.empty[String, String]
      else j \ "workloads" \ workload match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => return Seq(s"expected.json has no entry for $workload")
      }
    (probe ++ pinned).toSeq.sorted.collect {
      case (k, v) if !got.get(k).contains(v) =>
        s"expected.json $workload.$k = $v, this run produced ${got.getOrElse(k, "nothing")}"
    }
  }
}
