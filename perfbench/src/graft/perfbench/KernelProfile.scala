package graft.perfbench

import graft.kernel.{DocType, SpanTemplates, TextKernel}
import graft.pipeline.ExtractionJob
import graft.schema.Turn

/** Single-threaded profile of the per-turn kernel, taken from outside: the
  * public stage methods are called in `TextKernel.process` order, each
  * timed on its own, and `ExtractionJob.processTurn` is timed whole on the
  * same turn, the two sides taking turns going first. Timing both sides
  * turn by turn lets drift on the box hit both alike.
  */
object KernelProfile {

  val Stages: Seq[String] =
    Seq("clean", "confused", "spelling", "patterns", "abbrev", "format", "validate")
  // spans.* and doctype.* run after the kernel inside processTurn
  val Steps: Seq[String] =
    Stages.map(s => s"kernel.${s}_ns") ++
      Seq("spans.identify_ns", "spans.extract_ns", "doctype.classify_ns")

  private final class Pass {
    val ns = new Array[Long](Steps.size)
    var wholeNs = 0L
    val changed = new Array[Long](Stages.size)
    var templateHits = 0L
    var errorRows = 0L
    var sink = 0
  }

  private def steps(k: TextKernel, p: Pass, text: String): Unit =
    if (text == null || text.isEmpty) p.errorRows += 1
    else {
      var cur = text
      var step = 0
      def stage(f: String => String): Unit = {
        val t0 = System.nanoTime()
        val out = f(cur)
        p.ns(step) += System.nanoTime() - t0
        if (out != cur) p.changed(step) += 1
        cur = out
        step += 1
      }
      stage(k.cleanText)
      stage(k.correctConfusedCharacters(_)._1)
      stage(k.correctSpelling(_)._1)
      stage(k.detectAndFormatPatterns(_)._1)
      stage(k.correctAbbreviations(_)._1)
      stage(k.formatText)
      stage(k.validateConsistency)
      val t1 = System.nanoTime()
      val tpl = SpanTemplates.identify(cur)
      val t2 = System.nanoTime()
      tpl.foreach(_.extractFields(cur))
      val t3 = System.nanoTime()
      DocType.classify(cur)
      val t4 = System.nanoTime()
      p.ns(step) += t2 - t1
      p.ns(step + 1) += t3 - t2
      p.ns(step + 2) += t4 - t3
      if (tpl.isDefined) p.templateHits += 1
    }

  private def whole(k: TextKernel, p: Pass, turn: Turn): Unit = {
    val t0 = System.nanoTime()
    p.sink += ExtractionJob.processTurn(k, turn).processed_length
    p.wholeNs += System.nanoTime() - t0
  }

  private def pass(k: TextKernel, turns: Array[Turn]): Pass = {
    val p = new Pass
    var i = 0
    while (i < turns.length) {
      if (i % 2 == 0) { steps(k, p, turns(i).text); whole(k, p, turns(i)) }
      else { whole(k, p, turns(i)); steps(k, p, turns(i).text) }
      i += 1
    }
    if (p.sink == -1) println(p.sink) // a use of the results, so the calls cannot be dropped
    p
  }

  /** Per-turn nanoseconds of every step and of `processTurn`, the part of
    * `processTurn` no step covers (row building; noise when negative), the
    * share of turns each stage rewrote, the template hit rate and error rows.
    */
  def run(turns: Array[Turn], passes: Int = 3): Map[String, Double] = {
    val k = new TextKernel
    val n = turns.length.toDouble
    val ps = (0 until passes).map(_ => pass(k, turns))
    val stepNs = Steps.indices.map(j => Steps(j) -> Stats.median(ps.map(_.ns(j) / n)))
    val processNs = Stats.median(ps.map(_.wholeNs / n))
    val last = ps.last
    (stepNs ++
      Stages.indices.map(j => s"kernel.${Stages(j)}.changed_frac" -> last.changed(j) / n) ++
      Seq(
        "kernel.process_turn_ns" -> processNs,
        "kernel.other_ns" -> (processNs - stepNs.map(_._2).sum),
        "spans.template_hit_frac" -> last.templateHits / n,
        "kernel.error_rows" -> last.errorRows.toDouble)).toMap
  }
}
