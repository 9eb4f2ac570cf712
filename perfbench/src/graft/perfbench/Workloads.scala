package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Checkpoint, CurationJob, DocGen, ExtractionJob, Fs, TranscriptGen}
import graft.schema.{ExtractedTurn, Turn}

/** Wraps calls into the engine in named spans (a no-op when untraced). */
trait Spans {
  def span[A](name: String)(f: => A): A
}

object NoSpans extends Spans {
  def span[A](name: String)(f: => A): A = f
}

final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: String)

/** One workload: inputs generated from the seed, an operation the loop
  * repeats, and the check of each operation's outputs.
  */
abstract class Workload(val ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark

  /** Writes the generated input; once, in set-up. */
  def generate(): Unit

  /** Computes what the checks compare against; once, in set-up. */
  def reference(): Unit

  /** Untimed preparation of operation `i`. */
  def prepare(i: Int): Unit = ()

  /** Operation `i`, timed; returns the input rows it processed. */
  def op(i: Int, sp: Spans): Long

  /** Checks operation `i`'s outputs; returns the failures. */
  def check(i: Int): Seq[String]

  /** Outputs pinned in expected.json for the default seed. */
  def observed: Map[String, String]

  /** Layer metrics measured from outside after the traced loop. */
  def layers(tracedOps: Seq[Int]): Map[String, Double]

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def medianSeconds(reps: Int)(f: => Any): Double =
    Stats.median((1 to reps).map(_ => Stats.seconds(f)))
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract-assemble" => new ExtractAssemble(ctx)
    case "extract-cold"     => new ExtractCold(ctx)
    case "curate"           => new Curate(ctx)
    case other              => sys.error(s"unknown workload '$other'")
  }

  /** Order-independent digest "rows:sum of row hashes" of extracted turns. */
  def digest(df: DataFrame): String = {
    val r = df
      .select(xxhash64(col("conv_id"), col("turn_idx"), col("text_clean"),
        col("doc_type"), col("template"), col("spans")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}

/** Shared by the workloads over a transcript table. */
abstract class TranscriptWorkload(ctx: Ctx, targetTurns: Long) extends Workload(ctx) {
  import TranscriptWorkload._

  // Shifting by a multiple of 97 keeps every 97th conversation a 50x giant.
  protected val firstConv: Long = Math.floorMod(ctx.seed, 10000L) * 97L * 1000L
  protected val nTurns: Long = targetTurns
  protected val nConvs: Long = convsFor(firstConv, nTurns)._1
  protected val table = s"${ctx.work}/turns"

  def generate(): Unit =
    turnsOf(spark, firstConv, nTurns, ctx.cores * 4)
      .write.mode("overwrite").parquet(table)

  protected def turns: Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(table).as[Turn]
  }

  /** Seconds of each leg in each of `LegReps` rounds; the legs run in turn
    * so that drift on the box reaches all of them alike.
    */
  protected def legRounds(legs: (String, () => Unit)*): Seq[Map[String, Double]] =
    (1 to LegReps).map(_ => legs.map { case (n, f) => n -> Stats.seconds(f()) }.toMap)

  protected def medians(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.head.keys.map(n => n -> Stats.median(rounds.map(_(n)))).toMap

  /** The legs over the whole table at full width: scan (parquet decode),
    * encode (rows to objects and back through an identity mapPartitions),
    * extract (the kernel inside mapPartitions).
    */
  protected def extractionLegs: Seq[(String, () => Unit)] = {
    import spark.implicits._
    Seq(
      "scan" -> (() => noop(spark.read.parquet(table))),
      "encode" -> (() => noop(turns.mapPartitions(identity).toDF())),
      "extract" -> (() => noop(ExtractionJob.extract(turns).toDF())))
  }

  /** The legs as increments: each layer's time over the one below it. */
  protected def extractionLayers(t: Map[String, Double]): Map[String, Double] =
    Map("extraction_job.scan_s" -> t("scan"), "extraction_job.encode_s" -> (t("encode") - t("scan")),
      "extraction_job.extract_s" -> (t("extract") - t("encode")))

  protected def kernelProfile(): Map[String, Double] = {
    val sample = Iterator.iterate(firstConv)(_ + 1)
      .flatMap(c => (0 until TranscriptGen.convTurns(c)).iterator.map(TranscriptGen.makeTurn(c, _)))
      .take(ProfileTurns).toArray
    KernelProfile.run(sample)
  }
}

object TranscriptWorkload {
  val ProbeTurns = 10000L
  val ProfileTurns = 10000
  val LegReps = 9

  /** How many conversations from `first` hold `total` turns, and how many
    * turns of the last one are needed.
    */
  def convsFor(first: Long, total: Long): (Long, Int) = {
    var n = 0L
    var t = 0L
    while (t < total) { t += TranscriptGen.convTurns(first + n); n += 1 }
    (n, (TranscriptGen.convTurns(first + n - 1) - (t - total)).toInt)
  }

  /** The first `total` turns of conversations `first`, `first + 1`, ...:
    * the last conversation is cut short, so every seed gives one
    * operation the same number of turns.
    */
  def turnsOf(spark: SparkSession, first: Long, total: Long, parts: Int): Dataset[Turn] = {
    import spark.implicits._
    val (n, lastTurns) = convsFor(first, total)
    val last = first + n - 1
    spark.range(first, first + n, 1, parts).flatMap { c =>
      val k = if (c == last) lastTurns else TranscriptGen.convTurns(c)
      (0 until k).iterator.map(t => TranscriptGen.makeTurn(c, t))
    }
  }
}

/** ExtractionJob.extract → assemble → classifyConversations → noop. */
final class ExtractAssemble(ctx: Ctx) extends TranscriptWorkload(ctx, 80000L) {
  private val last = mutable.Map.empty[Int, (Long, Long)]
  private var probe = ""

  /** Digest of extraction over a fixed slice of the default corpus, so a
    * change of the kernel's outputs fails runs of any seed.
    */
  def reference(): Unit = probe = Workload.digest(ExtractionJob.extract(
    TranscriptWorkload.turnsOf(spark, 0L, TranscriptWorkload.ProbeTurns, ctx.cores)).toDF())

  private def pipeline(extracted: Dataset[ExtractedTurn]): DataFrame =
    ExtractionJob.classifyConversations(ExtractionJob.assemble(extracted))

  def op(i: Int, sp: Spans): Long = {
    val obs = Observation(s"assemble-$i")
    sp.span("extraction_job.extract_assemble") {
      noop(pipeline(ExtractionJob.extract(turns))
        .observe(obs, count(lit(1)).as("convs"), sum(col("n_turns")).as("turns")))
    }
    val m = obs.get
    last(i) = (m("convs").asInstanceOf[Long], m("turns").asInstanceOf[Long])
    nTurns
  }

  def check(i: Int): Seq[String] = {
    val (c, t) = last.remove(i).get
    Seq(s"conversations $c != $nConvs" -> (c != nConvs),
      s"summed n_turns $t != $nTurns" -> (t != nTurns)).collect { case (m, true) => m }
  }

  def observed: Map[String, String] = Map("kernel_probe" -> probe,
    "conversations" -> nConvs.toString, "turns" -> nTurns.toString)

  /** Adds assemble (assemble and classify over the materialised extract,
    * minus its scan) and the whole operation. The part of the operation the
    * four layers do not cover, `extraction_job.other_s`, is taken round by
    * round, so drift between rounds stays out of it.
    */
  def layers(tracedOps: Seq[Int]): Map[String, Double] = {
    import spark.implicits._
    val extracted = s"${ctx.work}/extracted"
    ExtractionJob.extract(turns).write.mode("overwrite").parquet(extracted)
    val rounds = legRounds(extractionLegs ++ Seq(
      "scanX" -> (() => noop(spark.read.parquet(extracted))),
      "assemble" -> (() => noop(pipeline(spark.read.parquet(extracted).as[ExtractedTurn]))),
      "op" -> (() => noop(pipeline(ExtractionJob.extract(turns))))): _*)
    val t = medians(rounds)
    // the four layers of one round add up to extract + assemble - scanX
    val other = Stats.median(rounds.map(r => r("op") - (r("extract") + r("assemble") - r("scanX"))))
    extractionLayers(t) ++ kernelProfile() ++ Map(
      "extraction_job.assemble_s" -> (t("assemble") - t("scanX")),
      "extraction_job.other_s" -> other)
  }
}

/** Checkpoint.run into a fresh store with 64 buckets in groups of 8:
  * RunExtraction's production path.
  */
final class ExtractCold(ctx: Ctx) extends TranscriptWorkload(ctx, 12000L) {
  import ExtractCold._

  private val store = s"${ctx.work}/store"
  private var refDigest = ""
  private val committed = mutable.Map.empty[Int, Seq[Checkpoint.Manifest]]

  def reference(): Unit =
    refDigest = Workload.digest(ExtractionJob.extract(turns).toDF())

  def observed: Map[String, String] = Map("turns" -> nTurns.toString, "digest" -> refDigest)

  override def prepare(i: Int): Unit = Fs.deleteTree(store)

  def op(i: Int, sp: Spans): Long = {
    committed(i) = runCheckpoint(s"run$i", sp)
    nTurns
  }

  def check(i: Int): Seq[String] = {
    val c = committed.remove(i).get
    (if (c.size != Buckets) Seq(s"run committed ${c.size} buckets") else Nil) ++ checkStore()
  }

  private def runCheckpoint(runId: String, sp: Spans): Seq[Checkpoint.Manifest] =
    sp.span("checkpoint.run") {
      Checkpoint.run(turns, store, Buckets, runId, lineage = "perfbench",
        groupSize = GroupSize, configHash = Checkpoint.KernelConfigVersion)
    }

  private def manifests: Seq[Option[Checkpoint.Manifest]] =
    (0 until Buckets).map(Checkpoint.readManifest(store, _))

  /** Every bucket committed, row sum and read-back digest equal to extract's. */
  private def checkStore(): Seq[String] = {
    val ms = manifests
    val missing = ms.count(_.isEmpty)
    val rows = ms.flatten.map(_.rows).sum
    val d = Workload.digest(Checkpoint.readResult(spark, store, Buckets))
    Seq(s"$missing buckets without a manifest" -> (missing > 0),
      s"manifest rows $rows != $nTurns" -> (rows != nTurns),
      s"readResult digest $d != $refDigest" -> (d != refDigest))
      .collect { case (m, true) => m }
  }

  /** Retracts group `g`'s manifests, as after a crash, and resumes: the
    * read/skip side (manifest validation, a full-input scan under the bucket
    * predicate, the direct single-group path). Returns the resume seconds.
    */
  private def resumeCycle(g: Int): Double = {
    val group = g * GroupSize until (g + 1) * GroupSize
    // the manifest path is the store's on-disk layout (Checkpoint.manifestPath)
    group.foreach(k => Fs.deleteIfExists(s"$store/manifests/part-$k.json"))
    val (c, sec) = Stats.time(runCheckpoint(s"resume$g", NoSpans))
    val errs = (if (c.map(_.partId).sorted != group) Seq(s"resume committed ${c.map(_.partId)}")
      else Nil) ++ checkStore()
    if (errs.nonEmpty) throw new IllegalStateException(s"resume of group $g: ${errs.mkString("; ")}")
    sec
  }

  /** Checkpoint-layer timings taken from outside on the last committed store. */
  def layers(tracedOps: Seq[Int]): Map[String, Double] = {
    val ms = manifests.flatten
    val validMs = medianSeconds(5)(Checkpoint.validBuckets(store, Buckets,
      Checkpoint.KernelConfigVersion)) * 1e3
    val scratch = s"${ctx.work}/manifest-scratch"
    val writeMs = Stats.median(ms.map(m => Stats.seconds(Checkpoint.writeManifest(scratch, m)))) * 1e3
    val readS = medianSeconds(3)(noop(Checkpoint.readResult(spark, store, Buckets)))
    val resumeS = Stats.median((0 until 3).map(resumeCycle))
    val bytes = ms.map(_.bytes).sum.toDouble
    extractionLayers(medians(legRounds(extractionLegs: _*))) ++ kernelProfile() ++ Map(
      "checkpoint.valid_buckets_ms" -> validMs, "checkpoint.write_manifest_ms" -> writeMs,
      "checkpoint.read_result_s" -> readS, "checkpoint.resume_s" -> resumeS,
      "checkpoint.output_mb" -> bytes / 1e6,
      "checkpoint.store_bytes_per_turn" -> bytes / ms.map(_.rows).sum)
  }
}

object ExtractCold {
  val Buckets = 64
  val GroupSize = 8
}

/** CurationJob.run over DocGen documents into a fresh output directory. */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  private val nDocs = 5000L
  // A multiple of 37*41 keeps the planted exact/near duplicate rates.
  private val firstDoc = Math.floorMod(ctx.seed, 10000L) * 37L * 41L * 100L
  private val docs = s"${ctx.work}/docs"
  private val out = s"${ctx.work}/curated"
  private val results = mutable.Map.empty[Int, Seq[CurationJob.StageResult]]
  private var refRows: Seq[(String, Long)] = Nil

  def generate(): Unit = {
    import spark.implicits._
    spark.range(firstDoc, firstDoc + nDocs, 1, ctx.cores)
      .map(id => (id.longValue, DocGen.docText(id)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docs)
  }

  // the first set-up operation's stage counts become the reference
  def reference(): Unit = ()

  override def prepare(i: Int): Unit = Fs.deleteTree(out)

  def op(i: Int, sp: Spans): Long = {
    results(i) = sp.span("curation.run") {
      CurationJob.run(spark, spark.read.parquet(docs), out, s"run$i",
        inputId = s"perfbench-docs-${ctx.seed}")
    }
    nDocs
  }

  private def rows(rs: Seq[CurationJob.StageResult]) = rs.map(r => r.stage -> r.rows)

  def check(i: Int): Seq[String] = {
    val rs = results(i)
    if (refRows.isEmpty) refRows = rows(rs)
    val resumed = rs.filter(_.resumed).map(_.stage)
    (if (rows(rs) != refRows) Seq(s"stage rows ${rows(rs)} != set-up run's $refRows") else Nil) ++
      (if (resumed.nonEmpty) Seq(s"stages resumed in a fresh directory: $resumed") else Nil)
  }

  def observed: Map[String, String] =
    (("docs" -> nDocs) +: refRows).map { case (k, v) => k -> v.toString }.toMap

  def layers(tracedOps: Seq[Int]): Map[String, Double] = {
    val traced = tracedOps.map(results)
    val stages = traced.head.map(_.stage)
    val secs = stages.map(s => s"curation.${s}_s" ->
      Stats.median(traced.map(_.find(_.stage == s).get.sec)))
    val keep = stages.zip(nDocs +: refRows.map(_._2)).zip(refRows).map {
      case ((s, in), (_, outRows)) => s"curation.$s.keep_frac" -> outRows.toDouble / in
    }
    (secs ++ keep).toMap
  }
}
