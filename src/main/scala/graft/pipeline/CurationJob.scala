package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{C4, Curation, Dedup, TextAnalysis}

/** The published training-data curation chain composed as ONE resumable
  * production job — the curation mirror of the extraction tier's
  * [[Checkpoint]]/`RunExtraction` pair:
  *
  *   clean (C4 line+document filters) →
  *   spans (C4 corpus-level three-sentence-span dedup; optional) →
  *   gates (Gopher duplicate-line/paragraph + top-n-gram repetition,
  *          plus the optional §A1.1 document-quality gate) →
  *   exact (fingerprint dedup) →
  *   neardup (MinHash-LSH pairs → cluster resolution → removal) →
  *   decontam (benchmark n-gram decontamination; optional) →
  *   split (deterministic hash train/val/test, partitioned output)
  *
  * Exact and near dedup are SEPARATE stages (unlike the composed
  * [[graft.operators.Dedup.dedupeNear]] convenience): each corpus-wide
  * computation then executes exactly once — the near-dup stage
  * materializes its candidate PAIR list to scratch parquet, so cluster
  * resolution and the final anti-join both read the tiny pair file
  * instead of re-deriving the MinHash banding DAG, and resume
  * granularity sits at every expensive step.
  *
  * Every stage materializes to `outDir/stages/<stage>/data` (parquet) and
  * commits `manifest.json` ATOMICALLY (tmp + rename) only after the data
  * is durable — a crash mid-stage leaves no manifest and the stage
  * recomputes on resume; a stale manifest is RETRACTED before its data is
  * rewritten, so no reader ever sees manifest-present/data-missing. A
  * stage is resumed (skipped) iff its manifest's config hash AND its
  * upstream stage's committed identity both match — changing a stage's
  * parameters (or recomputing its upstream) invalidates it and everything
  * downstream, never anything upstream. Row counts come from an
  * `Observation` on the stage's own write job (no post-write count jobs)
  * and land in the manifest — the per-stage row-count lineage a 100-TB
  * operator reads before trusting the output.
  *
  * Scale shape: stages are separated by durable parquet, so the chain
  * never re-executes an upstream lineage (no persist; resume survives JVM
  * death); the C4/Gopher gates are pushable predicates evaluated in the
  * stage-1/2 scans; dedup/decontam reuse the bucketed operators with
  * their documented 100-TB bounds.
  */
object CurationJob {

  /** Bump on any semantic change to the stage implementations. */
  val Version: String = "graft-curation-r4b"

  /** `spanDedup` enables the optional corpus-level C4 span-dedup stage
    * ("spans", [[graft.operators.C4.spanDedup]]) between clean and gates
    * — off by default so existing chains' stage hashes and manifests are
    * untouched; toggling it flips the gates stage's upstream identity,
    * which invalidates gates and everything downstream (never clean).
    */
  final case class Config(
      c4MinWords: Int = 3, c4MinSentences: Int = 5,
      spanDedup: Boolean = false, spanN: Int = 3,
      gopherQuality: Option[TextAnalysis.GopherQualityParams] = None,
      maxDupLineFrac: Double = 0.30, maxDupParaFrac: Double = 0.30,
      maxTop2: Double = 0.20, maxTop3: Double = 0.18, maxTop4: Double = 0.16,
      minhash: Dedup.MinHashParams = Dedup.MinHashParams(),
      contamN: Int = 8, contamMinCommon: Int = 2,
      splits: Seq[(String, Int)] = Seq(("train", 98), ("val", 1), ("test", 1)),
      version: String = Version)

  final case class StageManifest(
      stage: String, rows: Long, bytes: Long, runId: String,
      committedAtEpochMs: Long, configHash: String, upstreamId: String,
      lineage: String)

  final case class StageResult(
      stage: String, rows: Long, resumed: Boolean, sec: Double = 0.0)

  /** The identity downstream stages pin as their `upstreamId`. */
  def stageIdentity(m: StageManifest): String =
    s"${m.stage}@${m.runId}@${m.committedAtEpochMs}@${m.rows}"

  def stageDataDir(outDir: String, stage: String): String =
    s"$outDir/stages/$stage/data"

  // manifest I/O rides the Hadoop FileSystem seam ([[Fs]]): the resume
  // story must work where the stage parquet lives (HDFS/object storage),
  // not only on a driver-local disk
  private def manifestPath(outDir: String, stage: String): String =
    s"$outDir/stages/$stage/manifest.json"

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Content-sensitive identity of an input path for resume keying: the
    * order-independent combination of every file's (path, length,
    * mtime), listed by [[Fs.fileStatuses]] under the active session's
    * Hadoop configuration. Appending/replacing files under the same
    * --input path therefore INVALIDATES stage 1 (and downstream) on the
    * next run — resume never silently serves a curation of yesterday's
    * listing.
    * Non-path inputs (synth:N) are identified by their descriptor, which
    * fully determines their content.
    *
    * A path that cannot be LISTED fails loudly instead of degrading to a
    * path-keyed identity: two runs that both failed to list would share
    * an identity even if the files changed between them — exactly the
    * stale resume the fingerprint exists to prevent (and a job that
    * cannot list its input cannot read it either).
    */
  def inputIdentity(spark: SparkSession, input: String): String = {
    if (input.isEmpty || !input.contains("/")) return input
    try {
      val files = Fs.fileStatuses(input)
      val acc = files.foldLeft(0L) { (acc, f) =>
        acc ^ TranscriptGen.sm64(f.getPath.toString.hashCode.toLong ^
          (f.getLen * 0x9E3779B97F4A7C15L) ^ f.getModificationTime)
      }
      s"$input@n=${files.size},h=${java.lang.Long.toHexString(acc)}"
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new java.io.IOException(
          s"cannot list input '$input' to fingerprint it for resume " +
            s"keying (${e.getMessage}); refusing to fall back to a " +
            "path-only identity, which could resume over stale data", e)
    }
  }

  def writeStageManifest(outDir: String, m: StageManifest): Unit =
    Json.write(manifestPath(outDir, m.stage), m)

  def readStageManifest(outDir: String, stage: String): Option[StageManifest] =
    Json.read[StageManifest](manifestPath(outDir, stage))

  /** Run (or resume) one stage. `compute` is only evaluated on a miss. */
  private def runStage(
      outDir: String, stage: String, runId: String,
      configHash: String, upstreamId: String, lineage: String,
      partitionCols: Seq[String] = Seq.empty)(
      compute: => DataFrame): (StageManifest, Boolean) = {
    readStageManifest(outDir, stage) match {
      case Some(m) if m.configHash == configHash && m.upstreamId == upstreamId =>
        (m, true)
      case stale =>
        // retract the stale manifest BEFORE the data is touched: a crash
        // mid-write must leave "no manifest" (recompute on resume), never
        // a manifest pointing at replaced/partial data
        stale.foreach(_ => Fs.deleteIfExists(manifestPath(outDir, stage)))
        val df = compute
        val obs = org.apache.spark.sql.Observation(s"curation-$stage-$runId")
        val observed = df.observe(obs, coalesce(count(lit(1)), lit(0L)).as("rows"))
        val writer = observed.write.mode("overwrite")
        (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
         else writer).parquet(stageDataDir(outDir, stage))
        val rows = obs.get.apply("rows") match {
          case n: Long => n; case n: Number => n.longValue(); case _ => 0L
        }
        val m = StageManifest(stage, rows,
          Fs.dirBytes(stageDataDir(outDir, stage)), runId,
          System.currentTimeMillis(), configHash, upstreamId, lineage)
        writeStageManifest(outDir, m)
        (m, false)
    }
  }

  /** Run the full chain. `inputId` identifies the INPUT corpus for resume
    * purposes (e.g. the input path or "synth:N"); `test` enables the
    * decontamination stage, identified by `testId` — REQUIRED when `test`
    * is set (e.g. [[inputIdentity]] of the benchmark's path): the testId
    * keys the decontam stage's resume, so an empty default would let two
    * runs with DIFFERENT benchmarks silently resume each other's output.
    * Returns per-stage (rows, resumed) lineage in chain order.
    */
  def run(
      spark: SparkSession, docs: DataFrame, outDir: String, runId: String,
      cfg: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      inputId: String = "",
      test: Option[DataFrame] = None, testId: String = ""): Seq[StageResult] = {
    require(test.isEmpty || testId.nonEmpty,
      "testId is required when test is set: it keys the decontamination " +
        "stage's resume identity — an empty id would let a run with a " +
        "DIFFERENT benchmark resume this one's decontam output as its own")
    import spark.implicits._
    def data(stage: String): DataFrame =
      spark.read.parquet(stageDataDir(outDir, stage))

    // retract OPTIONAL stages absent from THIS run's lineage (spans when
    // the flag is off, decontam when no benchmark is passed): their data
    // is corpus-sized and a committed manifest would otherwise look
    // current to anyone listing stages/*/manifest.json even though no
    // downstream stage pins it. Manifest first, then data — the existing
    // "no reader ever sees manifest-present/data-missing" invariant
    def retractInactive(stage: String): Unit =
      if (Fs.exists(manifestPath(outDir, stage))) {
        Fs.deleteIfExists(manifestPath(outDir, stage))
        Fs.deleteTree(s"$outDir/stages/$stage")
      }
    if (!cfg.spanDedup) retractInactive("spans")
    if (test.isEmpty) retractInactive("decontam")

    val results = scala.collection.mutable.ListBuffer.empty[StageResult]
    // per-stage wall time rides the result so operators can read WHERE a
    // chain spends its time (fixed per-stage overhead vs data-bound work)
    // straight off the job's JSON line — the number that explains why
    // core-scaling ratios are depressed at small corpus sizes
    def record(stage: String, r: => (StageManifest, Boolean)): StageManifest = {
      val t0 = System.nanoTime()
      val res = r
      results += StageResult(
        stage, res._1.rows, res._2, (System.nanoTime() - t0) / 1e9)
      res._1
    }

    // ---- 1. C4 clean: line filters, then document gate on the CLEANED
    // text (the paper's order: line-level first, page gates after)
    val h1 = md5(s"${cfg.version}|clean|${cfg.c4MinWords}|${cfg.c4MinSentences}")
    val m1 = record("clean", runStage(outDir, "clean", runId, h1,
      upstreamId = s"input:${md5(inputId)}", lineage = s"input=$inputId") {
      docs
        .select(col(idCol).cast("long").as("doc_id"),
          C4.cleanedText(col(textCol).cast("string"), cfg.c4MinWords).as("text"))
        .where(C4.keepDocument(col("text"), cfg.c4MinSentences))
    })

    // ---- 1b. C4 span dedup (optional): the paper's corpus-level
    // three-sentence-span rewrite over the cleaned text; documents whose
    // every unit was a non-keeper duplicate are dropped (nothing left to
    // train on). Its own stage so the span-key shuffle — the most
    // expensive clean-tier computation — resumes independently.
    val m1b =
      if (!cfg.spanDedup) m1
      else {
        val h1b = md5(s"${cfg.version}|spans|${cfg.spanN}")
        record("spans", runStage(outDir, "spans", runId, h1b,
          upstreamId = stageIdentity(m1), lineage = "c4 span dedup") {
          C4.spanDedup(data("clean"), "doc_id", "text", cfg.spanN)
            .where(col("text_dedup") =!= "")
            .select(col("id").as("doc_id"), col("text_dedup").as("text"))
        })
      }

    // ---- 2. Gopher gates: dup-line/paragraph fractions (and, when
    // enabled, the §A1.1 document-quality gate) are pushable predicates;
    // the top-n-gram rule is the kernel tier (mapPartitions). The quality
    // knob contributes to the hash only when set, so pre-existing chains'
    // committed gates manifests stay valid
    val h2 = md5(s"${cfg.version}|gates|${cfg.maxDupLineFrac}|${cfg.maxDupParaFrac}|" +
      s"${cfg.maxTop2}|${cfg.maxTop3}|${cfg.maxTop4}" +
      cfg.gopherQuality.map(p => s"|${p.identity}").getOrElse(""))
    val m2 = record("gates", runStage(outDir, "gates", runId, h2,
      upstreamId = stageIdentity(m1b),
      lineage = "gopher repetition gates" +
        (if (cfg.gopherQuality.isDefined) " + quality gate" else "")) {
      val gated = cfg.gopherQuality.fold(data(m1b.stage)) { p =>
        data(m1b.stage).where(TextAnalysis.gopherQualityGate(col("text"), p))
      }
      gated
        .where(TextAnalysis.repetitionGate(
          col("text"), cfg.maxDupLineFrac, cfg.maxDupParaFrac))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.filter { case (_, t) =>
          val (f2, f3, f4) = TextAnalysis.topNgramCharFractions234(t)
          f2 <= cfg.maxTop2 && f3 <= cfg.maxTop3 && f4 <= cfg.maxTop4
        })
        .toDF("doc_id", "text")
    })

    // ---- 3. exact dedup: keeper = min id per normalized fingerprint
    val h3 = md5(s"${cfg.version}|exact")
    val m3 = record("exact", runStage(outDir, "exact", runId, h3,
      upstreamId = stageIdentity(m2), lineage = "exact fingerprint dedup") {
      val src = data("gates")
      val keepIds = src
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      src.join(keepIds, Seq("doc_id"), "left_semi")
    })

    // ---- 4. near dedup: the candidate PAIR list is materialized to
    // scratch parquet so cluster resolution and the removal anti-join
    // both read the (tiny) pairs instead of re-deriving the MinHash
    // banding DAG — every corpus-wide computation runs exactly once
    val p = cfg.minhash
    val h4 = md5(s"${cfg.version}|neardup|${p.numHashes}|${p.bands}|" +
      s"${p.shingleSize}|${p.threshold}|${p.maxBucket}")
    val m4 = record("neardup", runStage(outDir, "neardup", runId, h4,
      upstreamId = stageIdentity(m3), lineage = "minhash near-dup clusters") {
      val src = data("exact")
      val pairsPath = s"$outDir/stages/neardup/pairs"
      Dedup.minHashNearDups(src, "doc_id", "text", p)
        .write.mode("overwrite").parquet(pairsPath)
      val losers = Dedup.resolveClusters(spark.read.parquet(pairsPath))
        .where(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id"))
      src.join(losers, Seq("doc_id"), "left_anti")
    })

    // ---- 5. decontamination (optional): drop train docs sharing ≥
    // minCommon word n-grams with any benchmark document
    val m5 = test match {
      case Some(t) =>
        val h5 = md5(s"${cfg.version}|decontam|${cfg.contamN}|" +
          s"${cfg.contamMinCommon}|${md5(testId)}")
        record("decontam", runStage(outDir, "decontam", runId, h5,
          upstreamId = stageIdentity(m4), lineage = s"test=$testId") {
          val src = data("neardup")
          val hits = Curation.contamination(
            src, "doc_id", "text", t, idCol, textCol,
            n = cfg.contamN, minCommon = cfg.contamMinCommon)
            .select(col("train_id").as("doc_id")).distinct()
          src.join(hits, Seq("doc_id"), "left_anti")
        })
      case None => m4
    }

    // ---- 6. deterministic split, partitioned by split name
    val h6 = md5(s"${cfg.version}|split|" +
      cfg.splits.map { case (n, w) => s"$n=$w" }.mkString(","))
    record("split", runStage(outDir, "split", runId, h6,
      upstreamId = stageIdentity(m5), lineage = "hash split",
      partitionCols = Seq("split")) {
      data(m5.stage)
        .withColumn("split", Curation.splitAssign(col("doc_id"), cfg.splits))
    })

    results.toSeq
  }
}
