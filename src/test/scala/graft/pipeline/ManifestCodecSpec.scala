package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Backup.{BackupFile, BackupManifest, BucketIdentity}
import graft.pipeline.Checkpoint.Manifest
import graft.pipeline.CurationJob.StageManifest

/** The one manifest codec ([[Json]]): manifests written by the earlier
  * hand-rolled writers (committed under test resources graft/manifests/)
  * still read back field for field, current-format manifests encode
  * byte-identically, and no CLI string — control characters included —
  * can commit a manifest or summary line that fails to read back.
  */
class ManifestCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-manifest-codec-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fsTmp(prefix: String): String =
    "file://" + Files.createTempDirectory(prefix)

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/manifests/$name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Place a fixture at `path` byte for byte. */
  private def install(name: String, path: String): Unit =
    Fs.writeAtomic(path, fixture(name))

  // every character the earlier writers left raw (or mis-escaped) in JSON
  private val hostile = "x\ty\nz\"q\\b\u0001e"

  private val currentCheckpoint = Manifest(17, 4821L, 203117L, "r1-nightly",
    1760000000123L,
    "input=hdfs://nn/corpus/transcrições \"q3\"\\raw;buckets=64;salt=0",
    "graft-kernel-r2", 64)

  private val currentStage = StageManifest("clean", 2761L, 88213L, "rc-7f3a",
    1760000000456L, "9a0364b9e99bb480dd25e1f0284c8555",
    "input:5d41402abc4b2a76b9719d911017c592",
    "input=hdfs://nn/docs/été \"v2\"\\raw@n=3,h=1f")

  private val backupFiles = Seq(
    BackupFile("manifests/part-0.json", "4d80a7a58b2992818f2e956f51d8870a", 171L),
    BackupFile("data/part_id=0/part-00000-c0.snappy.parquet",
      "70bec5ffa0a47102cd5b33fcfdaf7bae", 14L),
    BackupFile("manifests/part-1.json", "c4c655cf721f55a726c02a6194fc60c8", 171L),
    BackupFile("data/part_id=1/part-00001-c0.snappy.parquet",
      "b116bb33d119c0f508645934be12b114", 14L))

  private val currentBackup = BackupManifest("b2", "ckpt/transcrições \"q3\"",
    "full", 1760000001000L, 1760000000001L, Seq(0, 1), backupFiles,
    Seq(BucketIdentity(0, "r1@1760000000000@10@15"),
      BucketIdentity(1, "r1@1760000000001@11@15")))

  test("checkpoint manifests from the earlier writer read back field for field") {
    val dir = fsTmp("graft-fx-ckpt")
    install("checkpoint-current.json", s"$dir/manifests/part-17.json")
    install("checkpoint-legacy.json", s"$dir/manifests/part-3.json")
    assert(Checkpoint.readManifest(dir, 17).contains(currentCheckpoint))
    // predates configHash and numBuckets: both take the case-class defaults
    assert(Checkpoint.readManifest(dir, 3).contains(Manifest(3, 977L, 51234L,
      "run-legacy", 1700000000000L, "input=synth:400;buckets=8;salt=0", "", 0)))
    // a legacy manifest is accepted at any bucket count and matches only
    // the empty config hash, exactly as before
    assert(Checkpoint.validBuckets(dir, 4, "") == Seq(3))
  }

  test("stage and backup manifests from the earlier writers read back field for field") {
    val dir = fsTmp("graft-fx-stage")
    install("stage-current.json", s"$dir/stages/clean/manifest.json")
    assert(CurationJob.readStageManifest(dir, "clean").contains(currentStage))

    val backups = fsTmp("graft-fx-backup")
    install("backup-current.json", s"$backups/b2/backup.json")
    assert(Backup.readBackupManifest(backups, "b2").contains(currentBackup))
    // predates bucketIdentities: an empty identity list, as before
    install("backup-legacy.json", s"$backups/b2/backup.json")
    assert(Backup.readBackupManifest(backups, "b2")
      .contains(currentBackup.copy(bucketIdentities = Seq.empty)))
  }

  test("current-format manifests encode byte-identically to the earlier writers") {
    assert(Json.encode(currentCheckpoint) == fixture("checkpoint-current.json"))
    assert(Json.encode(currentStage) == fixture("stage-current.json"))
    // the writers themselves, through the store layout
    val dir = fsTmp("graft-fx-bytes")
    Checkpoint.writeManifest(dir, currentCheckpoint)
    CurationJob.writeStageManifest(dir, currentStage)
    assert(Fs.readString(s"$dir/manifests/part-17.json")
      .contains(fixture("checkpoint-current.json")))
    assert(Fs.readString(s"$dir/stages/clean/manifest.json")
      .contains(fixture("stage-current.json")))
    // bucketIdentities keep their {"k":…,"id":…} wire shape
    assert(Json.encode(currentBackup).contains(
      """"bucketIdentities":[{"k":0,"id":"r1@1760000000000@10@15"},"""))
  }

  test("a manifest missing a field with no default fails to read, like a corrupt one") {
    val dir = fsTmp("graft-fx-missing")
    Fs.writeAtomic(s"$dir/manifests/part-0.json", """{"partId":0,"runId":"r"}""")
    intercept[MappingException] { Checkpoint.readManifest(dir, 0) }
    assert(Checkpoint.readManifest(dir, 1).isEmpty) // absent stays None
    // a backup listing skips such a manifest, as it skips a truncated one
    Fs.writeAtomic(s"$dir/b3/backup.json", """{"backupId":"b3"}""")
    Fs.writeAtomic(s"$dir/b4/backup.json", "")
    assert(Backup.readBackupManifest(dir, "b3").isEmpty)
    assert(Backup.readBackupManifest(dir, "b4").isEmpty)
  }

  test("control characters in runId and lineage: checkpoint resume recomputes nothing") {
    val outDir = fsTmp("graft-cc-ckpt")
    val ds = TranscriptGen.dataset(spark, 12)
    val lineage = s"input=$hostile;buckets=4;salt=0"
    val run1 = Checkpoint.run(ds, outDir, 4, runId = hostile, lineage = lineage,
      groupSize = 2, configHash = hostile)
    assert(run1.map(_.partId).sorted == (0 until 4))
    val run2 = Checkpoint.run(ds, outDir, 4, runId = "second", lineage = lineage,
      groupSize = 2, configHash = hostile)
    assert(run2.isEmpty, s"resume recomputed ${run2.map(_.partId)}")
    (0 until 4).foreach { k =>
      val m = Checkpoint.readManifest(outDir, k).get
      assert(m.runId == hostile && m.lineage == lineage && m.configHash == hostile)
    }
    assert(Checkpoint.readResult(spark, outDir, 4).count() == TranscriptGen.totalTurns(12))
  }

  test("control characters in runId and inputId: every curation stage resumes") {
    val outDir = fsTmp("graft-cc-cur")
    val docs = DocGen.dataset(spark, 300, partitions = 4)
    val r1 = CurationJob.run(spark, docs, outDir, hostile, inputId = hostile)
    assert(r1.nonEmpty && r1.forall(!_.resumed))
    val r2 = CurationJob.run(spark, docs, outDir, "second", inputId = hostile)
    assert(r2.forall(_.resumed) && r2.map(_.rows) == r1.map(_.rows), s"resume broke: $r2")
    val clean = CurationJob.readStageManifest(outDir, "clean").get
    assert(clean.runId == hostile && clean.lineage == s"input=$hostile")
  }

  test("control characters in backupId and sourceDir: backup then restore succeeds") {
    // the store is built at a plain path and then moved: Spark READ paths
    // treat '\' as a glob escape, while the backup tier only uses Fs
    val built = fsTmp("graft-cc-bk-src")
    val total = TranscriptGen.totalTurns(10)
    Checkpoint.run(TranscriptGen.dataset(spark, 10), built, 4, runId = "r1", groupSize = 4)
    val sourceDir = s"$built-$hostile"
    Files.move(Paths.get(built.stripPrefix("file://")),
      Paths.get(sourceDir.stripPrefix("file://")))
    val backupDir = fsTmp("graft-cc-bk-dst")
    val backupId = s"b-$hostile"
    val b = Backup.backup(sourceDir, 4, backupDir, backupId)
    assert(b.buckets.sorted == (0 until 4))
    assert(Backup.listBackups(backupDir).map(m => (m.backupId, m.sourceDir)) ==
      Seq((backupId, sourceDir)))
    // the chain is readable too: an incremental over it finds nothing new
    assert(Backup.backup(sourceDir, 4, backupDir, "b-incr", incremental = true)
      .buckets.isEmpty)
    val restoreDir = fsTmp("graft-cc-bk-restore")
    val r = Backup.restore(backupDir, backupId, restoreDir)
    assert(r.ok && r.filesRestored == b.files.size, r)
    assert(Checkpoint.readResult(spark, restoreDir, 4).count() == total)
  }

  // LAST in this suite: each CLI main stops the active SparkSession on exit
  test("control characters in --run-id and --input: both CLI summary lines parse") {
    def summary(main: Array[String] => Unit, args: String*): JValue = {
      val bout = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bout, true, "UTF-8")) { main(args.toArray) }
      val lines = bout.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toList
      assert(lines.size == 1, lines)
      // seconds keep at most two decimals
      assert(""""sec":\d+\.\d{1,2}[,}]""".r.findAllIn(lines.head).nonEmpty &&
        """"sec":\d+\.\d{3}""".r.findFirstIn(lines.head).isEmpty, lines.head)
      org.json4s.jackson.JsonMethods.parse(lines.head)
    }
    def str(j: JValue, k: String): String = (j \ k) match { case JString(s) => s; case o => fail(s"$k: $o") }
    def num(j: JValue, k: String): BigInt = (j \ k) match { case JInt(i) => i; case o => fail(s"$k: $o") }

    // input paths carry every hostile char but '\', a Spark read glob escape
    val pathSafe = hostile.replace("\\", "")
    val base = Files.createTempDirectory("graft-cc-cli").toString
    val turnsIn = s"$base/turns-$pathSafe"
    val docsIn = s"$base/docs-$pathSafe"
    TranscriptGen.dataset(spark, 6).write.parquet(turnsIn)
    DocGen.dataset(spark, 200, partitions = 2).write.parquet(docsIn)

    val ext = Seq("--input", turnsIn, "--output", s"$base/ext", "--buckets", "2")
    val e1 = summary(graft.RunExtraction.main, ext ++ Seq("--run-id", hostile): _*)
    val e2 = summary(graft.RunExtraction.main, ext ++ Seq("--run-id", s"$hostile-2"): _*)
    assert(str(e1, "job") == "graft-extraction" && str(e1, "runId") == hostile)
    assert(str(e1, "input") == turnsIn)
    assert(num(e1, "committed_buckets") == 2 && num(e1, "rows") == TranscriptGen.totalTurns(6))
    assert(num(e2, "resumed_buckets") == 2 && num(e2, "committed_buckets") == 0)

    val c = summary(graft.RunCuration.main,
      "--input", docsIn, "--output", s"$base/cur", "--run-id", hostile)
    assert(str(c, "job") == "graft-curation" && str(c, "runId") == hostile)
    assert(str(c, "input") == docsIn)
    val stages = (c \ "stages").asInstanceOf[JArray].arr
    assert(stages.map(str(_, "stage")) == Seq("clean", "gates", "exact", "neardup", "split"))
    assert(stages.forall(s => (s \ "resumed") == JBool(false)))
  }
}
