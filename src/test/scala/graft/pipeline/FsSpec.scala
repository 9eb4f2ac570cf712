package graft.pipeline

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{LocalFileSystem, LocatedFileStatus, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under its own scheme whose `rename` refuses an
  * existing destination, as HDFS and s3a do. No `AbstractFileSystem` is
  * bound to the scheme, so [[Fs.renameOverwrite]] takes its
  * delete + rename branch.
  */
class NoOverwriteRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${NoOverwriteRawFs.Scheme}:///")
  override def rename(src: HPath, dst: HPath): Boolean =
    if (exists(dst)) { NoOverwriteRawFs.refused.incrementAndGet(); false }
    else super.rename(src, dst)
}

object NoOverwriteRawFs {
  val Scheme = "nooverwrite"
  val refused = new AtomicInteger
}

class NoOverwriteLocalFs extends LocalFileSystem(new NoOverwriteRawFs)

/** [[Fs]]'s listing walk and commit: the three listings equal what
  * `FileSystem.listFiles` lists, `writeAtomic` lands the new content on a
  * store whose rename refuses an existing destination, and committed
  * manifests record the `listFiles` byte sum of their directory.
  */
class FsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-fs-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.hadoopConfiguration
      .set(s"fs.${NoOverwriteRawFs.Scheme}.impl", classOf[NoOverwriteLocalFs].getName)
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  /** What `FileSystem.listFiles(p, recursive = true)` lists. */
  private def located(s: String): Seq[LocatedFileStatus] = {
    val p = new HPath(s)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val buf = scala.collection.mutable.ListBuffer.empty[LocatedFileStatus]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  private def locatedBytes(dir: String): Long =
    if (new File(new URI(dir).getPath).exists) located(dir).map(_.getLen).sum else 0L

  /** The fingerprint formula of [[CurationJob.inputIdentity]] over `located`. */
  private def fingerprint(input: String): String = {
    val fs = located(input)
    val h = fs.foldLeft(0L) { (acc, f) =>
      acc ^ TranscriptGen.sm64(f.getPath.toString.hashCode.toLong ^
        (f.getLen * 0x9E3779B97F4A7C15L) ^ f.getModificationTime)
    }
    s"$input@n=${fs.size},h=${java.lang.Long.toHexString(h)}"
  }

  test("dirBytes, listFilesRecursive and inputIdentity equal a listFiles walk") {
    val sp = spark; import sp.implicits._
    val root = tmpDir("graft-fs-list")
    val dir = s"file://${root.getPath}/parts"
    (0 until 200).map(i => (i % 3, i, s"row-$i")).toDF("k", "i", "s")
      .repartition(4).write.partitionBy("k").parquet(dir)
    val onDisk = root.toPath.resolve("parts")
    val names = Files.walk(onDisk).map(_.getFileName.toString).toArray.map(_.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      "the input must carry _SUCCESS and .crc sidecars")
    val oneFile = {
      val f = Files.walk(onDisk).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      s"file://$f"
    }

    Seq(dir, oneFile).foreach { in =>
      val ref = located(in)
      assert(ref.nonEmpty)
      assert(Fs.dirBytes(in) == ref.map(_.getLen).sum, in)
      assert(Fs.listFilesRecursive(in).toSet == ref.map(_.getPath.toString).toSet, in)
      assert(Fs.listFilesRecursive(in).size == ref.size, in)
      assert(CurationJob.inputIdentity(spark, in) == fingerprint(in), in)
    }
    assert(!Fs.listFilesRecursive(dir).exists(_.endsWith(".crc")))

    val absent = s"file://${root.getPath}/absent"
    intercept[FileNotFoundException](located(absent))
    assert(Fs.dirBytes(absent) == 0L)
    assert(Fs.listFilesRecursive(absent).isEmpty)
    intercept[java.io.IOException](CurationJob.inputIdentity(spark, absent))
  }

  test("writeAtomic overwrites on a store whose rename refuses an existing destination") {
    val root = tmpDir("graft-fs-norename")
    val uri = s"${NoOverwriteRawFs.Scheme}://${root.getPath}/m/manifest.json"
    val before = NoOverwriteRawFs.refused.get
    Fs.writeAtomic(uri, """{"v":1}""")
    assert(NoOverwriteRawFs.refused.get == before, "a fresh destination needs no fallback")
    Fs.writeAtomic(uri, """{"v":2,"more":true}""")
    assert(NoOverwriteRawFs.refused.get == before + 1, "the fallback path must have run")
    assert(Fs.readString(uri).contains("""{"v":2,"more":true}"""))
    val left = new File(root, "m").list().toSeq
    assert(!left.exists(_.contains(".tmp")), s"tmp file left behind: $left")
    assert(left.toSet == Set("manifest.json", ".manifest.json.crc"))
  }

  test("writeAtomic on file:// replaces the destination and its checksum") {
    val root = tmpDir("graft-fs-local")
    val path = s"file://${root.getPath}/manifest.json"
    // the second write takes the plain rename under Hadoop's
    // LocalFileSystem and the fallback under Hive's ProxyLocalFileSystem,
    // whichever is bound to file://. Equal lengths: a checksum left over
    // from the first write would fail the checksummed read of the second
    Fs.writeAtomic(path, "first!")
    Fs.writeAtomic(path, "second")
    assert(Fs.readString(path).contains("second"))
    assert(root.list().toSet == Set("manifest.json", ".manifest.json.crc"))
  }

  test("manifest bytes equal the listFiles byte sum of each committed directory") {
    val ckpt = s"file://${tmpDir("graft-fs-ckpt").getPath}"
    val numBuckets = 8
    val ms = Checkpoint.run(TranscriptGen.dataset(spark, 30), ckpt, numBuckets,
      runId = "b1", groupSize = 3)
    assert(ms.map(_.partId).sorted == (0 until numBuckets))
    assert(ms.exists(_.bytes > 0))
    ms.foreach { m =>
      assert(m.bytes == locatedBytes(s"$ckpt/data/part_id=${m.partId}"), s"bucket ${m.partId}")
      assert(Checkpoint.readManifest(ckpt, m.partId).get.bytes == m.bytes)
    }

    val cur = s"file://${tmpDir("graft-fs-cur").getPath}"
    val stages = CurationJob.run(spark, DocGen.dataset(spark, 300, partitions = 4), cur, "c1",
      inputId = "synth:300")
    val stageMs = stages.map(s => CurationJob.readStageManifest(cur, s.stage).get)
    assert(stageMs.nonEmpty && stageMs.forall(_.bytes > 0))
    stageMs.foreach { m =>
      assert(m.bytes == locatedBytes(CurationJob.stageDataDir(cur, m.stage)), m.stage)
    }
  }
}
