package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Checkpoint, Json, TranscriptGen}
import graft.schema.Turn

/** The production `spark-submit` entry point (north rule: "run via
  * spark-submit on multi-executor clusters, resumable from checkpoint").
  *
  *   spark-submit --class graft.RunExtraction <jar> \
  *     --input <parquet dir | synth:NCONVS> --output <dir> \
  *     [--buckets 64] [--run-id r1] [--group-size 8] [--salt 0]
  *
  * Master/executors come from spark-submit (no hardcoded master). Re-running
  * with the same --output resumes: completed buckets (committed manifests)
  * are never recomputed. Prints one JSON summary line on stdout.
  */
object RunExtraction {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"odd argument count — every --flag needs a value: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
      case Array(k, v) =>
        sys.error(s"malformed pair '$k $v' — expected --flag value")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val buckets = opts.getOrElse("buckets", "64").toInt
    val runId = opts.getOrElse("run-id", s"run-${java.util.UUID.randomUUID().toString.take(8)}")
    val groupSize = opts.getOrElse("group-size", "8").toInt
    val salt = opts.getOrElse("salt", "0").toInt
    // cache-key component (reference: SHA-256(content) + normalized
    // options, 30-day TTL): buckets committed under a DIFFERENT config
    // hash — e.g. after a kernel upgrade — are stale and recomputed
    val configHash = opts.getOrElse("config-hash", Checkpoint.KernelConfigVersion)
    val ttlMs = opts.get("ttl-days")
      .map(_.toDouble * 24 * 3600 * 1000).map(_.toLong).getOrElse(Long.MaxValue)

    val builder = SparkSession.builder()
      .appName("graft-extraction")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // keep doc-level collect_list aggregations in hash mode (the 128-
      // groups-per-partition default silently degrades to sort-based)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
    // spark-submit supplies spark.master via system properties; fall back
    // to local[*] only when launched as a bare JVM (tests, scripts)
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER"))
      builder.master("local[*]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val turns =
      if (input.startsWith("synth:"))
        TranscriptGen.dataset(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input).as[Turn]

    val preDone = Checkpoint.validBuckets(output, buckets, configHash, ttlMs).size
    val t0 = System.nanoTime()
    val committed = Checkpoint.run(
      turns, output, buckets, runId,
      lineage = s"input=$input;buckets=$buckets;salt=$salt",
      groupSize = groupSize, saltBuckets = salt,
      configHash = configHash, ttlMs = ttlMs)
    val sec = (System.nanoTime() - t0) / 1e9

    println(Json.encode(Summary(runId = runId, input = input,
      buckets = buckets, resumed_buckets = preDone,
      committed_buckets = committed.size, rows = committed.map(_.rows).sum,
      bytes = committed.map(_.bytes).sum, sec = Json.centis(sec))))
    spark.stop()
  }

  /** The run's one-line JSON summary on stdout. */
  final case class Summary(
      job: String = "graft-extraction", runId: String, input: String,
      buckets: Int, resumed_buckets: Int, committed_buckets: Int,
      rows: Long, bytes: Long, sec: Double)
}
