package graft

import graft.spark.{Pipeline, TranscriptTable, Transcripts}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The engine's spark-submit driver: end-to-end extraction run over an
  * Iceberg-style transcripts table with partition-granular checkpoints.
  *
  *   spark-submit --class graft.Main <jar> synth <tableRoot> <nConvs>
  *   spark-submit --class graft.Main <jar> extract <tableRoot> <outRoot> [nBuckets] [maxConcurrent]
  *   spark-submit --class graft.Main <jar> report <outRoot>
  *
  * `extract` is resumable: rerunning after a failure skips buckets whose
  * checkpoint manifests are committed (TranscriptTable). `maxConcurrent`
  * (default 8) overlaps bucket jobs from a bounded driver pool — a bucket
  * job's fixed cost (see TranscriptTable.extractWithCheckpoints) otherwise
  * serializes at small bucket sizes.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Main synth|extract|report ...")
      sys.exit(2)
    }
    val spark = SparkSession.builder().appName("graft-" + args(0)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args(0) match {
      case "synth" =>
        val Array(_, tableRoot, nConvs) = args.take(3)
        TranscriptTable.write(
          Transcripts.synthesize(spark, nConvs.toLong, seed = 42L).toDF(),
          tableRoot, nBuckets = 128, snapshotId = System.getProperty(
            "graft.snapshot", "1").toLong)
        println(s"""{"synth":"done","n_convs":$nConvs,"table":"$tableRoot"}""")
      case "extract" =>
        val tableRoot = args(1)
        val outRoot = args(2)
        val nBuckets = if (args.length > 3) args(3).toInt else 128
        val maxConcurrent = if (args.length > 4) args(4).toInt else 8
        val c = TranscriptTable.extractWithCheckpoints(
          spark, tableRoot, outRoot, nBuckets, maxConcurrent)
        println(s"""{"extract":"done","turns":${c.turns},"bytes":${c.bytes},"mismatches":${c.mismatches}}""")
      case "report" =>
        val outRoot = args(1)
        val ex = spark.read.parquet(s"$outRoot/data")
        val lines = Pipeline.lines(ex)
        val byType = lines.groupBy("type").agg(count(lit(1)).as("n")).orderBy(desc("n"))
        byType.show(20, truncate = false)
        val chars = Pipeline.characterCounts(Pipeline.dialog(lines))
        chars.show(10, truncate = false)
        val counters = TranscriptTable.readCounters(outRoot)
        println(s"""{"report":"done","turns":${counters.turns},"bytes":${counters.bytes}}""")
      case other =>
        System.err.println(s"unknown command: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
