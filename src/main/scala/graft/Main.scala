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
  *   spark-submit --class graft.Main <jar> scale <tableRoot> <label>
  *
  * `extract` is resumable: rerunning after a failure skips buckets whose
  * checkpoint manifests are committed (TranscriptTable). `maxConcurrent`
  * (default 8) overlaps bucket jobs from a bounded driver pool — a bucket
  * job's fixed cost (see TranscriptTable.extractWithCheckpoints) otherwise
  * serializes at small bucket sizes.
  *
  * `scale` is one side of the N-vs-4N executor scaling evidence
  * (BENCH/run_scaling.sh runs it under `local-cluster` masters, i.e.
  * separate executor JVMs): read the table, extract every turn, count
  * lines; two warm-ups, then best-of-2 timed, printed as one JSON line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Main synth|extract|report|scale ...")
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
      case "scale" =>
        val tableRoot = args(1)
        val label = if (args.length > 2) args(2) else "run"
        def run(): (Long, Long, Double) = {
          val t0 = System.nanoTime()
          val row = Pipeline.extracted(TranscriptTable.read(spark, tableRoot))
            .agg(count(lit(1)).as("turns"),
              coalesce(sum(size(col("ex.lines"))), lit(0L)).as("lines")).head()
          (row.getLong(0), row.getLong(1), (System.nanoTime() - t0) / 1e9)
        }
        // two warm-ups: fresh executor JVMs need 2 passes of kernel JIT; then
        // best-of-2 timed. Cross-invocation host wander is handled one level
        // up (run_scaling.sh alternates N/4N pairs and takes medians).
        val runs = Seq.fill(4)(run())
        val best = runs.drop(2).minBy(_._3)
        require(runs.forall(_._1 == best._1), "inconsistent row counts")
        val thr = best._1 / best._3
        val all = runs.map(r => f"${r._3}%.2f").mkString("[", ",", "]")
        println(f"""{"label":"$label","turns":${best._1},"lines":${best._2},"seconds":${best._3}%.3f,"turns_per_sec":$thr%.1f,"all_run_secs":$all}""")
      case other =>
        System.err.println(s"unknown command: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
