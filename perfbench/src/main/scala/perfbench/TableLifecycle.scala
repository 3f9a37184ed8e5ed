package perfbench

import graft.spark.{Pipeline, TranscriptTable, Transcripts, Turn}
import graft.streaming.StreamingExtract

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** table_lifecycle: the table layer, where per-job driver cost, manifests
  * and parquet writes dominate and the kernel does little.
  *
  * Set-up writes a small table in `Main synth`'s layout (4 files per
  * bucket). The timed part runs `extractWithCheckpoints` with `Main
  * extract`'s concurrency, removes half of its bucket manifests and runs
  * it again (the resume path). Traced runs then drive a fixed, seeded
  * cycle of writes (append, bucket overwrite, delete, one streaming
  * increment, and compaction plus snapshot expiry every few cycles)
  * against reads (point lookup, range, time travel, incremental append
  * scan, metadata tables), each checked against a model of the table.
  */
object TableLifecycle {
  val Convs = 300L
  val Buckets = 16
  /** `Main extract`'s default bucket-job concurrency. */
  val MaxConcurrent = 8
  /** The untraced timed phase: checkpointed runs for the run's seconds,
    * at least [[CkptRuns]] of them, after a warm-up of at least [[WarmS]].
    */
  val CkptRuns = 3
  val WarmS = 3.0
  val TracedCkptRuns = 6
  /** Lifecycle cycles in a traced run run for this many times the run's
    * seconds (at least [[MinCycles]]); each cycle has 5 writes and 5 reads.
    */
  val CycleBudget = 8.0
  val MinCycles = 2
  /** Cycling also stops once the JVM has run this long, so a traced run on
    * a contended host still ends well inside the per-run time limit.
    */
  val RunCapS = 105.0
  val CompactEvery = 3
  val AppendConvs = 4

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (root, setupS) = Harness.setup(ctx, 3) { i =>
      val root = ctx.dir(s"table$i/transcripts")
      TranscriptTable.write(Transcripts.synthesize(spark, Convs, seed = ctx.seed).toDF(),
        root, Buckets, snapshotId = 1L)
      root
    }
    ctx.report.set("setup_s", setupS)
    val goldens = ctx.dir("goldens")
    Transcripts.goldens(spark, Convs, seed = ctx.seed, parallelism = ctx.cores).toDF()
      .write.parquet(goldens)
    val turns = TranscriptTable.read(spark, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()

    var outN = 0
    def ckpt(): (Long, Double, String) = {
      outN += 1
      val out = ctx.dir(s"extract$outN")
      val (c, s) = Harness.secs(ctx.tracer.span("ckpt.extract") {
        TranscriptTable.extractWithCheckpoints(spark, root, out, Buckets, MaxConcurrent)
      })
      ctx.report.expect(c.turns == turns, s"checkpointed run counted ${c.turns} of $turns turns")
      (c.turns, s, out)
    }
    def verifyOutput(out: String): Unit = {
      val v = Checks.linesVsGoldens(Pipeline.lines(spark.read.parquet(s"$out/data")),
        spark.read.parquet(goldens))
      ctx.report.checked(turns, v.bad + math.abs(v.turns - turns),
        "checkpointed output turns that differ from the goldens")
    }
    def resume(out: String): Double = {
      val dir = TranscriptTable.checkpointDir(out)
      (0 until Buckets by 2).foreach(b => Files.deleteIfExists(dir.resolve(s"bucket-$b.json")))
      val skipped = TranscriptTable.committedBuckets(out).size
      ctx.report.set("ckpt.skipped_buckets", skipped)
      val (c, s) = Harness.secs(ctx.tracer.span("ckpt.resume") {
        TranscriptTable.extractWithCheckpoints(spark, root, out, Buckets, MaxConcurrent)
      })
      ctx.report.expect(c.turns == turns, s"resumed run counted ${c.turns} of $turns turns")
      ctx.report.expect(TranscriptTable.committedBuckets(out).size == Buckets,
        "resume left buckets uncommitted")
      s
    }

    val warm = Harness.warm(WarmS)(() => ckpt())
    val runs = Harness.loop(ctx, ctx.seconds, minSamples = CkptRuns)(() => ckpt()).map(_._1)
    // the resumed output: half its buckets from the full run, half re-extracted
    val resumeS = resume(runs.last._3)
    verifyOutput(runs.last._3)
    val tps = Stats.median(runs.map(r => r._1 / r._2))
    val r = ctx.report
    r.details("warm_s") = warm.map(w => f"$w%.3f").mkString(" ")
    r.details("samples_turns_per_s") = runs.map(x => f"${x._1 / x._2}%.0f").mkString(" ")
    r.set("host.calib_miters_s", ctx.calibMedian)
    r.set("ckpt.resume_s", resumeS)
    if (!ctx.traced) {
      r.set("turns_per_s", tps)
      r.set("heap_peak_mb", ctx.heapPeakMb)
      return
    }

    ctx.startTrace()
    val lc = new Lifecycle(ctx, root)
    Layers.traced(ctx, "timed") {
      // enough bucket jobs for a p90 backed by ten samples
      val traced = (0 until TracedCkptRuns).map(_ => ckpt())
      r.set("trace.overhead_share", (tps - Stats.median(traced.map(x => x._1 / x._2))) / tps)
      r.set("ckpt.resume_s", resume(traced.last._3))
        val jvmStart = System.nanoTime() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
      val deadline = math.min(System.nanoTime() + (CycleBudget * ctx.seconds * 1e9).toLong,
        jvmStart + (RunCapS * 1e9).toLong)
      var c = 0
      while (c < MinCycles || System.nanoTime() < deadline) { lc.cycle(c); c += 1 }
    }
    val spans = ctx.tracer.spans
    val ckptIds = spans.filter(s => s.name == "ckpt.extract" || s.name == "ckpt.resume").map(_.id).toSet
    val bucketJobs = ctx.listeners.get.sparkEvents.jobs.filter(j => ckptIds(j.span))
    val jobMs = bucketJobs.map(j => (j.end - j.start) / 1e6)
    r.set("ckpt.bucket_job_p50_ms", Stats.median(jobMs))
    r.set("ckpt.bucket_job_p90_ms", Stats.p90(jobMs).getOrElse(
      sys.error(s"only ${jobMs.length} bucket jobs: p90 needs 100")))
    r.set("ckpt.jobs_in_flight_max", Stats.maxInFlight(bucketJobs.map(j => (j.start, j.end))))
    lc.summarize()
    ctx.stopTrace()
  }

  /** The read/write cycle and the model of the table it checks against. */
  final class Lifecycle(ctx: Ctx, root: String) {
    private val spark = ctx.spark
    private val r = ctx.report
    private val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    /** conv_id → (rows, payload chars) in the current snapshot */
    private val live = mutable.Map.empty[String, (Long, Long)]
    private val snapRows = mutable.Map.empty[Long, Long]
    private var snap = TranscriptTable.currentSnapshotId(root).get
    private var nextConv = Convs
    private var nextStreamConv = Convs * 10
    private var lastVictim: Option[String] = None
    private val ops = mutable.ArrayBuffer.empty[(String, Boolean, Double)] // (op, write, ms)
    private var written = 0L
    private var userBytes = 0L
    private val lookupFiles = mutable.ArrayBuffer.empty[(Int, Int)]
    private val streamIn = ctx.dir("stream/in")
    private val streamOut = ctx.dir("stream/out")
    private val streamCkpt = ctx.dir("stream/checkpoint")
    private val streamMs = mutable.ArrayBuffer.empty[Double]
    private val streamParts = mutable.ArrayBuffer.empty[Int]

    TranscriptTable.read(spark, root).groupBy("conv_id")
      .agg(count(lit(1)), sum(length(col("text")))).collect()
      .foreach(row => live(row.getString(0)) = (row.getLong(1), row.getLong(2)))
    snapRows(snap) = total

    private def total: Long = live.values.map(_._1).sum
    private def liveIds: Vector[String] = live.keys.toVector.sorted
    private def pick(): String = { val ids = liveIds; ids(rnd.nextInt(ids.length)) }

    private def op[A](name: String, write: Boolean)(f: => A): A = {
      val (a, s) = Harness.secs(ctx.tracer.span(s"table.$name")(f))
      ops += ((name, write, s * 1000))
      a
    }

    /** A write that lands snapshot `id`: count the bytes it wrote. */
    private def landed(id: Long, user: Long): Unit = {
      written += Harness.dirBytes(Paths.get(root, "data", s"snap-$id")) +
        Files.size(Paths.get(root, "metadata", s"snapshot-$id.json"))
      userBytes += user
    }

    private def newTurns(k0: Long, n: Int): Seq[Turn] =
      (k0 until k0 + n).flatMap(k => Transcripts.turnsFor(ctx.seed, k, 8, 1000, 20).map(_._1))

    def cycle(c: Int): Unit = {
      append()
      lookup()
      overwrite()
      lookup()
      delete()
      lookup()
      if (c % 2 == 0) timeTravel() else range()
      delete()
      stream()
      meta(c)
      if (c % CompactEvery == CompactEvery - 1) compactAndExpire()
    }

    private def append(): Unit = {
      val rows = newTurns(nextConv, AppendConvs)
      nextConv += AppendConvs
      val parent = snap
      snap += 1
      import spark.implicits._
      val df = rows.toDF()
      op("append", write = true)(TranscriptTable.append(df, root, snap))
      rows.groupBy(_.conv_id).foreach { case (id, ts) =>
        live(id) = (ts.length.toLong, ts.map(_.text.length.toLong).sum)
      }
      snapRows(snap) = total
      landed(snap, rows.map(_.text.length.toLong).sum)
      val n = op("incremental", write = false)(
        TranscriptTable.incrementalRead(spark, root, parent, snap).count())
      r.expect(n == rows.length, s"incremental read $parent→$snap returned $n of ${rows.length} rows")
    }

    private def overwrite(): Unit = {
      val b = TranscriptTable.bucketOf(pick(), Buckets)
      val ids = liveIds.filter(id => TranscriptTable.bucketOf(id, Buckets) == b)
      snap += 1
      op("overwrite", write = true) {
        TranscriptTable.overwriteBucket(
          TranscriptTable.readConvIds(spark, root, ids).drop("bucket"), root, b, snap)
      }
      snapRows(snap) = total
      landed(snap, ids.map(live(_)._2).sum)
      val n = TranscriptTable.readManifest(root, snap).map(_.rows).sum
      r.expect(n == total, s"bucket overwrite left $n rows, expected $total")
    }

    private def delete(): Unit = delete(pick())

    private[perfbench] def delete(victim: String): Unit = {
      snap += 1
      val n = op("delete", write = true)(TranscriptTable.deleteConvIds(spark, root, Seq(victim), snap))
      r.expect(n == live(victim)._1, s"delete of $victim removed $n of ${live(victim)._1} rows")
      landed(snap, live(victim)._2)
      live.remove(victim)
      snapRows(snap) = total
      lastVictim = Some(victim)
    }

    /** Point lookup of two live conversations and the last victim, which
      * must come back empty.
      */
    private def lookup(): Unit = lookup((Seq(pick(), pick()) ++ lastVictim).distinct)

    private[perfbench] def lookup(ids: Seq[String]): Unit = {
      val (sel, all) = TranscriptTable.selectFilesForIds(root, snap, ids)
      lookupFiles += ((sel.length, all))
      val n = op("lookup", write = false)(TranscriptTable.readConvIds(spark, root, ids).count())
      val want = ids.map(id => live.get(id).map(_._1).getOrElse(0L)).sum
      r.expect(n == want, s"lookup of ${ids.mkString(",")} returned $n rows, expected $want")
    }

    private def range(): Unit = {
      val (lo, hi) = rangeBounds()
      val n = op("range", write = false)(TranscriptTable.readConvIdRange(spark, root, lo, hi).count())
      val want = live.collect { case (id, (rows, _)) if id >= lo && id <= hi => rows }.sum
      r.expect(n == want, s"range [$lo, $hi] returned $n rows, expected $want")
    }

    /** A narrow conv_id range: a seeded live id and the next few. */
    private def rangeBounds(): (String, String) = {
      val ids = liveIds
      val i = rnd.nextInt(ids.length)
      (ids(i), ids(math.min(ids.length - 1, i + 8)))
    }

    /** Read the table as it was at its first snapshot. */
    private def timeTravel(): Unit = {
      val n = op("time_travel", write = false)(TranscriptTable.readAt(spark, root, 1L).count())
      r.expect(n == snapRows(1L), s"snapshot 1 read $n rows, expected ${snapRows(1L)}")
    }

    private def meta(c: Int): Unit = c % 3 match {
      case 0 =>
        val ids = op("meta", write = false)(TranscriptTable.snapshotsTable(spark, root)
          .select("snapshot_id").collect().map(_.getLong(0)).toSet)
        r.expect(ids == TranscriptTable.snapshotIds(root).toSet && ids.contains(snap),
          "snapshots table disagrees with the live snapshots")
      case 1 =>
        val n = op("meta", write = false)(TranscriptTable.filesTable(spark, root)
          .agg(sum("row_count")).head().getLong(0))
        r.expect(n == total, s"files table counts $n rows, expected $total")
      case _ =>
        val top = op("meta", write = false)(TranscriptTable.historyTable(spark, root).head())
        r.expect(top.getLong(0) == snap && top.getBoolean(3), "history does not start at current")
    }

    /** Land one file of new turns, then drain the windowed-count stream
      * from its checkpoint with one AvailableNow run.
      */
    private def stream(): Unit = {
      import spark.implicits._
      val rows = newTurns(nextStreamConv, 2)
      nextStreamConv += 2
      rows.toDF().coalesce(1).write.mode("append").parquet(streamIn)
      val (q, s) = Harness.secs(ctx.tracer.span("table.stream") {
        val parts = StreamingExtract.statePartitionsFor(spark, streamIn)
        streamParts += parts
        StreamingExtract.withStatePartitions(spark, parts) {
          val q = StreamingExtract.startParquet(StreamingExtract.windowedCounts(
            StreamingExtract.extractedStream(StreamingExtract.readTranscripts(spark, streamIn))),
            streamOut, streamCkpt)
          q.awaitTermination()
          q
        }
      })
      ops += (("stream", true, s * 1000))
      streamMs += s * 1000
      val in = q.recentProgress.map(_.numInputRows).sum
      r.expect(q.exception.isEmpty && in == rows.length,
        s"stream increment read $in of ${rows.length} landed rows")
    }

    private def compactAndExpire(): Unit = {
      snap += 1
      op("compact", write = true)(TranscriptTable.compact(spark, root, snap))
      snapRows(snap) = total
      landed(snap, 0L)
      op("expire", write = true)(TranscriptTable.expireSnapshots(root, Set(1L, snap)))
      snapRows.keys.filterNot(Set(1L, snap)).toVector.foreach(snapRows.remove)
      r.expect(TranscriptTable.snapshotIds(root) == Vector(1L, snap),
        "expiry left other snapshots behind")
    }

    def summarize(): Unit = {
      def med(name: String): Double = {
        val xs = ops.collect { case (n, _, ms) if n == name => ms }
        if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
      }
      Seq("append", "overwrite", "delete", "compact", "expire", "lookup", "range",
        "time_travel", "incremental", "meta").foreach(n => r.set(s"table.${n}_ms", med(n)))
      // the tail rule: the highest percentile with ten samples beyond it
      for ((cls, write) <- Seq("read" -> false, "write" -> true)) {
        val xs = ops.collect { case (_, w, ms) if w == write => ms }.toSeq
        r.set(s"table.${cls}_p50_ms", Stats.median(xs))
        val tail = Stats.tailPercentile(xs.length).getOrElse(50)
        r.set(s"table.${cls}_tail_ms", Stats.quantile(xs, tail / 100.0))
        r.details(s"table_${cls}_tail") = s"p$tail of ${xs.length}"
      }
      r.set("table.files_per_lookup", lookupFiles.map(_._1).sum.toDouble / lookupFiles.length)
      r.set("table.prune_ratio",
        1.0 - lookupFiles.map(_._1).sum.toDouble / lookupFiles.map(_._2).sum)
      r.set("table.write_amp", written.toDouble / userBytes)
      r.set("table.manifest_files", TranscriptTable.readManifest(root, snap).length)
      val prog = ctx.listeners.get.streamEvents.progress
      def medOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      r.set("stream.increment_ms", medOf(streamMs.toSeq))
      r.set("stream.batches", prog.length)
      r.set("stream.add_batch_ms",
        medOf(prog.flatMap(p => Option(p.durationMs.get("addBatch")).map(_.toDouble))))
      r.set("stream.wal_commit_ms",
        medOf(prog.flatMap(p => Option(p.durationMs.get("walCommit")).map(_.toDouble))))
      val states = prog.flatMap(_.stateOperators)
      r.set("stream.state_rows", prog.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L).toDouble)
      r.set("stream.state_commit_ms", medOf(states.map(_.commitTimeMs.toDouble)))
      r.set("stream.state_partitions", streamParts.lastOption.getOrElse(0).toDouble)
      r.set("stream.late_drops", states.map(_.numRowsDroppedByWatermark).sum.toDouble)
      ctx.report.details("table_ops") = ops.length.toString
    }
  }
}
