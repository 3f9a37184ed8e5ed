package graft.streaming

import graft.spark.{ExtractTurn, Pipeline, Transcripts}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface. The reference engine is strictly batch
  * (SURVEY.md §2.11 — no streaming exists there), so this is the engine's
  * OWN streaming capability: incremental extraction over a growing
  * transcripts directory and watermarked per-window turn counts, built on
  * readStream -> extract_turn -> writeStream.
  */
object StreamingExtract {

  /** File-source stream over a transcripts parquet directory.
    *
    * `maxFilesPerTrigger` is OPT-IN (`Some(n)`), not a default: the file
    * source orders files by modification time, which is near-identical for
    * parallel-written parquet, so a bounded trigger over historical
    * (time-unordered) input makes any downstream watermark advance
    * batch-order-dependently — later batches' older events get dropped as
    * late data NONDETERMINISTICALLY (round-2 q23b failure, 69 vs 141 rows).
    * For backfill over unordered history, ingest in one AvailableNow batch
    * (`maxFilesPerTrigger = None`): the watermark only moves after all data
    * is in, so append mode emits exactly the windows closed by
    * `max(ts) - delay`. Bounded triggers are safe for LIVE tailing, where
    * arrival order tracks event time. The failure mode and both sides of
    * the contract are pinned in OpsSpec: "bounded triggers over unordered
    * history DROP late rows (pinned failure mode)", "watermark backfill
    * over unordered history is exact with single-batch ingest", and
    * "sessionization survives rows arriving behind the watermark (live
    * path)".
    */
  def readTranscripts(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Transcripts.schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.parquet(dir)
  }

  /** incremental extraction: each micro-batch extracts newly arrived turns */
  def extractedStream(transcripts: DataFrame): DataFrame =
    transcripts
      .filter(Pipeline.isDocTurn)
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        ExtractTurn(col("text")).as("ex"))
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        col("ex.format").as("format"),
        size(col("ex.lines")).as("n_lines"),
        col("ex.bytes").as("bytes"))

  /** Streaming exact dedup — the streaming analogue of Dedup.exact: the
    * first arrival of each content hash survives, later copies are
    * dropped. dropDuplicatesWithinWatermark keys STATE EVICTION to the
    * event-time watermark, so dedup state is bounded by the horizon
    * (here 2h of event time) instead of growing with the corpus — the
    * only state-size contract that survives an unbounded stream. Output
    * excludes arrival-dependent identity columns: which copy of a
    * duplicate survives is race-dependent across tasks, so downstream
    * consumers must aggregate on content-determined columns only (format,
    * text, hash), which is what q30's read-back does.
    */
  def dedupedStream(transcripts: DataFrame): DataFrame =
    transcripts
      .filter(Pipeline.isDocTurn)
      .select(Pipeline.formatOfTool.as("format"), col("text"), col("ts"))
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("content_hash")

  /** watermarked event-time windowed aggregation of extraction volume */
  def windowedCounts(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("format"))
      .agg(count(lit(1)).as("turns"), sum(col("n_lines")).as("lines"))

  /** Size the STATEFUL shuffle (state-store partition count) to the
    * stream's input volume instead of inheriting the session's batch
    * shuffle parallelism. Stateful streaming exchanges are exempt from AQE
    * (Spark disables AQE coalescing for stateful workloads) and the count
    * is frozen into the checkpoint at first start, so it must be chosen
    * explicitly and scale-adaptively: each state-store instance costs a
    * per-micro-batch commit (delta file + maintenance) regardless of how
    * little state it holds, so a tiny backfill across 32 stores pays 32
    * fixed commits per batch for state that fits in one. Derivation:
    * one partition per `bytesPerPartition` of input (default 32 MiB —
    * state is a bounded fraction of input for watermarked ops), clamped
    * to [1, 4x defaultParallelism]; `SPARK_GRAFT_STREAM_PARTITIONS`
    * overrides for cluster deployments that know their state size.
    * The input is sized through its path's Hadoop filesystem (any URI the
    * session can read); a missing input sizes as empty, and an input that
    * cannot be sized gets defaultParallelism, with the reason on stderr.
    */
  def statePartitionsFor(spark: SparkSession, inputDir: String,
      bytesPerPartition: Long = 32L << 20): Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").map(parseStatePartitions).getOrElse {
      val bytes =
        try {
          val path = new org.apache.hadoop.fs.Path(inputDir)
          val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
          Some(if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L)
        } catch {
          case e: Exception =>
            Console.err.println(s"[StreamingExtract] cannot size $inputDir ($e); " +
              "using defaultParallelism state partitions")
            None
        }
      val derived = bytes.fold(spark.sparkContext.defaultParallelism.toLong)(b =>
        math.max(1L, (b + bytesPerPartition - 1) / bytesPerPartition))
      math.min(derived, spark.sparkContext.defaultParallelism.toLong * 4).toInt
    }

  /** `SPARK_GRAFT_STREAM_PARTITIONS`: an integer >= 1, or a named error */
  def parseStatePartitions(raw: String): Int =
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_STREAM_PARTITIONS must be an integer >= 1, got '$raw'"))

  /** Run `body` (a streaming-query start + await) with
    * spark.sql.shuffle.partitions pinned to `n`, restoring the session
    * value after. The conf is only read when the stream plans its batches,
    * so the pin must span the whole run, not just start().
    */
  def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** start a parquet-sink query — the scale path: micro-batch results land
    * in files, never in the driver (the memory sink below is test-only).
    */
  def startParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** start a memory-sink query (tests / local smoke) */
  def startMemory(df: DataFrame, name: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** per-conversation running extraction state (turns seen, lines, bytes)
    * maintained with mapGroupsWithState — the custom-state streaming
    * surface (KeyValueGroupedDataset) over the extraction stream.
    */
  final case class ConvState(turns: Long, lines: Long, bytes: Long)
  final case class ConvProgress(conv_id: String, turns: Long, lines: Long, bytes: Long)

  def conversationState(extracted: DataFrame): org.apache.spark.sql.Dataset[ConvProgress] = {
    val sp = extracted.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    extracted
      .select(col("conv_id"), col("n_lines").cast("long"), col("bytes").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (convId: String, rows: Iterator[(String, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[ConvState]) =>
          var s = state.getOption.getOrElse(ConvState(0, 0, 0))
          rows.foreach { case (_, l, b) => s = ConvState(s.turns + 1, s.lines + l, s.bytes + b) }
          state.update(s)
          ConvProgress(convId, s.turns, s.lines, s.bytes)
      }
  }

  /** Event-time conversation sessionization via flatMapGroupsWithState +
    * EventTimeTimeout (the append-mode custom-state surface): a
    * conversation's session row (turns, lines, first/last event time) is
    * emitted ONCE, when the watermark passes its last event + `gapMinutes`
    * — i.e. the conversation has provably gone quiet. State is removed on
    * emission, so state size tracks ACTIVE conversations only, never the
    * corpus. Spark fires the timeout when `timeoutTimestamp < watermark`
    * (strict), which is exactly the rule the q31 oracle recomputes in SQL.
    */
  final case class ConvSessionState(turns: Long, lines: Long,
      firstTs: Long, lastTs: Long)
  final case class ConvSession(conv_id: String, turns: Long, lines: Long,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  def sessionizedStream(extracted: DataFrame, gapMinutes: Int = 90): org.apache.spark.sql.Dataset[ConvSession] = {
    val sp = extracted.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    extracted
      .withWatermark("ts", "2 hours")
      .select(col("conv_id"), col("ts"), col("n_lines").cast("long"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (convId: String, rows: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[ConvSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ConvSession(convId, s.turns, s.lines,
              new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs)))
          } else {
            var s = state.getOption.getOrElse(
              ConvSessionState(0L, 0L, Long.MaxValue, Long.MinValue))
            rows.foreach { case (_, ts, l) =>
              val t = ts.getTime
              s = ConvSessionState(s.turns + 1, s.lines + l,
                math.min(s.firstTs, t), math.max(s.lastTs, t))
            }
            state.update(s)
            // live-tailing guard: a conversation can arrive with its gap
            // ALREADY behind the watermark (late-but-not-dropped rows);
            // setTimeoutTimestamp throws on a timestamp <= watermark, so
            // clamp forward — the session then emits at the very next
            // watermark advance, which is the correct "already quiet"
            // semantics. Single-batch backfill never hits this (wm = 0).
            state.setTimeoutTimestamp(math.max(
              s.lastTs + gapMinutes * 60000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          })
  }

  /** memory-sink runner for the stateful stream (update output mode) */
  def startStateMemory(ds: org.apache.spark.sql.Dataset[ConvProgress], name: String): StreamingQuery =
    ds.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
}
