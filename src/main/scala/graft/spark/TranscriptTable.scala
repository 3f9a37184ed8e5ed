package graft.spark

import graft.util.Json
import graft.util.Json.{Arr, Bool, Num, Obj, Str}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import scala.jdk.CollectionConverters._

/** Iceberg-STYLE table layout for the transcripts / extraction tables.
  *
  * No Iceberg runtime jar ships in this environment (see SURVEY.md §7), so
  * this implements the same operational contract behind a small interface
  * a real Iceberg catalog can replace:
  *   - data files:      <root>/data/snap-<id>/bucket=<b>/part-*.parquet
  *                      (bucket = pmod(xxhash64(conv_id), nBuckets) — the
  *                      conv_id bucketing the north rule requires). Data
  *                      files are IMMUTABLE: each write/overwrite lands
  *                      its files under its own snapshot directory.
  *   - snapshot:        <root>/metadata/snapshot-<id>.json, carrying the
  *                      partition spec, schema and the MANIFEST — the
  *                      (bucket, path) list of data files composing the
  *                      snapshot. Reads always resolve through a manifest,
  *                      so a prior snapshot stays readable after an
  *                      overwrite ([[readAt]]) until [[expireSnapshots]]
  *                      garbage-collects it. The CURRENT snapshot is the
  *                      highest committed id, found by listing (a
  *                      `current.json` left by older builds is ignored).
  *   - checkpoints:     <root>/metadata/checkpoints/bucket-<b>.json per
  *                      finished partition, with lineage (snapshot id,
  *                      partition spec) and counters (turns parsed, bytes
  *                      tokenized)
  *
  * Every metadata operation goes through [[TableStore]] on the root's
  * Hadoop filesystem, and every commit is put-if-absent (see [[claimed]]).
  * A failed extraction run resumes at partition granularity: buckets with a
  * committed checkpoint manifest are skipped.
  */
object TranscriptTable {

  final case class Counters(turns: Long, bytes: Long)

  /** A commit refused: its id or file is taken, or the table moved on
    * while it was written (an IllegalArgumentException, as always).
    */
  final class CommitConflict(message: String) extends IllegalArgumentException(message)

  /** One manifest entry: the bucket a data file belongs to, its path
    * relative to the table root, and (when collected at write time)
    * file-level column statistics for data skipping — min/max conv_id and
    * row count, read from the parquet FOOTER (metadata-only, the same way
    * Iceberg collects per-file stats). Files written before stats existed
    * carry None/-1 and are never pruned (can't skip what you can't prove).
    * `bytes` (file length, -1 = unknown) sizes bucket jobs without a listing.
    */
  final case class DataFile(bucket: Int, path: String,
      minConvId: Option[String] = None, maxConvId: Option[String] = None,
      rows: Long = -1L, bytes: Long = -1L)

  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int")

  private def snapDataDir(root: String, snapshotId: Long): String =
    s"$root/data/snap-$snapshotId"
  private def snapshotFile(root: String, snapshotId: Long): String =
    s"$root/metadata/snapshot-$snapshotId.json"
  private val SnapshotName = """snapshot-(\d+)\.json""".r
  private val BucketName = """bucket-(\d+)\.json""".r

  /** Run a write of snapshot `snapshotId` over `parent`, the current one.
    * The id must grow past it and is claimed ([[TableStore.claimDir]])
    * before any data lands, so a second writer of it fails before touching
    * the winner's files. Only the writer that won the claim rolls it back,
    * when `body` fails, so the id stays usable.
    */
  private def claimed[A](root: String, snapshotId: Long, parent: Option[Long])(body: => A): A = {
    for (c <- parent if c >= snapshotId) throw new CommitConflict(s"snapshot $snapshotId " +
      s"is at or below the current snapshot $c at $root — snapshot ids only grow, use a new id")
    val store = TableStore(root)
    if (!store.claimDir(snapDataDir(root, snapshotId)))
      throw new CommitConflict(s"data dir for snapshot $snapshotId already exists at $root — " +
        "another writer holds the id, or a crashed write left the dir (remove it explicitly)")
    try body catch { case e: Throwable => store.delete(snapDataDir(root, snapshotId)); throw e }
  }

  /** The snapshot's recorded schema. Reads trust it instead of sampling
    * parquet footers, so appends and bucket overwrites, which commit their
    * parent's schema, require their input to match it — names and types;
    * nullability is moot, parquet reads every column back nullable.
    */
  private def tableSchema(meta: Json.Value): StructType =
    DataType.fromJson(meta("schema").asString).asInstanceOf[StructType]
  private def readSchema(meta: Json.Value) = tableSchema(meta).add("bucket", IntegerType)

  private def requireTableSchema(op: String, df: DataFrame, meta: Json.Value): Unit = {
    def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(fields(df.schema) == fields(tableSchema(meta)), s"$op: input columns " +
      s"${df.schema.catalogString} do not match the table schema ${tableSchema(meta).catalogString}")
  }

  /** All parquet files under a snapshot data dir, as manifest entries with
    * root-relative paths; bucket parsed from the `bucket=N` path segment.
    */
  private def listDataFiles(root: String, snapshotId: Long): Vector[DataFile] =
    TableStore(root).files(snapDataDir(root, snapshotId), ".parquet").map { rel =>
      val dirs = rel.split('/')
      DataFile(dirs(dirs.length - 2).stripPrefix("bucket=").toInt, s"data/snap-$snapshotId/$rel")
    }.sortBy(_.path)

  /** UTF-8 binary comparison — the ordering parquet stats, Spark string
    * comparisons and the layout's sort all use. JVM String.compareTo
    * orders by UTF-16 code UNIT, which disagrees beyond the BMP
    * (surrogates sort below U+E000), so pruning decisions must never use
    * it: a wrongly-skipped file is silent data loss.
    */
  private def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Fill a manifest entry's stats from its parquet footer: min/max
    * conv_id over the row groups' column-chunk statistics plus the row
    * count. Metadata-only — no data pages are read. Parquet may truncate
    * binary stats, but truncation keeps min a lower and max an upper
    * bound, which is exactly what range pruning needs. Files whose footer
    * has no usable conv_id stats stay unpruned.
    */
  private def footerStats(root: String, f: DataFile,
      conf: org.apache.hadoop.conf.Configuration): DataFile = try {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$root/${f.path}"), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var mn: String = null
      var mx: String = null
      var rows = 0L
      var statsOk = true
      reader.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.find(_.getPath.toDotString == "conv_id") match {
          case Some(c) =>
            val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
            if (st != null && !st.isEmpty && st.hasNonNullValue) {
              val bmin = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              val bmax = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              if (mn == null || utf8Cmp(bmin, mn) < 0) mn = bmin
              if (mx == null || utf8Cmp(bmax, mx) > 0) mx = bmax
            } else statsOk = false // one statless row group poisons the file's bound
          case None => statsOk = false
        }
      }
      f.copy(rows = rows, bytes = in.getLength,
        minConvId = Option(mn).filter(_ => statsOk), maxConvId = Option(mx).filter(_ => statsOk))
    } finally reader.close()
  } catch { case _: Exception => f } // unreadable footer: keep the entry unpruned

  /** footer reads are independent metadata fetches — run them on a small
    * pool so a many-file commit doesn't serialize thousands of ~1 ms
    * opens on the driver
    */
  private def withStats(root: String, files: Vector[DataFile]): Vector[DataFile] = {
    // the session's Hadoop conf, shared by every footer read: it names the
    // filesystem of a root that is not `file:`, and constructing a conf per
    // file re-parses the Hadoop default XMLs a thousand times on a big commit
    val conf = TableStore.conf
    DriverJobs.run(if (files.length <= 4) 1 else 16,
      files.map(f => () => footerStats(root, f, conf))).toVector
  }

  /** Commit the snapshot file put-if-absent, refused unless the table is
    * still at `parent`: a writer that committed meanwhile, under any id,
    * wins, and this one (inside [[claimed]]) rolls back.
    */
  private def writeSnapshot(root: String, snapshotId: Long, nBuckets: Int,
      schemaJson: String, manifest: Vector[DataFile],
      operation: String = "overwrite", parent: Option[Long] = None): Unit = {
    val snap = Obj.of(
      Vector[(String, Json.Value)](
      "snapshot_id" -> Num(snapshotId.toDouble),
      // lineage for incremental scans: what this snapshot DID and what it
      // grew out of (absent parent = table creation)
      "operation" -> Str(operation)) ++
      parent.map(p => "parent_snapshot_id" -> (Num(p.toDouble): Json.Value)).toVector ++
      Vector[(String, Json.Value)](
      "format" -> Str("parquet"),
      "partition_spec" -> Obj.of(
        "kind" -> Str("bucket"),
        "column" -> Str("conv_id"),
        "transform" -> Str(s"pmod(xxhash64(conv_id), $nBuckets)"),
        "n_buckets" -> Num(nBuckets.toDouble)),
      "schema" -> Str(schemaJson),
      "manifest" -> Arr(manifest.map { f =>
        val base = Vector[(String, Json.Value)](
          "bucket" -> Num(f.bucket.toDouble),
          "path" -> Str(f.path))
        val stats: Vector[(String, Json.Value)] =
          Vector("rows" -> f.rows, "bytes" -> f.bytes)
            .collect { case (k, n) if n >= 0 => k -> (Num(n.toDouble): Json.Value) } ++
          ((f.minConvId, f.maxConvId) match {
            case (Some(mn), Some(mx)) => Vector[(String, Json.Value)](
              "min_conv_id" -> Str(mn), "max_conv_id" -> Str(mx))
            case _ => Vector.empty
          })
        Obj.of(base ++ stats: _*)
      }.toVector)): _*)
    val head = currentSnapshotId(root)
    def at(id: Option[Long]) = id.fold("no snapshot")(i => s"snapshot $i")
    if (head != parent)
      throw new CommitConflict(s"snapshot $snapshotId at $root was written over " +
        s"${at(parent)}, but another writer committed ${at(head)} first")
    if (!TableStore(root).putIfAbsent(snapshotFile(root, snapshotId), Json.write(snap)))
      throw new CommitConflict(
        s"snapshot $snapshotId already exists at $root — snapshot ids are immutable, use a new id")
  }

  /** The table's one parquet write: `df` into `dir`, through
    * [[LocalFs]] for `file:` paths (no `chmod` process per file or dir).
    * Table data appends into the snapshot dir [[claimed]] made (an
    * overwrite would delete and re-create it, reopening the claim); a
    * checkpoint bucket's output overwrites its last try.
    * Table data is partitioned by `bucket`, in CPU-sized row groups: a
    * parquet file only splits at ROW-GROUP boundaries, so with the 128 MB
    * default one skew-heavy bucket file is ONE scan task no matter what
    * maxPartitionBytes says — measured 2.6x (salted) / 7.1x (unsalted)
    * wall vs a uniform layout on the 50x-skew corpus (the skew-stress
    * section of BENCH/BASELINE.md). 4 MiB groups restore byte-range
    * parallelism inside big files.
    */
  private def writeParquet(df: DataFrame, dir: String, byBucket: Boolean = true): Unit = {
    val w = df.write.mode(if (byBucket) SaveMode.Append else SaveMode.Overwrite)
      .options(LocalFs.writeOptions)
    if (byBucket)
      w.option("parquet.block.size", (4 * 1024 * 1024).toString).partitionBy("bucket").parquet(dir)
    else w.parquet(dir)
  }

  /** Write a conv_id-bucketed table + snapshot metadata.
    *
    * `filesPerBucket` splits each bucket into several parquet files. HOW
    * they split is the `layout` trade-off (the same one Iceberg exposes
    * as a table sort order):
    *   - `"salted"` (default): a hash salt assigns conversations to files
    *     uniformly — long-conversation skew amortizes over several read
    *     tasks instead of one straggler per bucket, but every file spans
    *     nearly the bucket's whole conv_id range, so the manifest's
    *     min/max stats cannot range-prune within a bucket (bucket pruning
    *     for point lookups still works).
    *   - `"range"`: repartitionByRange clusters each bucket's files into
    *     contiguous conv_id ranges (sampler-balanced by rows) — file
    *     stats become tight, so [[readConvIdRange]]/[[readConvIds]] skip
    *     most files; the cost is that ONE huge conversation can no longer
    *     split across files (a range partitioner cannot split a key), so
    *     prefer `"salted"` for heavily skewed corpora.
    */
  def write(df: DataFrame, root: String, nBuckets: Int, snapshotId: Long,
      filesPerBucket: Int = 4, layout: String = "salted",
      operation: String = ""): Unit = {
    val parentId = currentSnapshotId(root)
    claimed(root, snapshotId, parentId) {
      // table creation is an append (nothing replaced); a full rewrite of an
      // existing table replaces every row. `operation` overrides (compact
      // stamps "replace").
      val op = if (operation.nonEmpty) operation
               else if (parentId.isEmpty) "append" else "overwrite"
      val withBucket = df.withColumn("bucket", bucketCol(nBuckets))
      val split = layout match {
        case "salted" => withBucket
          .repartition(nBuckets * filesPerBucket, col("bucket"),
            pmod(xxhash64(col("conv_id"), lit(1)), lit(filesPerBucket)))
        case "range" => withBucket
          .repartitionByRange(nBuckets * filesPerBucket, col("bucket"), col("conv_id"))
        case other => sys.error(s"unknown layout '$other' (salted | range)")
      }
      writeParquet(split.sortWithinPartitions("conv_id", "turn_idx"), // stable order within files
        snapDataDir(root, snapshotId))
      writeSnapshot(root, snapshotId, nBuckets, df.schema.json,
        withStats(root, listDataFiles(root, snapshotId)), op, parentId)
    }
  }

  /** Iceberg-style partition overwrite: replace ONE bucket's data in a NEW
    * snapshot. The new files land under the new snapshot's own data dir;
    * the new manifest is the current one minus the bucket's old files plus
    * the new ones. Files of the previous snapshot are NOT deleted — the
    * old snapshot remains readable via [[readAt]] until expired.
    *
    * Input rows that don't hash to `bucket` are dropped (warned to stderr);
    * if NO row hashes to it the write aborts before any metadata commit —
    * a caller mistake (wrong bucket number / wrong conv_ids) must not
    * silently become a bucket deletion in the new snapshot. Pass
    * `allowEmpty = true` to intentionally empty the bucket.
    */
  def overwriteBucket(df: DataFrame, root: String, bucket: Int,
      newSnapshotId: Long, filesPerBucket: Int = 4,
      allowEmpty: Boolean = false): Unit = {
    val curId = headId(root)
    claimed(root, newSnapshotId, Some(curId)) {
      val cur = snapshotMeta(root, curId)
      requireTableSchema("overwriteBucket", df, cur)
      val nBuckets = cur("partition_spec")("n_buckets").asInt
      // total/matched counters ride the write itself (one pass, no recount)
      val obs = org.apache.spark.sql.Observation(s"graft_ow_${newSnapshotId}_b$bucket")
      writeParquet(df.withColumn("bucket", bucketCol(nBuckets))
        .observe(obs, count(lit(1)).as("total"),
          coalesce(sum(when(col("bucket") === bucket, 1L).otherwise(0L)), lit(0L))
            .as("matched"))
        .filter(col("bucket") === bucket)
        .repartition(filesPerBucket,
          pmod(xxhash64(col("conv_id"), lit(1)), lit(filesPerBucket)))
        .sortWithinPartitions("conv_id", "turn_idx"), snapDataDir(root, newSnapshotId))
      // emptiness check rides the OUTPUT, not the observation: partitionBy
      // writes no parquet files for zero rows, and precisely in that case AQE
      // prunes the CollectMetrics node from the final plan (empty-relation
      // propagation) so the observation map comes back EMPTY — the metrics
      // are only a best-effort dropped-rows warning below
      val newFiles = listDataFiles(root, newSnapshotId)
      // nothing committed yet: [[claimed]] removes the orphan data dir, so
      // the id stays usable after the caller fixes their input
      if (newFiles.isEmpty && !allowEmpty)
        sys.error(s"overwriteBucket: no input row hashes to bucket $bucket — " +
          s"refusing to silently drop the bucket from snapshot $newSnapshotId; " +
          "pass allowEmpty = true to empty it intentionally")
      val m = obs.get
      for (t <- m.get("total").map(_.asInstanceOf[Long]);
           mt <- m.get("matched").map(_.asInstanceOf[Long]); if mt < t)
        Console.err.println(s"[TranscriptTable] overwriteBucket: ${t - mt} " +
          s"of $t input rows hash outside bucket $bucket and were dropped")
      val kept = manifestOf(cur).filterNot(_.bucket == bucket)
      writeSnapshot(root, newSnapshotId, nBuckets, cur("schema").asString,
        kept ++ withStats(root, newFiles), "overwrite", Some(curId))
    }
  }

  /** Iceberg-style fast append: land NEW data files for the input rows
    * under a new snapshot whose manifest is the current one PLUS the new
    * files — no existing file is touched or rewritten, which keeps daily
    * ingestion O(new data) on a 10^12-turn table. The bucket spec is
    * inherited from the current snapshot; the new files use the salted
    * within-bucket layout (see [[write]]). Row-level duplicates vs
    * existing data are NOT checked (same as Iceberg) — dedup is a
    * read-side or maintenance concern. The snapshot records
    * operation="append" + its parent, which is what entitles it to appear
    * inside an [[incrementalRead]] range.
    */
  def append(df: DataFrame, root: String, newSnapshotId: Long,
      filesPerBucket: Int = 4): Unit = {
    val curId = headId(root)
    claimed(root, newSnapshotId, Some(curId)) {
      val cur = snapshotMeta(root, curId)
      requireTableSchema("append", df, cur)
      val nBuckets = cur("partition_spec")("n_buckets").asInt
      writeParquet(df.withColumn("bucket", bucketCol(nBuckets))
        .repartition(nBuckets * filesPerBucket, col("bucket"),
          pmod(xxhash64(col("conv_id"), lit(1)), lit(filesPerBucket)))
        .sortWithinPartitions("conv_id", "turn_idx"), snapDataDir(root, newSnapshotId))
      val newFiles = listDataFiles(root, newSnapshotId)
      // an empty append is a caller mistake, not a new snapshot; [[claimed]]
      // removes the orphan dir so the id stays usable (as in overwriteBucket)
      if (newFiles.isEmpty)
        sys.error(s"append: no input rows — refusing to commit empty snapshot $newSnapshotId")
      writeSnapshot(root, newSnapshotId, nBuckets, cur("schema").asString,
        manifestOf(cur) ++ withStats(root, newFiles),
        "append", Some(curId))
    }
  }

  /** Iceberg-style incremental append scan: the rows ADDED after
    * `fromSnapshotId` up to and including `toSnapshotId`, resolved by
    * walking the parent chain from `to` back to `from` and requiring
    * every snapshot on the path to be an append. An overwrite / replace
    * in range has no well-defined row-level delta at file granularity,
    * so (like Iceberg) the scan REFUSES rather than silently returning
    * rewritten rows as "new". Reading only the added files keeps a
    * downstream sync O(delta), not O(table).
    */
  def incrementalRead(spark: SparkSession, root: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    snapshotMeta(root, fromSnapshotId) // must exist
    var id = toSnapshotId
    while (id != fromSnapshotId) {
      val m = snapshotMeta(root, id)
      val op = m.get("operation").map(_.asString).getOrElse("unknown")
      require(op == "append",
        s"incremental read $fromSnapshotId -> $toSnapshotId crosses snapshot $id " +
          s"with operation '$op' — only append chains have a row-level delta")
      id = m.get("parent_snapshot_id").map(_.asLong).getOrElse(
        sys.error(s"snapshot lineage from $toSnapshotId never reaches " +
          s"$fromSnapshotId (chain breaks at $id)"))
    }
    val before = readManifest(root, fromSnapshotId).map(_.path).toSet
    val to = snapshotMeta(root, toSnapshotId)
    readFiles(spark, root, to, manifestOf(to).filterNot(f => before(f.path)))
  }

  /** Read the table AT a snapshot: data files resolve through that
    * snapshot's manifest, so overwritten buckets read their old files.
    * Files are grouped per originating snapshot dir so the `bucket=N`
    * partition column recovers through each group's basePath.
    */
  def readAt(spark: SparkSession, root: String, snapshotId: Long): DataFrame = {
    val meta = snapshotMeta(root, snapshotId)
    val files = manifestOf(meta)
    require(files.nonEmpty, s"snapshot $snapshotId at $root has an empty manifest")
    readFiles(spark, root, meta, files)
  }

  /** Build a DataFrame over an explicit subset of `meta`'s manifest,
    * grouped per originating snapshot dir so the `bucket=N` partition
    * column recovers through each group's basePath. The schema is `meta`'s
    * plus `bucket`, so no job samples parquet footers; each scan lists at
    * most the session's parallel-listing threshold of files, so none
    * starts a file-listing job either. A fully-pruned read is an empty
    * frame with that schema, so it stays composable.
    */
  private def readFiles(spark: SparkSession, root: String, meta: Json.Value,
      files: Vector[DataFile]): DataFrame = {
    val perScan = math.max(1,
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    files.groupBy(f => f.path.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .flatMap { case (snapRel, fs) =>
        fs.grouped(perScan).map { chunk =>
          spark.read.schema(readSchema(meta)).option("basePath", s"$root/$snapRel")
            .parquet(chunk.map(f => s"$root/${f.path}"): _*)
        }
      }
      .reduceOption(_.unionByName(_)).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema(meta)))
  }

  /** Read the table at its CURRENT snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, headId(root))

  /** Bin-pack compaction (the Iceberg `rewrite_data_files` maintenance
    * action): rewrite the CURRENT snapshot's data into `filesPerBucket`
    * files per bucket under a NEW snapshot. Incremental writes and
    * partition overwrites accumulate small files — a 10^12-turn table
    * would grind scan planning and task scheduling without periodic
    * compaction. Contents are untouched (same rows, same bucketing,
    * fresh footer stats in the new manifest); the pre-compaction
    * snapshot stays readable via [[readAt]] until expired.
    */
  def compact(spark: SparkSession, root: String, newSnapshotId: Long,
      filesPerBucket: Int = 1, layout: String = "salted"): Unit = {
    val curId = headId(root)
    val cur = snapshotMeta(root, curId)
    val nBuckets = cur("partition_spec")("n_buckets").asInt
    // write() recomputes the same bucket transform, lands the files under
    // the new snapshot's own dir and commits the manifest + stats; the
    // lazy read plan pulls from the old snapshot's files, so there is no
    // self-overwrite hazard
    write(readAt(spark, root, curId).drop("bucket"), root, nBuckets,
      newSnapshotId, filesPerBucket, layout, operation = "replace")
  }

  /** Copy-on-write row-level DELETE by conversation id (Iceberg's
    * copy-on-write delete shape): only data files that can contain one
    * of `convIds` — bucket pruning + footer min/max stats, the same
    * planning step [[readConvIds]] does — are rewritten without the
    * deleted rows; every OTHER file carries into the new snapshot's
    * manifest by reference, untouched. At 10^12 turns a compliance
    * delete of a handful of conversations rewrites a few files, not the
    * table. The pre-delete snapshot stays time-travelable until expired;
    * incremental append scans crossing the delete snapshot refuse (a
    * delete has no file-granular row delta). Returns the number of rows
    * deleted; refuses when no row matches — a typo'd id must fail
    * loudly, not commit a no-op snapshot.
    */
  def deleteConvIds(spark: SparkSession, root: String, convIds: Seq[String],
      newSnapshotId: Long): Long = {
    require(convIds.nonEmpty, "deleteConvIds: empty conv id list")
    val curId = headId(root)
    claimed(root, newSnapshotId, Some(curId)) {
      val cur = snapshotMeta(root, curId)
      val nBuckets = cur("partition_spec")("n_buckets").asInt
      val (candidates, total) = selectFilesForIds(root, curId, convIds)
      val candPaths = candidates.map(_.path).toSet
      val kept = manifestOf(cur).filterNot(f => candPaths(f.path))
      // ONE read of the candidate files: the deleted-row count rides the
      // rewrite itself via observe() (the same counters-on-the-write shape
      // extractWithCheckpoints uses), instead of a separate count pass —
      // halving candidate I/O (round-6 review note). The no-op refusal is
      // checked AFTER the job but BEFORE the manifest commit, so a typo'd id
      // never commits a snapshot (and [[claimed]] rolls the rewrite back).
      val deleted = if (candidates.isEmpty) 0L else {
        val isVictim = col("conv_id").isin(convIds: _*)
        val obs = org.apache.spark.sql.Observation(s"graft_del_$newSnapshotId")
        writeParquet(readFiles(spark, root, cur, candidates)
          .observe(obs, coalesce(sum(when(isVictim, 1L).otherwise(0L)), lit(0L))
            .as("deleted"))
          .filter(!isVictim)
          .repartition(math.max(1, candidates.map(_.bucket).distinct.size), col("bucket"))
          .sortWithinPartitions("conv_id", "turn_idx"), snapDataDir(root, newSnapshotId))
        // an all-victim rewrite lands no rows, and AQE then prunes the
        // CollectMetrics node (the overwriteBucket lesson)
        obs.get.get("deleted").map(_.asInstanceOf[Long]).getOrElse(
          deletedWithoutMetrics(candidates, listDataFiles(root, newSnapshotId),
            readFiles(spark, root, cur, candidates).filter(isVictim).count()))
      }
      require(deleted > 0L,
        s"deleteConvIds: no row matches any of the ${convIds.size} conv ids " +
          s"(checked ${candidates.size}/$total candidate files) — refusing to " +
          "commit a no-op snapshot")
      val newFiles = listDataFiles(root, newSnapshotId)
      writeSnapshot(root, newSnapshotId, nBuckets, cur("schema").asString,
        kept ++ withStats(root, newFiles), "delete", Some(curId))
      deleted
    }
  }

  /** The delete count when the rewrite's metrics are missing: only an
    * empty rewrite proves every candidate row was a victim (count = footer
    * rows); files landed or stat-less candidates pay the explicit `recount`.
    */
  private[spark] def deletedWithoutMetrics(candidates: Vector[DataFile],
      rewritten: Vector[DataFile], recount: => Long): Long =
    if (rewritten.isEmpty && candidates.forall(_.rows >= 0L)) candidates.map(_.rows).sum
    else recount

  // ---- data skipping ------------------------------------------------------

  /** Spark-compatible conv_id bucket, computed driver-side: the same
    * xxhash64 (seed 42) + pmod the layout's [[bucketCol]] evaluates.
    */
  def bucketOf(convId: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(convId), 42L)
    val m = (h % nBuckets).toInt
    if (m < 0) m + nBuckets else m
  }

  /** Manifest subset whose [min, max] conv_id range can intersect
    * [lo, hi]; stat-less entries always survive. Pure metadata — this is
    * the planning step a 10^12-turn read does before touching storage.
    */
  def selectFilesForRange(root: String, snapshotId: Long,
      lo: String, hi: String): (Vector[DataFile], Int) = {
    val files = readManifest(root, snapshotId)
    val selected = files.filter(f => (f.minConvId, f.maxConvId) match {
      case (Some(mn), Some(mx)) => utf8Cmp(mx, lo) >= 0 && utf8Cmp(mn, hi) <= 0
      case _ => true
    })
    (selected, files.length)
  }

  /** Manifest subset that can contain any of `convIds`: bucket pruning
    * (partition-level, exact) composed with min/max stats (file-level).
    */
  def selectFilesForIds(root: String, snapshotId: Long,
      convIds: Seq[String]): (Vector[DataFile], Int) = {
    val meta = snapshotMeta(root, snapshotId)
    val nBuckets = meta("partition_spec")("n_buckets").asInt
    val wanted = convIds.map(id => bucketOf(id, nBuckets)).toSet
    val files = manifestOf(meta)
    val selected = files.filter { f =>
      wanted.contains(f.bucket) && ((f.minConvId, f.maxConvId) match {
        case (Some(mn), Some(mx)) =>
          convIds.exists(id => utf8Cmp(id, mn) >= 0 && utf8Cmp(id, mx) <= 0)
        case _ => true
      })
    }
    (selected, files.length)
  }

  /** Range read with file skipping: only manifest entries whose conv_id
    * stats intersect [lo, hi] are opened; the residual filter stays on
    * for exactness (stats bound, they don't partition).
    */
  def readConvIdRange(spark: SparkSession, root: String,
      lo: String, hi: String): DataFrame = {
    val id = headId(root)
    val (selected, _) = selectFilesForRange(root, id, lo, hi)
    readFiles(spark, root, snapshotMeta(root, id), selected)
      .filter(col("conv_id").between(lo, hi))
  }

  /** Point-lookup read: bucket pruning + stats skipping, then the exact
    * membership filter.
    */
  def readConvIds(spark: SparkSession, root: String,
      convIds: Seq[String]): DataFrame =
    readConvIdsAt(spark, root, headId(root), convIds)

  /** [[readConvIds]] against an explicit snapshot — the time-travel point
    * lookup. Same exactness contract: pruning only skips files whose stats
    * PROVE they cannot hold any of `convIds` (stat-less files survive),
    * and the residual membership filter stays on.
    */
  def readConvIdsAt(spark: SparkSession, root: String, snapshotId: Long,
      convIds: Seq[String]): DataFrame = {
    val (selected, _) = selectFilesForIds(root, snapshotId, convIds)
    readFiles(spark, root, snapshotMeta(root, snapshotId), selected)
      .filter(col("conv_id").isin(convIds: _*))
  }

  /** Drop all snapshots except `keep` (must include the current one):
    * deletes their metadata files and any data file no kept manifest
    * references — after this, [[readAt]] on an expired id fails.
    */
  def expireSnapshots(root: String, keep: Set[Long]): Unit = {
    val all = snapshotIds(root)
    val cur = all.lastOption.getOrElse(sys.error(s"no current snapshot at $root"))
    require(keep.contains(cur), s"keep set must include current snapshot $cur")
    val store = TableStore(root)
    val referenced = keep.flatMap(id => readManifest(root, id).map(_.path))
    all.filterNot(keep).foreach { id =>
      // metadata first: a crash mid-expiry leaves unreferenced files, never
      // a snapshot whose files are gone
      store.delete(snapshotFile(root, id))
      // a dir no kept manifest references goes whole (bucket dirs,
      // _SUCCESS and .crc litter too); otherwise only its unreferenced files
      val snapRel = s"data/snap-$id"
      if (!referenced.exists(_.startsWith(snapRel + "/"))) store.delete(s"$root/$snapRel")
      else listDataFiles(root, id).filterNot(f => referenced(f.path))
        .foreach(f => store.delete(s"$root/${f.path}"))
    }
  }

  def snapshotMeta(root: String, snapshotId: Long): Json.Value = {
    val text = TableStore(root).read(snapshotFile(root, snapshotId))
    require(text.isDefined, s"snapshot $snapshotId not found at $root")
    Json.parse(text.get)
  }

  def readManifest(root: String, snapshotId: Long): Vector[DataFile] =
    manifestOf(snapshotMeta(root, snapshotId))

  private def manifestOf(meta: Json.Value): Vector[DataFile] =
    meta("manifest").asArray.map { v =>
      DataFile(v("bucket").asInt, v("path").asString,
        v.get("min_conv_id").map(_.asString), v.get("max_conv_id").map(_.asString),
        v.get("rows").map(_.asLong).getOrElse(-1L),
        v.get("bytes").map(_.asLong).getOrElse(-1L))
    }

  /** The current snapshot: the highest committed id. */
  def currentSnapshotId(root: String): Option[Long] = snapshotIds(root).lastOption
  private def headId(root: String): Long =
    currentSnapshotId(root).getOrElse(sys.error(s"no current snapshot at $root"))

  /** All live (unexpired) snapshot ids, ascending. */
  def snapshotIds(root: String): Vector[Long] =
    TableStore(root).names(s"$root/metadata")
      .collect { case SnapshotName(id) => id.toLong }.sorted

  // ---- metadata tables (Iceberg's `snapshots` / `files` / `history`) -----
  //
  // Driver-side manifest reads surfaced as DataFrames, so operational
  // queries ("how many rows did snapshot 3 add", "which files hold bucket
  // 2", "what chain produced the current state") compose with the rest of
  // the relational layer. Metadata-ONLY: cost scales with file count, not
  // row count — at 10^12 turns the manifests are still a few MB of JSON
  // per snapshot, exactly the trade Iceberg makes for its metadata tables.

  /** One row per live snapshot: lineage, operation, file/row totals from
    * the manifest's footer-collected stats (`n_rows` = -1 when any file
    * predates stats collection — never guess what you can't prove).
    */
  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    val ids = snapshotIds(root)
    val rows = ids.map { id =>
      val m = snapshotMeta(root, id)
      val manifest = manifestOf(m)
      val nRows = if (manifest.forall(_.rows >= 0L)) manifest.map(_.rows).sum else -1L
      (id, m.get("parent_snapshot_id").map(_.asLong),
        m.get("operation").map(_.asString).getOrElse("unknown"),
        m("partition_spec")("n_buckets").asInt,
        manifest.size.toLong, nRows, ids.lastOption.contains(id))
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "parent_snapshot_id", "operation", "n_buckets",
      "n_files", "n_rows", "is_current")
  }

  /** One row per data file in a snapshot's manifest (default: current),
    * with the per-file skipping stats [[readConvIdRange]] prunes on and the
    * file length (Iceberg's `file_size_in_bytes`; null when not recorded).
    */
  def filesTable(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.getOrElse(headId(root))
    def known(n: Long) = if (n >= 0L) Some(n) else None
    val rows = readManifest(root, id).map { f =>
      (id, f.bucket, f.path, known(f.rows), f.minConvId, f.maxConvId, known(f.bytes))
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "bucket", "path", "row_count",
      "min_conv_id", "max_conv_id", "file_size_bytes")
  }

  /** The current snapshot's ancestor chain (current first), like Iceberg's
    * `history` filtered to ancestors: how the table got here. The walk
    * stops at an expired parent (its metadata is gone) and refuses cycles.
    */
  def historyTable(spark: SparkSession, root: String): DataFrame = {
    val live = snapshotIds(root)
    val cur = live.lastOption.getOrElse(sys.error(s"no current snapshot at $root"))
    val buf = Vector.newBuilder[(Long, Option[Long], String, Boolean)]
    val seen = scala.collection.mutable.Set.empty[Long]
    var id: Option[Long] = Some(cur)
    while (id.exists(live.contains)) {
      val i = id.get
      require(seen.add(i), s"snapshot lineage cycle at $i in $root")
      val m = snapshotMeta(root, i)
      val parent = m.get("parent_snapshot_id").map(_.asLong)
      buf += ((i, parent, m.get("operation").map(_.asString).getOrElse("unknown"),
        i == cur))
      id = parent
    }
    import spark.implicits._
    buf.result().toDF("snapshot_id", "parent_snapshot_id", "operation", "is_current")
  }

  // ---- per-partition checkpoint manifests --------------------------------

  private def checkpoints(outRoot: String) = s"$outRoot/metadata/checkpoints"
  private def bucketManifest(outRoot: String, bucket: Int) =
    s"${checkpoints(outRoot)}/bucket-$bucket.json"

  def checkpointDir(outRoot: String): java.nio.file.Path =
    TableStore.localPath(checkpoints(outRoot))

  /** bucket → its committed checkpoint manifest. Only `bucket-<b>.json`
    * counts, not the hidden temp a commit that died before its link or
    * rename leaves.
    */
  private def bucketManifests(outRoot: String): Map[Int, Json.Value] = {
    val store = TableStore(outRoot)
    store.names(checkpoints(outRoot)).flatMap {
      case BucketName(b) => store.read(bucketManifest(outRoot, b.toInt)).map(b.toInt -> Json.parse(_))
      case _ => None
    }.toMap
  }

  def committedBuckets(outRoot: String): Set[Int] = bucketManifests(outRoot).keySet

  /** bucket → snapshot id recorded in its committed checkpoint manifest
    * (the lineage field resume must validate against the current snapshot)
    */
  def committedBucketSnapshots(outRoot: String): Map[Int, Long] =
    bucketManifests(outRoot).map { case (b, m) => b -> m("snapshot_id").asLong }

  /** Commit a bucket's manifest put-if-absent: a committed bucket is never
    * replaced (re-extraction deletes it first).
    */
  def commitBucket(outRoot: String, bucket: Int, snapshotId: Long,
      nBuckets: Int, c: Counters): Unit = {
    val manifest = Obj.of(
      "bucket" -> Num(bucket.toDouble),
      "snapshot_id" -> Num(snapshotId.toDouble),
      "partition_spec" -> Str(s"bucket(conv_id, $nBuckets)"),
      "counters" -> Obj.of(
        "turns_parsed" -> Num(c.turns.toDouble),
        "bytes_tokenized" -> Num(c.bytes.toDouble)),
      "complete" -> Bool(true))
    if (!TableStore(outRoot).putIfAbsent(bucketManifest(outRoot, bucket), Json.write(manifest)))
      throw new CommitConflict(s"bucket $bucket is already committed at $outRoot")
  }

  /** Summed counters of the committed bucket manifests (fields other than
    * turns/bytes, such as older manifests' always-zero
    * `extraction_mismatches`, are ignored).
    */
  def readCounters(outRoot: String): Counters =
    bucketManifests(outRoot).values.foldLeft(Counters(0, 0)) { (acc, m) =>
      val c = m("counters")
      Counters(
        acc.turns + c("turns_parsed").asLong,
        acc.bytes + c("bytes_tokenized").asLong)
    }

  /** Checkpointed extraction run: reads the bucketed transcripts table,
    * extracts per bucket, writes extracted lines per bucket, and commits a
    * manifest per finished bucket. Buckets already committed are skipped —
    * partition-granular resume. Returns aggregate counters.
    *
    * At cluster scale each bucket is many files/tasks; the per-bucket loop
    * is driver-side control flow only (no data moves through the driver).
    * Each bucket is ONE Spark job (the read schema is the snapshot's, so
    * no footer-sampling job precedes it). On small corpora its fixed cost
    * — scheduling, a parquet file per write task, the manifest commit —
    * dominates extraction: ~0.3 s p50, 0.4 s p90 on a 4-core host with 8
    * jobs in flight over ~60 KB buckets (p90 0.6 s with a footer job and a
    * file per core). So `maxConcurrent` overlaps bucket jobs from a
    * bounded driver pool (manifests are distinct put-if-absent files, so
    * resume granularity is unchanged) and sizes each job to its share
    * of the cores.
    */
  def extractWithCheckpoints(spark: SparkSession, tableRoot: String,
      outRoot: String, nBuckets: Int, maxConcurrent: Int = 1,
      reextractStale: Boolean = false): Counters = {
    val snapshotId = headId(tableRoot)
    // buckets resolve through the current snapshot's manifest; a bucket's
    // files may span SNAPSHOT DIRS (append lands new files beside the
    // old ones), so reads go through the per-dir grouping in readFiles
    val meta = snapshotMeta(tableRoot, snapshotId)
    val byBucket = manifestOf(meta).groupBy(_.bucket)
    // resume validates LINEAGE, not just bucket presence: a checkpoint
    // committed against an older snapshot (the table advanced via
    // overwriteBucket between run and resume) must not silently mix old
    // output with new — fail, or re-extract those buckets when asked to
    val committed = committedBucketSnapshots(outRoot)
    val stale = committed.collect { case (b, s) if s != snapshotId => b }.toVector.sorted
    if (stale.nonEmpty && !reextractStale)
      sys.error(s"checkpoints for buckets ${stale.mkString(",")} at $outRoot " +
        s"were committed against snapshot(s) ${stale.map(committed).distinct.mkString(",")} " +
        s"but the table is now at snapshot $snapshotId — resuming would mix " +
        "snapshots; pass reextractStale = true to re-extract those buckets")
    val done = committed.keySet -- stale
    val todo = (0 until nBuckets).filterNot(done)
    // Spark splits each job's scan as if it had every core, so overlapped
    // jobs over small buckets write one tiny file per core. Coalesce an
    // overlapped job to its core share, but to no fewer tasks than
    // maxPartitionBytes allows (big or skewed buckets still split);
    // coalesce never raises the split count. Unknown sizes keep the split.
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes")).toDouble
    val coreShare = math.ceil(spark.sparkContext.defaultParallelism.toDouble / maxConcurrent)
    def sized(in: DataFrame, fs: Vector[DataFile]): DataFrame =
      if (maxConcurrent <= 1 || fs.exists(_.bytes < 0)) in
      else in.coalesce(math.max(coreShare, math.ceil(fs.map(_.bytes).sum / maxBytes)).toInt)
    val processBucket = (b: Int) => {
      // a stale manifest goes first: from here until the new one lands the
      // bucket is uncommitted, so an interrupted re-extraction resumes it
      if (committed.contains(b)) TableStore(outRoot).delete(bucketManifest(outRoot, b))
      val bucketFiles = byBucket.getOrElse(b, Vector.empty)
      if (bucketFiles.isEmpty) {
        // partitionBy writes no files for an empty bucket — commit an
        // empty manifest so resume can progress past it
        commitBucket(outRoot, b, snapshotId, nBuckets, Counters(0, 0))
      } else {
      val in = sized(readFiles(spark, tableRoot, meta, bucketFiles), bucketFiles)
      // counters ride the write itself via observe() (SURVEY §2.5): the
      // metrics are collected from the rows as they flow into the parquet
      // sink, so the manifest commits in ONE output pass — the round-2
      // read-back-and-recount doubled output I/O per bucket, which at
      // 100x scale is real money. A task that fails after writing still
      // doesn't commit: the manifest only lands after the job succeeds.
      val obs = org.apache.spark.sql.Observation(s"graft_ckpt_b$b")
      writeParquet(Pipeline.extracted(in)
        .withColumn("n_lines", size(col("ex.lines")))
        .withColumn("bytes", col("ex.bytes"))
        .observe(obs, count(lit(1)).as("turns"),
          coalesce(sum(col("bytes")), lit(0L)).as("bytes")),
        s"$outRoot/data/bucket=$b", byBucket = false)
      val m = obs.get
      commitBucket(outRoot, b, snapshotId, nBuckets,
        Counters(m("turns").asInstanceOf[Long], m("bytes").asInstanceOf[Long]))
      }
    }: Unit
    // every in-flight bucket settles before a failure propagates: a
    // caller retrying extractWithCheckpoints (the documented resume flow)
    // must not race a fresh Overwrite against a straggler's commit
    DriverJobs.run(maxConcurrent, todo.map(b => () => processBucket(b)))
    readCounters(outRoot)
  }
}
