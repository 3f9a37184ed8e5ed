package graft

import graft.spark.{ExtractTurn, Pipeline, Transcripts, TranscriptTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level end-to-end: synthesize transcripts, extract with the
  * Catalyst expression, verify per-turn equality against the goldens
  * (zero mismatches), exercise derived tables and the Iceberg-style
  * checkpointed run with resume.
  */
class SparkPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("extract_turn expression: per-turn equality vs goldens on 40 conversations") {
    val sp = spark
    val transcripts = Transcripts.synthesize(sp, nConvs = 40, seed = 7L,
      avgTurns = 6, skewEvery = 10, skewFactor = 5).toDF()
    val goldens = Transcripts.goldens(sp, nConvs = 40, seed = 7L,
      avgTurns = 6, skewEvery = 10, skewFactor = 5).toDF()

    val lines = Pipeline.lines(Pipeline.extracted(transcripts))
    val verified = Pipeline.verify(lines, goldens).cache()
    val bad = verified.filter(!col("ok"))
    val badRows = bad.limit(5).collect()
    assert(badRows.isEmpty,
      s"mismatches:\n${badRows.map(_.toString).mkString("\n")}")
    val verdicts = Pipeline.turnVerdicts(verified)
    val nTurns = verdicts.count()
    assert(nTurns > 50, s"too few extracted turns: $nTurns")
    assert(verdicts.filter(col("turn_ok") === 0).count() == 0)
    verified.unpersist()
  }

  test("verifyByHash agrees with the per-line join and detects perturbations") {
    val sp = spark
    val transcripts = Transcripts.synthesize(sp, 12, seed = 21L).toDF()
    val goldens = Transcripts.goldens(sp, 12, seed = 21L).toDF()
    val lines = Pipeline.lines(Pipeline.extracted(transcripts)).cache()
    val byHash = Pipeline.verifyByHash(lines, goldens)
    assert(byHash.filter(col("turn_ok") === 0).count() == 0)
    val nTurns = byHash.count()
    assert(nTurns == Pipeline.turnVerdicts(Pipeline.verify(lines, goldens)).count())
    // perturb one golden line -> exactly that turn flips to mismatch
    val perturbed = goldens.withColumn("text",
      when(col("turn_idx") === 1 && col("line_idx") === 20, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val bad = Pipeline.verifyByHash(lines, perturbed).filter(col("turn_ok") === 0)
    assert(bad.count() > 0)
    assert(bad.select("turn_idx").distinct().collect().map(_.getInt(0)).toSet == Set(1))
    lines.unpersist()
  }

  test("SQL registration and sniffing") {
    val sp = spark
    ExtractTurn.register(sp)
    import sp.implicits._
    val df = Seq(
      ("<pdf2xml><page number=\"1\" height=\"1188\" width=\"918\"></page></pdf2xml>", "x"),
      ("<html><head><title>T: Entire Play</title></head><body></body></html>", "y"),
      ("just text", "z")).toDF("text", "id")
    df.createOrReplaceTempView("turns")
    val got = sp.sql("SELECT id, extract_turn(text).format AS fmt FROM turns ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1))).toVector
    assert(got == Vector(("x", "pdfxml"), ("y", "shakespeare"), ("z", "unknown")))

    // split_speakers as SQL: heading -> array<struct<speaker,modifier>>
    graft.spark.SplitSpeakers.register(sp)
    val sm = sp.sql(
      "SELECT explode(split_speakers('MARCELLUS & BERNARDO (V.O.)')) AS s")
      .collect().map(r => (r.getStruct(0).getString(0), r.getStruct(0).getString(1))).toVector
    // the modifier binds to the piece that contains it (Analyzer.php:447)
    assert(sm == Vector(("MARCELLUS", ""), ("BERNARDO", "V.O.")))
  }

  test("derived tables: scenes, dialog attribution, character counts") {
    val sp = spark
    val transcripts = Transcripts.synthesize(sp, 10, seed = 3L).toDF()
    val lines = Pipeline.lines(Pipeline.extracted(transcripts)).cache()
    val dialog = Pipeline.dialog(lines)
    assert(dialog.count() > 0)
    // every Dialogue line got a speaker that is a Character line's text
    val speakers = dialog.select("speaker").distinct().collect().map(_.getString(0)).toSet
    val charTexts = lines.filter(col("type") === "Character")
      .select("text").distinct().collect().map(_.getString(0)).toSet
    assert(speakers.subsetOf(charTexts))
    val counts = Pipeline.characterCounts(dialog).collect()
    assert(counts.nonEmpty)
    assert(counts.sliding(2).forall(p => p.length < 2 || p(0).getLong(1) >= p(1).getLong(1)))
    val sl = Pipeline.sceneLengths(lines)
    assert(sl.agg(min("scene_len")).head().getLong(0) >= 0)
    lines.unpersist()
  }

  test("speakers: multi-speaker headings split into individual speakers") {
    val sp = spark
    import sp.implicits._
    // Shakespeare payloads produce "A & B" merged headings
    val transcripts = Transcripts.synthesize(sp, 30, seed = 13L).toDF()
    val lines = Pipeline.lines(Pipeline.extracted(transcripts)).cache()
    val headings = lines.filter(col("type") === "Character" && col("text").contains(" & "))
    assert(headings.count() > 0, "corpus has no merged speaker headings")
    val speakers = Pipeline.speakers(lines)
    val names = speakers.select("speaker").distinct().collect().map(_.getString(0))
    assert(names.nonEmpty && names.forall(n => !n.contains("&")))
    lines.unpersist()
  }

  test("mixed-format corpus: rendering the XML turns as PDFs leaves extraction unchanged") {
    // Spark-level differential for the raw-PDF lexer: the standard corpus
    // (pdftohtml XML + Shakespeare HTML turns) with every XML payload
    // re-rendered as a real PDF must extract IDENTICAL lines through the
    // same Pipeline — dispatch, lexer and shared pipeline all attested in
    // one distributed pass over a mixed-tool table
    val sp = spark
    import sp.implicits._
    val xmlCorpus = Transcripts.synthesize(sp, nConvs = 15, seed = 7L)
    val pdfCorpus = xmlCorpus.map { t =>
      if (t.tool == "pdftohtml")
        t.copy(text = graft.synth.PdfGen.fromXml(t.text), tool = "pdf")
      else t
    }
    def rows(ds: org.apache.spark.sql.Dataset[graft.spark.Turn]) =
      Pipeline.lines(Pipeline.extracted(ds.toDF()))
        .select("conv_id", "turn_idx", "line_idx", "kind", "text", "page_num")
        .collect().map(_.toSeq).sortBy(_.toString)
    val a = rows(xmlCorpus)
    val b = rows(pdfCorpus)
    assert(a.length == b.length && a.sameElements(b),
      s"pdf-rendered corpus diverged (${a.length} vs ${b.length} lines)")
    // and the pdf corpus really went through the pdf path
    val formats = Pipeline.extracted(pdfCorpus.toDF())
      .select("ex.format").distinct().collect().map(_.getString(0)).toSet
    assert(formats.contains("pdf"), formats)
  }

  test("reference parity: single-page documents extract to zero objects") {
    // ParseText.php:645 passes an undefined variable in the non-formfeed
    // branch, so a single-page document yields no output — replicated
    val onePage = "<pdf2xml><page number=\"1\" height=\"1188\" width=\"918\">" +
      "<fontspec id=\"0\" size=\"12\" color=\"#000000\"/>" +
      "<text top=\"79\" left=\"108\" width=\"105\" height=\"17\" font=\"0\">INT. BARN - DAY</text>" +
      "</page></pdf2xml>"
    assert(graft.pdfxml.PdfXml.parse(onePage).objects.isEmpty)
  }

  test("iceberg-style table: snapshot time travel, overwrite, expire") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val nBuckets = 4
    val t = Transcripts.synthesize(sp, 30, seed = 13L).toDF()
    TranscriptTable.write(t, root, nBuckets, snapshotId = 1L)
    val total1 = TranscriptTable.read(sp, root).count()
    val b1 = TranscriptTable.read(sp, root).filter(col("bucket") === 1)
    val b1n = b1.count()
    assert(b1n > 0)
    // snapshot 2: bucket 1 doubled; other buckets' files are SHARED
    val newB1 = t.withColumn("b", TranscriptTable.bucketCol(nBuckets))
      .filter(col("b") === 1).drop("b")
    TranscriptTable.overwriteBucket(newB1.unionByName(newB1), root, 1, 2L)
    assert(TranscriptTable.currentSnapshotId(root).contains(2L))
    // time travel: snapshot 1 still reads its original content
    assert(TranscriptTable.readAt(sp, root, 1L).count() == total1)
    assert(TranscriptTable.readAt(sp, root, 1L)
      .filter(col("bucket") === 1).count() == b1n)
    // current: bucket 1 doubled, the rest untouched
    assert(TranscriptTable.read(sp, root).count() == total1 + b1n)
    assert(TranscriptTable.read(sp, root).filter(col("bucket") === 1).count() == 2 * b1n)
    // checkpointed extraction resolves through the current manifest
    val out = java.nio.file.Files.createTempDirectory("graft_tt_out").toString
    val c = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    val expectTurns = TranscriptTable.read(sp, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()
    assert(c.turns == expectTurns, s"${c.turns} != $expectTurns")
    // expire: snapshot 1 gone, its replaced bucket-1 files deleted, but
    // the current snapshot (sharing snap-1 files for buckets != 1) reads on
    TranscriptTable.expireSnapshots(root, keep = Set(2L))
    assert(TranscriptTable.read(sp, root).count() == total1 + b1n)
    intercept[IllegalArgumentException] {
      TranscriptTable.readAt(sp, root, 1L)
    }
    // keep set must include current
    intercept[IllegalArgumentException] {
      TranscriptTable.expireSnapshots(root, keep = Set(1L))
    }
    // snapshot 1's dir tree is fully gone (snap-2's manifest references
    // files under snap-1 for the untouched buckets, so those SURVIVE and
    // the snap-1 dir itself must remain; only its replaced bucket-1
    // files were deleted)
    val snap1 = java.nio.file.Paths.get(root, "data", "snap-1")
    assert(java.nio.file.Files.isDirectory(snap1),
      "snap-1 dir must survive while snapshot 2 references its files")
    assert(!java.nio.file.Files.isDirectory(snap1.resolve("bucket=1")) ||
      java.nio.file.Files.list(snap1.resolve("bucket=1")).count() == 0,
      "snap-1's replaced bucket-1 data files must be gone")
    // snapshot ids are immutable: re-writing an existing id must refuse
    intercept[IllegalArgumentException] {
      TranscriptTable.write(t, root, nBuckets, snapshotId = 2L)
    }
    // ...and must refuse BEFORE touching data: the round-5 advice found the
    // guard fired only at metadata-commit time, after SaveMode.Overwrite had
    // already deleted snap-2's data files — the rejected write silently
    // destroyed the current snapshot. Prove snapshot 2 still reads in full.
    assert(TranscriptTable.read(sp, root).count() == total1 + b1n,
      "rejected duplicate-id write must leave the current snapshot's data intact")
    assert(TranscriptTable.read(sp, root).filter(col("bucket") === 1).count() == 2 * b1n)
    intercept[IllegalArgumentException] {
      TranscriptTable.overwriteBucket(newB1, root, 1, newSnapshotId = 2L)
    }
    assert(TranscriptTable.read(sp, root).count() == total1 + b1n,
      "rejected duplicate-id overwriteBucket must leave the current snapshot's data intact")
    // a fully-unreferenced expired snapshot loses its whole dir tree:
    // overwrite bucket 1 again (snap 3), then expire snapshot 2 — its
    // OWN dir (only bucket-1 files) is no longer referenced by snap 3
    TranscriptTable.overwriteBucket(newB1, root, 1, 3L) // back to 1x bucket 1
    TranscriptTable.expireSnapshots(root, keep = Set(3L))
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "data", "snap-2")),
      "expired snapshot 2's unreferenced dir tree must be removed")
    assert(TranscriptTable.read(sp, root).count() == total1)
  }

  test("iceberg-style table: fast append + incremental append scan") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val b1 = Transcripts.synthesize(sp, 20, seed = 13L).toDF()
    val b2 = Transcripts.synthesize(sp, 10, seed = 14L).toDF()
    TranscriptTable.write(b1, root, nBuckets = 4, snapshotId = 1L)
    val files1 = TranscriptTable.readManifest(root, 1L).map(_.path).toSet
    TranscriptTable.append(b2, root, newSnapshotId = 2L)
    // append grows the manifest without touching snapshot 1's files
    val files2 = TranscriptTable.readManifest(root, 2L).map(_.path).toSet
    assert(files1.subsetOf(files2) && files2.size > files1.size)
    assert(TranscriptTable.read(sp, root).count() == b1.count() + b2.count())
    // the delta is exactly batch 2
    val delta = TranscriptTable.incrementalRead(sp, root, 1L, 2L)
    assert(delta.count() == b2.count())
    assert(delta.select("conv_id", "turn_idx")
      .exceptAll(b2.select("conv_id", "turn_idx")).count() == 0L)
    // empty window, empty-input refusal, missing-snapshot refusal
    assert(TranscriptTable.incrementalRead(sp, root, 2L, 2L).count() == 0L)
    intercept[RuntimeException] {
      TranscriptTable.append(b2.filter(lit(false)), root, newSnapshotId = 3L)
    }
    assert(TranscriptTable.currentSnapshotId(root).contains(2L),
      "refused empty append must not commit")
    intercept[IllegalArgumentException] {
      TranscriptTable.incrementalRead(sp, root, 99L, 2L)
    }
    // a replace (compaction) in range refuses the scan but preserves reads
    TranscriptTable.compact(sp, root, newSnapshotId = 4L, filesPerBucket = 1)
    intercept[Exception] {
      TranscriptTable.incrementalRead(sp, root, 1L, 4L)
    }
    assert(TranscriptTable.read(sp, root).count() == b1.count() + b2.count())
  }

  test("files table: file_size_bytes sums to the data files' on-disk lengths") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_fsize").toString
    TranscriptTable.write(Transcripts.synthesize(sp, 16, seed = 15L).toDF(), root,
      nBuckets = 4, snapshotId = 1L, filesPerBucket = 2)
    val onDisk = TranscriptTable.readManifest(root, 1L)
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(root, f.path))).sum
    val files = TranscriptTable.filesTable(sp, root)
    assert(files.agg(sum(col("file_size_bytes"))).head().getLong(0) == onDisk)
    // a manifest entry without a recorded length reads back as null
    val snap = java.nio.file.Paths.get(root, "metadata", "snapshot-1.json")
    java.nio.file.Files.writeString(snap,
      java.nio.file.Files.readString(snap).replaceFirst("\"bytes\":[0-9.eE+]+,?", ""))
    val sizes = TranscriptTable.filesTable(sp, root).select("file_size_bytes").collect()
    assert(sizes.count(_.isNullAt(0)) == 1 && sizes.length == files.count())
  }

  test("metadata tables: snapshots/files/history reflect lineage, stats, expiry") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val b1 = Transcripts.synthesize(sp, 16, seed = 13L).toDF()
    val b2 = Transcripts.synthesize(sp, 8, seed = 14L).toDF()
    TranscriptTable.write(b1, root, nBuckets = 4, snapshotId = 1L, filesPerBucket = 2)
    TranscriptTable.append(b2, root, newSnapshotId = 2L)
    val snaps = TranscriptTable.snapshotsTable(sp, root).orderBy("snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toVector == Vector(1L, 2L))
    assert(snaps.map(r => r.getString(r.fieldIndex("operation"))).toVector ==
      Vector("append", "append"))
    assert(snaps.map(r => r.getBoolean(r.fieldIndex("is_current"))).toVector ==
      Vector(false, true))
    // n_rows from footer stats must equal real reads, at both snapshots
    assert(snaps(0).getLong(snaps(0).fieldIndex("n_rows")) ==
      TranscriptTable.readAt(sp, root, 1L).count())
    assert(snaps(1).getLong(snaps(1).fieldIndex("n_rows")) ==
      TranscriptTable.read(sp, root).count())
    // files table: default = current snapshot; totals agree with snapshots
    val files = TranscriptTable.filesTable(sp, root)
    assert(files.agg(sum(col("row_count"))).head().getLong(0) ==
      snaps(1).getLong(snaps(1).fieldIndex("n_rows")))
    assert(files.count() == snaps(1).getLong(snaps(1).fieldIndex("n_files")))
    assert(files.select("snapshot_id").distinct().head().getLong(0) == 2L)
    // history walks current-first through the parent chain
    val hist = TranscriptTable.historyTable(sp, root).collect()
    assert(hist.map(_.getLong(0)).toVector == Vector(2L, 1L))
    assert(hist.map(r => r.getBoolean(r.fieldIndex("is_current"))).toVector ==
      Vector(true, false))
    // expiring the parent: snapshots shrinks, history stops at the gap
    TranscriptTable.expireSnapshots(root, keep = Set(2L))
    assert(TranscriptTable.snapshotIds(root) == Vector(2L))
    assert(TranscriptTable.snapshotsTable(sp, root).count() == 1L)
    val hist2 = TranscriptTable.historyTable(sp, root).collect()
    assert(hist2.map(_.getLong(0)).toVector == Vector(2L))
    // the expired parent is still RECORDED as lineage even if unreadable
    assert(hist2(0).getLong(hist2(0).fieldIndex("parent_snapshot_id")) == 1L)
  }

  test("copy-on-write delete rewrites only stat-matching files; refusals are loud") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_del").toString
    val t = Transcripts.synthesize(sp, 24, seed = 13L).toDF()
    TranscriptTable.write(t, root, nBuckets = 4, snapshotId = 1L,
      filesPerBucket = 2, layout = "range")
    val total = TranscriptTable.read(sp, root).count()
    val victim = TranscriptTable.read(sp, root).select("conv_id").distinct()
      .orderBy("conv_id").head().getString(0)
    val victimRows = TranscriptTable.read(sp, root)
      .filter(col("conv_id") === victim).count()
    val before = TranscriptTable.readManifest(root, 1L)
    val deleted = TranscriptTable.deleteConvIds(sp, root, Seq(victim), 2L)
    assert(deleted == victimRows)
    assert(TranscriptTable.read(sp, root).count() == total - victimRows)
    assert(TranscriptTable.read(sp, root)
      .filter(col("conv_id") === victim).count() == 0L)
    // old snapshot still readable with the victim present (time travel)
    assert(TranscriptTable.readAt(sp, root, 1L)
      .filter(col("conv_id") === victim).count() == victimRows)
    // only candidate files were rewritten; the rest carried by reference
    val (cands, totalFiles) = TranscriptTable.selectFilesForIds(root, 1L, Seq(victim))
    assert(cands.nonEmpty && cands.size < totalFiles)
    val candSet = cands.map(_.path).toSet
    val after = TranscriptTable.readManifest(root, 2L).map(_.path).toSet
    assert(before.filterNot(f => candSet(f.path)).forall(f => after(f.path)))
    assert(after.intersect(candSet).isEmpty)
    // metadata tables see the delete: footer-stat totals track the
    // rewrite, the operation is stamped "delete"
    val snap2 = TranscriptTable.snapshotsTable(sp, root)
      .filter(col("snapshot_id") === 2L).head()
    assert(snap2.getLong(snap2.fieldIndex("n_rows")) == total - victimRows)
    assert(snap2.getString(snap2.fieldIndex("operation")) == "delete")
    // operation stamps "delete": incremental scans crossing it refuse
    intercept[Exception] { TranscriptTable.incrementalRead(sp, root, 1L, 2L) }
    // a no-match delete refuses BEFORE writing anything; the id stays fresh
    intercept[IllegalArgumentException] {
      TranscriptTable.deleteConvIds(sp, root, Seq("zzz-no-such"), 3L)
    }
    assert(TranscriptTable.currentSnapshotId(root).contains(2L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", "snap-3")))
    // a delete ADVANCES the table like any write: an extraction output
    // checkpointed against the pre-delete snapshot refuses to resume
    // (mixed-snapshot guard), and reextractStale re-runs against the
    // post-delete state — the deleted conversation must be gone from the
    // re-extracted output
    val out = java.nio.file.Files.createTempDirectory("graft_del_out").toString
    (0 until 4).foreach(b =>
      TranscriptTable.commitBucket(out, b, 1L, 4, TranscriptTable.Counters(0, 0)))
    java.nio.file.Files.delete(
      TranscriptTable.checkpointDir(out).resolve("bucket-0.json"))
    val stale = intercept[RuntimeException] {
      TranscriptTable.extractWithCheckpoints(sp, root, out, 4)
    }
    assert(stale.getMessage.contains("snapshot"), stale.getMessage)
    TranscriptTable.extractWithCheckpoints(sp, root, out, 4, reextractStale = true)
    assert(TranscriptTable.committedBucketSnapshots(out).values.toSet == Set(2L))
    val extractedDirs = (0 until 4).map(b =>
      java.nio.file.Paths.get(out, "data", s"bucket=$b"))
      .filter(java.nio.file.Files.isDirectory(_)).map(_.toString)
    if (extractedDirs.nonEmpty)
      assert(sp.read.parquet(extractedDirs: _*)
        .filter(col("conv_id") === victim).count() == 0L,
        "re-extracted output must not contain the deleted conversation")

    // deleting EVERY conversation in a candidate file set still commits a
    // valid snapshot (kept files only — no empty-file litter)
    val rest = TranscriptTable.read(sp, root).select("conv_id").distinct()
      .collect().map(_.getString(0)).toSeq
    val d2 = TranscriptTable.deleteConvIds(sp, root, rest, 4L)
    assert(d2 == total - victimRows)
    assert(TranscriptTable.readManifest(root, 4L).isEmpty ||
      TranscriptTable.read(sp, root).count() == 0L)
  }

  test("checkpointed extract reads buckets whose files span snapshot dirs (append)") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_app_ext").toString
    val out = java.nio.file.Files.createTempDirectory("graft_app_out").toString
    val nBuckets = 4
    val b1 = Transcripts.synthesize(sp, 20, seed = 13L).toDF()
    val b2 = Transcripts.synthesize(sp, 10, seed = 14L).toDF()
    TranscriptTable.write(b1, root, nBuckets, snapshotId = 1L)
    TranscriptTable.append(b2, root, newSnapshotId = 2L)
    // every bucket now mixes snap-1 and snap-2 files; the extract must read
    // the union, not just the first file's snapshot dir
    val c = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    val expect = TranscriptTable.read(sp, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()
    assert(c.turns == expect, s"${c.turns} != $expect")
    val extracted = sp.read.parquet((0 until nBuckets).flatMap { b =>
      val d = java.nio.file.Paths.get(out, "data", s"bucket=$b")
      if (java.nio.file.Files.isDirectory(d)) Some(d.toString) else None
    }: _*)
    assert(extracted.select("conv_id").distinct().count() ==
      TranscriptTable.read(sp, root)
        .filter(col("tool").isin("pdftohtml", "shakespeare"))
        .select("conv_id").distinct().count())
  }

  test("overwriteBucket refuses to silently drop a bucket; stale checkpoints refuse resume") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_guard").toString
    val nBuckets = 4
    val t = Transcripts.synthesize(sp, 30, seed = 13L).toDF()
    TranscriptTable.write(t, root, nBuckets, snapshotId = 1L)
    val total1 = TranscriptTable.read(sp, root).count()
    val b1 = t.withColumn("b", TranscriptTable.bucketCol(nBuckets))
      .filter(col("b") === 1).drop("b")
    assert(b1.count() > 0)

    // rows that all hash to bucket 1 cannot overwrite bucket 2: a wrong
    // bucket number must fail loudly, not become a silent bucket deletion
    val err = intercept[RuntimeException] {
      TranscriptTable.overwriteBucket(b1, root, bucket = 2, newSnapshotId = 5L)
    }
    assert(err.getMessage.contains("no input row hashes to bucket 2"), err.getMessage)
    val _ = err
    // nothing committed: current snapshot unchanged, table reads in full,
    // and the aborted id is reusable (orphan data dir cleaned up)
    assert(TranscriptTable.currentSnapshotId(root).contains(1L))
    assert(TranscriptTable.read(sp, root).count() == total1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", "snap-5")))
    // explicit opt-in: allowEmpty really empties the bucket in a new snapshot
    TranscriptTable.overwriteBucket(b1, root, bucket = 2, newSnapshotId = 5L,
      allowEmpty = true)
    assert(TranscriptTable.read(sp, root).filter(col("bucket") === 2).count() == 0)
    assert(TranscriptTable.readAt(sp, root, 1L).filter(col("bucket") === 2).count() > 0)

    // stale-checkpoint lineage: extract at snapshot 5, advance the table,
    // then resume — completed checkpoints carry snapshot 5, table is at 6
    val out = java.nio.file.Files.createTempDirectory("graft_guard_out").toString
    TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    assert(TranscriptTable.committedBucketSnapshots(out).values.toSet == Set(5L))
    TranscriptTable.overwriteBucket(b1.unionByName(b1), root, bucket = 1,
      newSnapshotId = 6L)
    // drop one checkpoint to simulate an interrupted run needing resume
    java.nio.file.Files.delete(
      TranscriptTable.checkpointDir(out).resolve("bucket-3.json"))
    val stale = intercept[RuntimeException] {
      TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    }
    assert(stale.getMessage.contains("snapshot"), stale.getMessage)
    // reextractStale re-runs the stale buckets against the current snapshot
    val c = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets,
      reextractStale = true)
    assert(TranscriptTable.committedBucketSnapshots(out).values.toSet == Set(6L))
    val expect = TranscriptTable.read(sp, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()
    // counters aggregate across commits; re-extracted buckets replaced their
    // manifests, so the final sum equals a fresh full run at snapshot 6
    assert(c.turns == expect, s"${c.turns} != $expect")
  }

  test("readCounters sums bucket manifests, including the older layout with mismatches") {
    val out = java.nio.file.Files.createTempDirectory("graft_counters").toString
    TranscriptTable.commitBucket(out, 0, 1L, 2, TranscriptTable.Counters(3, 100))
    val written = java.nio.file.Files.readString(
      TranscriptTable.checkpointDir(out).resolve("bucket-0.json"))
    assert(!written.contains("mismatches"), written)
    // a manifest as older builds wrote it, with the always-zero field
    java.nio.file.Files.writeString(
      TranscriptTable.checkpointDir(out).resolve("bucket-1.json"),
      """{"bucket":1,"snapshot_id":1,"partition_spec":"bucket(conv_id, 2)",""" +
        """"counters":{"turns_parsed":4,"bytes_tokenized":50,""" +
        """"extraction_mismatches":0},"complete":true}""")
    assert(TranscriptTable.readCounters(out) == TranscriptTable.Counters(7, 150))
    assert(TranscriptTable.committedBucketSnapshots(out) == Map(0 -> 1L, 1 -> 1L))
  }

  test("iceberg-style table: bucketed write, checkpointed extract, resume") {
    val sp = spark
    val root = java.nio.file.Files.createTempDirectory("graft_table").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val nBuckets = 4
    val transcripts = Transcripts.synthesize(sp, 30, seed = 11L).toDF()
    TranscriptTable.write(transcripts, root, nBuckets, snapshotId = 1L)
    assert(TranscriptTable.currentSnapshotId(root).contains(1L))
    // pretend bucket 0 already committed -> resume must skip it
    TranscriptTable.commitBucket(out, 0, 1L, nBuckets, TranscriptTable.Counters(0, 0))
    val counters = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    assert(TranscriptTable.committedBuckets(out) == Set(0, 1, 2, 3))
    // empty buckets (no directory written) must commit and not crash
    val out2 = java.nio.file.Files.createTempDirectory("graft_out2").toString
    val c2 = TranscriptTable.extractWithCheckpoints(sp, root, out2, nBuckets + 60)
    assert(TranscriptTable.committedBuckets(out2).size == nBuckets + 60)
    val _ = c2
    // counters only cover buckets 1..3 (bucket 0 was "already done")
    val expectTurns = TranscriptTable.read(sp, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare"))
      .filter(col("bucket") =!= 0).count()
    assert(counters.turns == expectTurns, s"${counters.turns} != $expectTurns")
    assert(counters.bytes > 0)
    // concurrent bucket jobs: identical manifests + counters as serial
    val out3 = java.nio.file.Files.createTempDirectory("graft_out3").toString
    val c3 = TranscriptTable.extractWithCheckpoints(sp, root, out3, nBuckets,
      maxConcurrent = 4)
    assert(TranscriptTable.committedBuckets(out3).size == nBuckets)
    assert(c3.turns == expectTurns + TranscriptTable.read(sp, root)
      .filter(col("tool").isin("pdftohtml", "shakespeare"))
      .filter(col("bucket") === 0).count())
    assert(c3.bytes > 0)
  }

  test("concurrent extract drains in-flight buckets on failure; retry resumes cleanly") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val sp = spark
    val root = Files.createTempDirectory("graft_tbl_fail").toString
    val out = Files.createTempDirectory("graft_out_fail").toString
    val nBuckets = 8
    TranscriptTable.write(Transcripts.synthesize(sp, 60, seed = 13L).toDF(),
      root, nBuckets, snapshotId = 1L)

    // corrupt one bucket's data files so its job throws mid-run
    val badDir = Paths.get(root, "data", "snap-1", "bucket=2")
    assume(Files.isDirectory(badDir), "bucket 2 empty for this seed")
    val saved = Files.list(badDir).iterator.asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p -> Files.readAllBytes(p)).toVector
    assert(saved.nonEmpty)
    saved.foreach { case (p, _) => Files.write(p, "not a parquet file".getBytes) }

    val err = intercept[Throwable] {
      TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets, maxConcurrent = 4)
    }
    assert(err != null)
    // the resume invariant from the round-3 advice item: by the time the
    // failure propagates, NO straggler bucket job may still be writing the
    // output tree — snapshot it, wait, snapshot again, must be identical
    def snapshot(): Map[String, Long] =
      Files.walk(Paths.get(out)).iterator.asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
    val s1 = snapshot()
    Thread.sleep(1500)
    val s2 = snapshot()
    assert(s1 == s2, "output tree changed after extractWithCheckpoints threw " +
      s"(straggler still writing): ${(s2.toSet -- s1.toSet).take(3)}")
    assert(!TranscriptTable.committedBuckets(out).contains(2))

    // restore the corrupted bucket; the documented retry flow must finish
    // the remaining buckets and land the same totals as a fresh full run
    saved.foreach { case (p, bytes) => Files.write(p, bytes) }
    val resumed = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets, maxConcurrent = 4)
    assert(TranscriptTable.committedBuckets(out).size == nBuckets)
    val fresh = TranscriptTable.extractWithCheckpoints(sp, root,
      Files.createTempDirectory("graft_out_fresh").toString, nBuckets, maxConcurrent = 4)
    assert(resumed.turns == fresh.turns && resumed.bytes == fresh.bytes,
      s"resumed $resumed != fresh $fresh")
    val _ = (err, s1)
  }
}
