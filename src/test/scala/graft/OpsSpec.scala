package graft

import graft.ops.{Ann, Dedup, LangId, MinHash, Multimodal, SimHash}
import graft.streaming.StreamingExtract
import graft.spark.Transcripts
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline ops: dedup family, ANN, multimodal stub,
  * streaming extraction.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("exact dedup finds injected duplicates") {
    val sp = spark
    import sp.implicits._
    val dup = docs.select((col("doc_id") + 5000).as("doc_id"), col("text"))
      .limit(10)
    val all = docs.select(col("doc_id"), col("text")).union(dup)
    val deduped = Dedup.exact(all)
    assert(deduped.count() == docs.count()) // every content distinct once
    assert(deduped.filter($"n_dups" === 2).count() == 10)
    val kept = Dedup.keepCanonical(all)
    assert(kept.count() == docs.count())
    assert(kept.filter($"doc_id" >= 5000).count() == 0) // canonical = min id
  }

  test("built-in band keys: equal band tuples collide, position and content distinguish") {
    val sp = spark
    import sp.implicits._
    val r = 4
    val nBands = 16 / r
    def bandsOf(sig: Seq[Long]): Vector[Long] =
      sp.createDataFrame(Seq((1L, sig))).toDF("id", "sig")
        .select(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> xxhash64(b, slice(sig, b * $r + 1, $r)))").as("bands"))
        .head().getSeq[Long](0).toVector
    val base = (0 until 16).map(_.toLong + 100)
    val b1 = bandsOf(base)
    // determinism + per-band equality when one band's rows are shared
    assert(bandsOf(base) == b1)
    val sameFirstBand = base.take(r) ++ base.drop(r).map(_ + 1000)
    val b2 = bandsOf(sameFirstBand)
    assert(b2.head == b1.head, "identical band tuple must produce the identical key")
    assert(b2.tail.zip(b1.tail).forall { case (x, y) => x != y },
      "changed band tuples must produce different keys")
    // band INDEX is part of the key: identical content in different bands
    // must not collide into one bucket
    val rep = bandsOf(Vector.fill(16)(7L))
    assert(rep.distinct.size == rep.size, "band index must distinguish equal tuples")
  }

  test("minhash LSH finds near-duplicates and estimates jaccard") {
    val sp = spark
    import sp.implicits._
    val base = docs.select(col("doc_id"), col("text")).limit(50)
    val near = base.select((col("doc_id") + 5000).as("doc_id"),
      concat(col("text"), lit(" tiny suffix")).as("text"))
    val pairs = Dedup.minhashLsh(base.union(near), threshold = 0.7)
    // every doc must pair with its perturbed copy
    val found = pairs.filter($"id_b" === $"id_a" + 5000).count()
    assert(found == 50, s"found only $found of 50 planted near-dups")
    // estJaccard sanity on the raw signatures
    val sigA = MinHash.signature("a b c d e f g h", 3, 64)
    val sigB = MinHash.signature("a b c d e f g x", 3, 64)
    assert(MinHash.estJaccard(sigA, sigA) == 1.0)
    assert(MinHash.estJaccard(sigA, sigB) < 1.0)
  }

  test("hot-bucket cap: a planted 1k-copy document cannot blow up the LSH join") {
    val sp = spark
    import sp.implicits._
    // 1000 exact copies of one document: every copy shares every band, so
    // uncapped LSH would emit ~500k pairs from this content alone
    val copies = (0 until 1000).map(i => (100000L + i, "the same mega duplicated document text appears everywhere again and again"))
    val normal = docs.select(col("doc_id"), col("text")).limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val all = sp.createDataFrame(normal ++ copies).toDF("doc_id", "text")

    // the cap drops the mega-bucket: no pair among the 1000 copies — and
    // the sink surfaces exactly what was dropped (nothing silent)
    var sunk: org.apache.spark.sql.DataFrame = null
    val pairs = Dedup.minhashLsh(all, threshold = 0.9, maxBucket = 100,
      hotBucketSink = df => sunk = df)
    assert(pairs.filter($"id_a" >= 100000L && $"id_b" >= 100000L).count() == 0)
    assert(sunk != null && sunk.count() == 16 &&
      sunk.collect().forall(_.getLong(2) == 1000L))

    // and the guard reports what it dropped (nothing silent)
    val bandFn = udf { (sig: Seq[Long]) => MinHash.bands(sig.toArray, 4) }
    val banded = all.select(col("doc_id").as("id"),
        graft.ops.TextOps.minhash(col("text"), 3, 64).as("sig"))
      .select(col("id"), posexplode(bandFn(col("sig"))).as(Seq("band_idx", "band_hash")))
    val (_, hot) = Dedup.capHotBuckets(banded, Seq("band_idx", "band_hash"), 100)
    val hotRows = hot.collect()
    assert(hotRows.length == 16, s"expected 16 mega-bands, got ${hotRows.length}")
    assert(hotRows.forall(_.getLong(2) == 1000L))

    // simhash path: same planted corpus completes with the cap and drops
    // the copy-copy pairs
    val sPairs = Dedup.simhashPairs(all, maxHamming = 3, maxBucket = 100)
    assert(sPairs.filter($"id_a" >= 100000L && $"id_b" >= 100000L).count() == 0)
  }

  test("simhashPairs finds every pair within the banded guarantee (incl. negative fingerprints)") {
    val sp = spark
    import sp.implicits._
    val base = docs.select(col("doc_id"), col("text")).limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = base.map { case (id, t) => (id, t) } ++
      base.map { case (id, t) => (id + 5000, t + " x") }
    // ground truth: pairs with hamming <= 3 (the 4x16-bit band guarantee)
    val fps = all.map { case (id, t) => (id, SimHash.of(t)) }
    val want = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && SimHash.hamming(fa, fb) <= 3
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "fixture produced no <=3-hamming pairs")
    assert(want.exists { case (a, _) => fps.toMap.apply(a) < 0 },
      "fixture has no negative-fingerprint pair (the regression this guards)")
    val got = Dedup.simhashPairs(sp.createDataFrame(all.toSeq).toDF("doc_id", "text"),
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    val a = SimHash.of("the quick brown fox jumps over the lazy dog near the barn")
    val b = SimHash.of("the quick brown fox jumps over the lazy dog near the barn!")
    val c = SimHash.of("completely unrelated text about spark query planning internals")
    assert(SimHash.hamming(a, b) <= 6)
    assert(SimHash.hamming(a, c) > 10)
  }

  test("ANN: LSH recall against brute-force ground truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Ann.bruteTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lshTopK(emb, queries, k = 5, nPlanes = 3, nTables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(truth.size == 40)
    assert(recall >= 0.6, s"LSH recall too low: $recall") // 3 planes x 8 tables
  }

  test("ANN: lshTopK caps planted hot corpus buckets (drops surfaced, query still served)") {
    val sp = spark
    import sp.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 1000 copies of vector 0 under fresh ids: they share EVERY bucket in
    // every table, so without the cap one bucket funnels 1000 corpus rows
    // into a single task per colliding query
    val v0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val copies = sp.range(200000, 201000).select(col("id").as("vec_id"),
      typedLit(v0).as("embedding"), lit(0L).as("label"))
    val corpus = emb.select("vec_id", "embedding", "label").union(copies)
    var sunk: org.apache.spark.sql.DataFrame = null
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
    // nPlanes=5 -> 32 buckets/table: natural load ~16/bucket stays far
    // under the cap; the copy bucket (>=1000) is the only hot one
    val res = Ann.lshTopK(corpus, queries, k = 5, nPlanes = 5, nTables = 4,
      maxBucket = 100, hotBucketSink = df => sunk = df).collect()
    // hot buckets (the ones holding the copies) were dropped...
    assert(sunk != null && sunk.count() > 0)
    // ...so no copy id can appear in any result...
    assert(res.forall(_.getLong(2) < 200000L))
    // ...and every query still gets its k from the surviving buckets
    assert(res.map(_.getLong(0)).distinct.length == 4)
    assert(res.groupBy(_.getLong(0)).values.forall(_.length == 5))
  }

  test("SQL surface: minhash / cosine_sim / hyperplane_bucket registered functions") {
    val sp = spark
    graft.ops.TextOps.register(sp)
    Ann.register(sp)
    docs.limit(30).createOrReplaceTempView("sql_docs")
    // SQL minhash agrees exactly with the DataFrame-API Expression
    val viaSql = sp.sql("SELECT doc_id, minhash(text, 3, 64) AS sig FROM sql_docs")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val viaCol = docs.limit(30)
      .select(col("doc_id"), graft.ops.TextOps.minhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(viaSql == viaCol)
    // cosine_sim: self-similarity 1, symmetric
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20).createOrReplaceTempView("sql_emb")
    val cos = sp.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, a.embedding) AS self,
        | cosine_sim(a.embedding, b.embedding) AS ab,
        | cosine_sim(b.embedding, a.embedding) AS ba
        | FROM sql_emb a JOIN sql_emb b ON b.vec_id = a.vec_id + 1""".stripMargin)
      .collect()
    assert(cos.nonEmpty)
    cos.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
      assert(r.getDouble(2) == r.getDouble(3))
    }
    // hyperplane_bucket: deterministic, within [0, 2^nPlanes)
    val buckets = sp.sql(
      "SELECT hyperplane_bucket(embedding, 42, 8, 0) AS b FROM sql_emb")
      .collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 256))
    val again = sp.sql(
      "SELECT hyperplane_bucket(embedding, 42, 8, 0) AS b FROM sql_emb")
      .collect().map(_.getLong(0))
    assert(buckets.toSeq == again.toSeq)
    // non-literal parameters are rejected at plan time
    intercept[Exception] {
      sp.sql("SELECT hyperplane_bucket(embedding, vec_id, 8, 0) FROM sql_emb").collect()
    }
  }

  test("capHotBuckets: kept/hot partition the key space exactly at the cap") {
    val sp = spark
    import sp.implicits._
    // group g has g+1 rows; cap=7 -> groups 7..19 are hot (size 8..20)
    val rows = for { g <- 0 until 20; i <- 0 to g } yield (g % 5, g.toLong, i)
    val df = rows.toDF("band_idx", "band_hash", "member")
    val (kept, hot) = Dedup.capHotBuckets(df, Seq("band_idx", "band_hash"), cap = 7)
    val keptGroups = kept.groupBy("band_idx", "band_hash").count()
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(keptGroups.keySet == (0 until 7).map(_.toLong).toSet)
    keptGroups.foreach { case (g, n) => assert(n == g + 1) } // groups intact
    assert(kept.columns.toSeq == df.columns.toSeq) // schema preserved
    val hotRows = hot.collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(hotRows.keySet == (7 until 20).map(_.toLong).toSet)
    hotRows.foreach { case (g, n) => assert(n == g + 1) } // exact sizes surfaced
  }

  test("ANN: IVF multi-iteration Lloyd training keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Ann.bruteTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf3 = Ann.ivfTopK(emb, queries, k = 5, nCentroids = 8, nProbe = 4,
      lloydIters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf3.size == 40)
    val recall = (truth & ivf3).size.toDouble / truth.size
    assert(recall >= 0.5, s"IVF(iters=3) recall too low: $recall")
  }

  test("ANN: IVF recall against brute-force ground truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Ann.bruteTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(emb, queries, k = 5, nCentroids = 8, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & ivf).size.toDouble / truth.size
    assert(ivf.size == 40)
    assert(recall >= 0.5, s"IVF recall too low: $recall") // probing half the cells
  }

  test("lang id: CJK and stopword heuristics") {
    assert(LangId.detect("你好 世界 这是 中文 文本 测试") == "zh")
    assert(LangId.detect("the cat and the dog sat in the house") == "en")
    assert(LangId.detect("der hund und die katze ist ein tier") == "de")
    assert(LangId.detect("le chat est un animal avec le chien") == "fr")
    assert(LangId.detect("el perro y la casa es una mesa") == "es")
    assert(LangId.detect("xyzzy plugh") == "und")
  }

  test("multimodal: container decode round-trips the synthesis metadata") {
    val rows = Multimodal.synthesize(spark, 60).collect()
    rows.foreach { m =>
      val d = Multimodal.decode(m.payload)
      assert(d.kind == m.kind, s"kind mismatch for ${m.media_id}")
      m.kind match {
        case "image" =>
          assert((d.width, d.height, d.frames) == ((m.width, m.height, 1)))
        case "audio" => assert(d.durMs == m.dur_ms)
        case "video" =>
          assert((d.width, d.height, d.frames) == ((m.width, m.height, m.n_frames)))
      }
    }
    // corrupt payloads decode to unknown, never throw
    assert(Multimodal.decode(Array.empty[Byte]).kind == "unknown")
    assert(Multimodal.decode("GIF89a".getBytes).kind == "unknown")
    assert(Multimodal.decode(Array.fill[Byte](64)(0x2c)).kind == "unknown")
    // corrupt RIFF chunk lengths (negative-as-signed / huge) must
    // terminate, not hang the walk
    val evil = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ Array[Byte](-8, -1, -1, -1) ++ Array.fill[Byte](32)(7)
    assert(Multimodal.decode(evil).kind == "unknown")
    val evil2 = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ Array[Byte](0, 0, 0, 0) ++ Array.fill[Byte](8)(0)
    assert(Multimodal.decode(evil2).kind == "unknown") // zero-len fmt loop
    val m1 = Multimodal.features(Multimodal.synthesize(spark, 30)).collect().sortBy(_.media_id)
    val m2 = Multimodal.features(Multimodal.synthesize(spark, 30)).collect().sortBy(_.media_id)
    assert(m1.toSeq == m2.toSeq)
    assert(m1.forall(f => f.thumb_w <= 128 && f.thumb_h <= 128))
    assert(m1.filter(_.kind == "image").forall(_.n_frames_sampled == 1))
    assert(m1.filter(_.kind == "video").forall(_.n_frames_sampled >= 1))
    val stats = Multimodal.stats(Multimodal.features(Multimodal.synthesize(spark, 30)))
    assert(stats.count() == 3)
  }

  test("streaming: per-conversation state via mapGroupsWithState") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    Transcripts.synthesize(sp, 5, seed = 9L).toDF()
      .write.mode("overwrite").parquet(dir)
    val stream = StreamingExtract.extractedStream(StreamingExtract.readTranscripts(sp, dir))
    val q = StreamingExtract.startStateMemory(
      StreamingExtract.conversationState(stream), "conv_state")
    q.awaitTermination(60000)
    // last update per conversation must equal the batch totals
    val got = sp.sql(
      """SELECT conv_id, max(turns) AS turns FROM conv_state GROUP BY conv_id""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = sp.read.parquet(dir)
      .filter(col("tool").isin("pdftohtml", "shakespeare"))
      .groupBy("conv_id").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("streaming: incremental extraction over a growing directory") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Transcripts.synthesize(sp, 6, seed = 5L).toDF()
      .write.mode("overwrite").parquet(dir)
    val q = StreamingExtract.startMemory(
      StreamingExtract.extractedStream(StreamingExtract.readTranscripts(sp, dir)),
      "stream_out")
    q.awaitTermination(60000)
    val out = sp.sql("SELECT count(*) FROM stream_out").head().getLong(0)
    val expected = sp.read.parquet(dir)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()
    assert(out == expected, s"$out != $expected")
  }

  test("streaming: event-time sessionization emits exactly the quiet conversations") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    Transcripts.synthesize(sp, 20, seed = 7L).toDF()
      .write.mode("overwrite").parquet(dir)
    val q = StreamingExtract.startMemory(
      StreamingExtract.sessionizedStream(
        StreamingExtract.extractedStream(StreamingExtract.readTranscripts(sp, dir))).toDF(),
      "sess_out")
    q.awaitTermination(60000)
    val got = sp.sql("SELECT conv_id, turns, lines FROM sess_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch expectation: per-conv aggregates of the extraction stream,
    // emitted iff max(ts)-2h strictly passed last_ts + 90min
    val batch = StreamingExtract.extractedStream(sp.read.parquet(dir))
    val wm = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime - 2L * 3600 * 1000
    val want = batch.groupBy("conv_id")
      .agg(count(lit(1)).as("turns"), sum(col("n_lines")).cast("long").as("lines"),
        max(col("ts")).as("last_ts"))
      .filter(col("last_ts").cast("long") * 1000 + 90L * 60000 < lit(wm))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"sessions got=${got.size} want=${want.size}")
    assert(got.nonEmpty, "fixture produced no quiet conversations")
    // active conversations (tail of the corpus) must still be pending
    val all = batch.select("conv_id").distinct().count()
    assert(got.size < all, "every conversation emitted - timeout rule not exercised")
  }

  test("streaming: sessionization survives rows arriving behind the watermark (live path)") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_live").toString
    val t = Transcripts.synthesize(sp, 20, seed = 7L).toDF()
    val mid = t.agg(expr("percentile(cast(ts as long), 0.5)")).head().getDouble(0).toLong
    val fresh = t.filter(col("ts").cast("long") >= mid)
    val early = t.filter(col("ts").cast("long") < mid)
    val now = System.currentTimeMillis()
    val Array(fa, fb) = fresh.randomSplit(Array(0.5, 0.5), seed = 1L)
    writeStreamFile(fa, dir, "f0.parquet", now - 300000)
    writeStreamFile(fb, dir, "f1.parquet", now - 200000)
    writeStreamFile(early, dir, "f2.parquet", now - 100000) // behind the wm
    // bounded triggers: batch 2's conversations arrive with last_ts + gap
    // already behind the watermark — without the timeout clamp this THROWS
    // (setTimeoutTimestamp <= watermark); with it they emit at the next
    // watermark advance
    val q = StreamingExtract.startMemory(
      StreamingExtract.sessionizedStream(
        StreamingExtract.extractedStream(
          StreamingExtract.readTranscripts(sp, dir, maxFilesPerTrigger = Some(1)))).toDF(),
      "sess_live")
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"live sessionization failed: ${q.exception}")
    val emitted = sp.sql("SELECT count(*) FROM sess_live").head().getLong(0)
    assert(emitted > 0)
  }

  test("streaming: exact dedup within watermark drops planted duplicates") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val t = Transcripts.synthesize(sp, 8, seed = 3L).toDF()
    val dupes = t.filter(col("tool").isin("pdftohtml", "shakespeare"))
      .orderBy(col("conv_id"), col("turn_idx")).limit(10)
      .withColumn("conv_id", concat(lit("dup_"), col("conv_id")))
    t.union(dupes.select(t.columns.toIndexedSeq.map(col): _*))
      .write.mode("overwrite").parquet(dir)
    val q = StreamingExtract.startMemory(
      StreamingExtract.dedupedStream(StreamingExtract.readTranscripts(sp, dir)),
      "sdedup_out")
    q.awaitTermination(60000)
    val got = sp.sql("SELECT count(*) FROM sdedup_out").head().getLong(0)
    val want = sp.read.parquet(dir)
      .filter(col("tool").isin("pdftohtml", "shakespeare"))
      .select(col("text")).distinct().count()
    assert(got == want, s"deduped stream kept $got rows, want $want distinct texts")
    // and the planted copies were actually duplicates (op had work to do)
    val inputRows = sp.read.parquet(dir)
      .filter(col("tool").isin("pdftohtml", "shakespeare")).count()
    assert(inputRows > want, "fixture must contain duplicate texts")
  }

  /** write `df` as a single parquet file into `streamDir` with a controlled
    * mtime, so FileStreamSource's mtime ordering (oldest first) is pinned.
    */
  private def writeStreamFile(df: org.apache.spark.sql.DataFrame,
                              streamDir: String, name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wsf").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(streamDir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(dst.setLastModified(mtime))
  }

  /** batch-side expectation for the watermarked windowed counts: the
    * windows whose END the final watermark (max ts - 2h) has passed —
    * the same cutoff rule the DuckDB oracle applies for q23b.
    */
  private def expectedClosedWindows(sp: SparkSession, dir: String): Set[(java.sql.Timestamp, String, Long, Long)] = {
    val batch = StreamingExtract.extractedStream(sp.read.parquet(dir))
    val maxTs = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val wm = new java.sql.Timestamp(maxTs - 2L * 3600 * 1000)
    batch.groupBy(window(col("ts"), "1 hour"), col("format"))
      .agg(count(lit(1)).as("turns"), sum(col("n_lines")).as("lines"))
      .filter(col("window.end") <= lit(wm))
      .select(col("window.start"), col("format"), col("turns"), col("lines"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("streaming: watermark backfill over unordered history is exact with single-batch ingest") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_wm1").toString
    val t = Transcripts.synthesize(sp, 30, seed = 11L).toDF()
    // two files in REVERSE event-time order (newest events in the oldest
    // file) — the adversarial arrival order that broke the bounded-trigger
    // path at the driver in round 2
    val mid = t.agg(expr("percentile(cast(ts as long), 0.5)")).head().getDouble(0).toLong
    val fresh = t.filter(col("ts").cast("long") >= mid)
    val early = t.filter(col("ts").cast("long") < mid)
    val now = System.currentTimeMillis()
    writeStreamFile(fresh, dir, "f0.parquet", now - 200000)
    writeStreamFile(early, dir, "f1.parquet", now - 100000)
    val q = StreamingExtract.startMemory(
      StreamingExtract.windowedCounts(
        StreamingExtract.extractedStream(StreamingExtract.readTranscripts(sp, dir))),
      "wm_single")
    q.awaitTermination(60000)
    val got = sp.sql("SELECT window.start, format, turns, lines FROM wm_single")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = expectedClosedWindows(sp, dir)
    assert(got == want, s"single-batch ingest must emit exactly the final-cutoff set: got ${got.size}, want ${want.size}")
  }

  test("streaming: bounded triggers over unordered history DROP late rows (pinned failure mode)") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_wm2").toString
    val t = Transcripts.synthesize(sp, 30, seed = 11L).toDF()
    val mid = t.agg(expr("percentile(cast(ts as long), 0.5)")).head().getDouble(0).toLong
    val fresh = t.filter(col("ts").cast("long") >= mid)
    val early = t.filter(col("ts").cast("long") < mid)
    val now = System.currentTimeMillis()
    // three files: the late-event filter uses the PREVIOUS batch's
    // committed watermark (lateEvents vs eviction thresholds — watermark
    // propagation), so early data must arrive >= 2 batches after the
    // watermark-advancing batch to be dropped
    val Array(fa, fb) = fresh.randomSplit(Array(0.5, 0.5), seed = 1L)
    writeStreamFile(fa, dir, "f0.parquet", now - 300000) // batch 0: fresh events
    writeStreamFile(fb, dir, "f1.parquet", now - 200000) // batch 1: commits wm = max-2h
    writeStreamFile(early, dir, "f2.parquet", now - 100000) // batch 2: behind the wm
    val q = StreamingExtract.startMemory(
      StreamingExtract.windowedCounts(
        StreamingExtract.extractedStream(
          StreamingExtract.readTranscripts(sp, dir, maxFilesPerTrigger = Some(1)))),
      "wm_bounded")
    q.awaitTermination(60000)
    val gotTurns = sp.sql("SELECT coalesce(sum(turns), 0) FROM wm_bounded").head().getLong(0)
    val wantTurns = expectedClosedWindows(sp, dir).toSeq.map(_._3).sum
    val droppedByWm = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    // the early file's windows close before the committed watermark, so its
    // rows are dropped as late data — bounded ingest MUST lose rows here.
    // This is why backfill over unordered history uses single-batch ingest.
    assert(droppedByWm > 0, "expected the state operator to report watermark drops")
    assert(gotTurns < wantTurns,
      s"expected late-data drops under bounded triggers: got $gotTurns, no-drop cutoff $wantTurns")
  }

  test("statePartitionsFor derives from input volume, clamped, overridable") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_spart")
    java.nio.file.Files.write(dir.resolve("a.bin"), new Array[Byte](10 * 1024))
    // 10 KiB at the 32 MiB default -> 1 partition (tiny stream, one store)
    assert(StreamingExtract.statePartitionsFor(sp, dir.toString) == 1)
    // same bytes at 1 KiB per partition -> 10
    assert(StreamingExtract.statePartitionsFor(sp, dir.toString,
      bytesPerPartition = 1024L) == 10)
    // clamp: never exceeds 4x the session parallelism
    val cap = sp.sparkContext.defaultParallelism * 4
    assert(StreamingExtract.statePartitionsFor(sp, dir.toString,
      bytesPerPartition = 1L) == cap)
    // a file: URI sizes through the same filesystem as the plain path
    assert(StreamingExtract.statePartitionsFor(sp, dir.toUri.toString,
      bytesPerPartition = 1024L) == 10)
    // unreadable dir degrades to 1, never throws
    assert(StreamingExtract.statePartitionsFor(sp, "/no/such/dir") == 1)
    // a filesystem that cannot be sized falls back to the session parallelism
    assert(StreamingExtract.statePartitionsFor(sp, "nosuchfs://host/in") ==
      sp.sparkContext.defaultParallelism)
    // the env override is a positive integer or a named error
    assert(StreamingExtract.parseStatePartitions(" 6 ") == 6)
    Seq("lots", "", "0", "-3", "2.5").foreach { raw =>
      val err = intercept[IllegalArgumentException](StreamingExtract.parseStatePartitions(raw))
      assert(err.getMessage.contains("SPARK_GRAFT_STREAM_PARTITIONS"), err.getMessage)
    }
    // withStatePartitions pins and restores the session conf
    val key = "spark.sql.shuffle.partitions"
    val prev = sp.conf.get(key)
    StreamingExtract.withStatePartitions(sp, 3) {
      assert(sp.conf.get(key) == "3")
    }
    assert(sp.conf.get(key) == prev)
  }
}
