package perfbench

import graft.ops.{Dedup, MinHash, SimHash}
import graft.spark.Transcripts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The near-dup probe: the shuffle- and join-heavy `graft.ops` layer, with
  * no kernel work, measured in extract_mixed's traced run rather than as a
  * workload (the README says why). It joins each turn's golden lines
  * into one clean document and plants a perturbed copy of a seeded tenth
  * of them (the q13/q14 perturbation). Each probe operation runs
  * `Dedup.minhashLsh` and `Dedup.simhashPairs` over all documents.
  *
  * The generators draw every line from a vocabulary of a few dozen words,
  * and on their raw text SimHash puts about 40% of all document pairs
  * within 3 bits, so the pair output, not the operators, would dominate.
  * Each run of three consecutive words (letters only: repeated punctuation
  * and digits would dominate the fingerprint) is therefore fused into one
  * token tagged with a per-document letter code: documents keep their line
  * content, but no two share a vocabulary, so the near-duplicates are the
  * planted ones plus whatever SimHash finds by chance (the check
  * brute-forces those).
  */
object NearDup {
  val Convs = 500L
  /** Planted copies get ids above every base id. */
  val CopyOffset = 1000000000L
  val RowsPerBand = 2
  val Threshold = 0.7
  val MaxHamming = 3
  /** Shorter turns (title pages) carry no near-dup signal. */
  val MinWords = 8

  /** Each turn's golden lines as one document (see above), plus a planted
    * copy with two appended words for a seeded tenth of them.
    */
  def documents(spark: SparkSession, convs: Long, seed: Long, parallelism: Int): DataFrame = {
    val base = Transcripts.goldens(spark, convs, seed = seed, parallelism = parallelism).toDF()
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(sort_array(collect_list(struct(col("line_idx"), col("text")))).as("ls"))
      .select(
        (substring_index(col("conv_id"), "-", -1).cast("long") * 1000 + col("turn_idx"))
          .as("doc_id"),
        split(trim(regexp_replace(array_join(transform(col("ls"), l => l.getField("text")), " "),
          "[^A-Za-z]+", " ")), " ").as("w"))
      .filter(size(col("w")) >= MinWords)
      .withColumn("tag", translate(hex(xxhash64(col("doc_id"), lit(seed))),
        "0123456789", "ghijklmnop"))
      .select(col("doc_id"), array_join(transform(sequence(lit(0), size(col("w")) - 3),
        i => concat(element_at(col("w"), i + 1), element_at(col("w"), i + 2),
          element_at(col("w"), i + 3), col("tag"))), " ").as("text"))
    val copies = base
      .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(10)) === 0)
      .select((col("doc_id") + CopyOffset).as("doc_id"),
        concat(col("text"), lit(" tail marker")).as("text"))
    base.unionByName(copies)
  }

  /** Ground truth from the documents as written: the planted pairs that
    * clear the Jaccard threshold, and every pair a brute-force scan of the
    * SimHash fingerprints puts within the Hamming bound.
    */
  def truth(docs: Seq[(Long, String)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val byId = docs.toMap
    val planted = docs.collect { case (id, _) if id >= CopyOffset => (id - CopyOffset, id) }
      .filter { case (a, b) => MinHash.exactJaccard(byId(a), byId(b), 3) >= Threshold }.toSet
    (planted, Checks.simhashBrute(docs.map { case (id, t) => (id, SimHash.of(t)) }, MaxHamming))
  }

  /** Timed probe operations after one warm-up. */
  val ProbeRuns = 5

  def probe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docsPath = ctx.dir("neardup/docs")
    documents(spark, Convs, ctx.seed, ctx.cores).repartition(ctx.cores).write.parquet(docsPath)
    val docRows = spark.read.parquet(docsPath).collect().map(r => (r.getLong(0), r.getString(1)))
    val (planted, simExpected) = truth(docRows.toSeq)
    ctx.report.details("neardup_docs") = docRows.length.toString
    ctx.report.details("planted_pairs") = planted.size.toString

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var last = (Set.empty[(Long, Long)], Set.empty[(Long, Long)])
    val job = () => {
      val docs = spark.read.parquet(docsPath)
      val mh = ctx.tracer.span("dedup.minhash") {
        pairs(Dedup.minhashLsh(docs, rowsPerBand = RowsPerBand, threshold = Threshold))
      }
      val sh = ctx.tracer.span("dedup.simhash") {
        pairs(Dedup.simhashPairs(docs, maxHamming = MaxHamming))
      }
      val v = Checks.nearDup(planted, mh, sh, simExpected)
      ctx.report.checked(v.turns, v.bad, "planted or brute-force near-dup pairs missed")
      last = (mh, sh)
    }
    job() // warm-up
    (0 until ProbeRuns).foreach(_ => job())

    val r = ctx.report
    val spans = ctx.tracer.spans
    def medianMs(name: String): Double = {
      // the first span is the warm-up's
      val xs = spans.filter(_.name == name).drop(1).map(s => (s.end - s.start) / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r.set("dedup.minhash_ms", medianMs("dedup.minhash"))
    r.set("dedup.simhash_ms", medianMs("dedup.simhash"))
    r.set("dedup.pairs_out", (last._1.size + last._2.size).toDouble)
    r.set("dedup.planted_recall",
      if (planted.isEmpty) 0.0 else planted.count(last._1.contains).toDouble / planted.size)
    // the hot-bucket sink's frame is a separate action, so it runs once,
    // outside the timed runs
    var hot = 0L
    val docs = spark.read.parquet(docsPath)
    Dedup.minhashLsh(docs, rowsPerBand = RowsPerBand, threshold = Threshold,
      hotBucketSink = h => hot += h.count()).count()
    Dedup.simhashPairs(docs, maxHamming = MaxHamming, hotBucketSink = h => hot += h.count())
      .count()
    r.set("dedup.hot_buckets", hot.toDouble)
  }
}
