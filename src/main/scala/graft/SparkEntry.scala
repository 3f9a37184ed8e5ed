package graft

import graft.ops.{Ann, Dedup, TextOps}
import graft.spark.{DriverJobs, Pipeline, TableStore, TranscriptTable, Transcripts}
import graft.streaming.StreamingExtract

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one query per implemented operator family
  * (SURVEY.md §2), each with an equivalent DuckDB oracle where the
  * semantics are ANSI-SQL-expressible. Column names and row ordering are
  * aligned exactly between the Spark plan and the oracle SQL.
  *
  * Queries whose semantics are not computable from the sf tables alone
  * (extraction, similarity, streaming, multimodal) MATERIALIZE their
  * ground truth — golden lines, signatures, synthesis-time metadata — to
  * parquet under [[matDir]]; the paired oracle SQL reads it back via
  * DuckDB `read_parquet('{MAT}/...')`. Verify substitutes `{MAT}` with
  * the actual absolute path when dumping oracle_sql.json, so the driver's
  * DuckDB run sees exactly what this process wrote. Crucially the
  * materialized side is generator-derived (goldens) or synthesis-time
  * metadata — NOT the query's own output — so the oracle stays a genuine
  * independent expectation wherever one exists.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Where ground-truth parquet for `{MAT}` oracles is written. Verify
    * points this at its outDir via -Dgraft.mat.dir so the dumped oracle
    * SQL and the written files agree. When the property is UNSET (Bench,
    * ad-hoc runs) materialization is skipped entirely: the ground truth
    * exists only for the DuckDB compare, and writing it inside a timed
    * bench query would inflate the per-query numbers with work the bench
    * never reads.
    */
  def matDir: Option[String] = sys.props.get("graft.mat.dir")

  /** write oracle ground truth; returns the path when verification is on */
  private def materialize(df: => DataFrame, name: String): Option[String] =
    matDir.map { base =>
      val path = s"$base/$name"
      df.write.mode("overwrite").parquet(path)
      path
    }

  /** corpus for the q16/q26 planted-duplicate retrieval: the embeddings
    * plus 5 exact copies of each query vector under fresh ids.
    */
  private def annDupCorpus(emb: DataFrame): DataFrame =
    emb.union(
      emb.filter(col("vec_id") < 8)
        .select(explode(array((0 until 5).map(j =>
          col("vec_id") * 10 + lit(1000000 + j)): _*)).as("vec_id"),
          col("embedding"), col("label")))

  /** kind -> JSON-facing type rename as SQL (Objects.php:81-100), used by
    * oracles aggregating materialized golden lines.
    */
  private val kindToTypeSql =
    "CASE kind WHEN 'Dialog' THEN 'Dialogue' WHEN 'Slugline' THEN 'Scene'" +
      " WHEN 'Paren' THEN 'Parens' WHEN 'Act' THEN 'New Act' ELSE kind END"

  /** The scratch dirs of the driver queries (tables, checkpoints, stream
    * sinks): a query's DataFrame reads its dir lazily, after the query
    * returns, so each `graft_<name>` dir lives until the JVM exits, then
    * goes through the table store's recursive delete. The exit action runs
    * after Spark's own shutdown hooks, once no job can read the dirs.
    */
  private[graft] object ScratchDirs {
    private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private lazy val atExit: Unit = org.apache.hadoop.util.ShutdownHookManager.get
      .addShutdownHook(() => deleteAll(), 20)

    def apply(name: String): String = {
      atExit
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
      made.add(dir)
      dir
    }

    /** Delete every dir made so far: the JVM-exit action. */
    def deleteAll(): Unit =
      Iterator.continually(made.poll()).takeWhile(_ != null).foreach(d => TableStore(d).delete(d))
  }

  /** Streaming attestation driver (q23, q23b, q30, q31, q42): the caller
    * lands input parquet under a fresh temp dir's `in/`, and each [[run]]
    * starts `stream` over the file-source stream of it with an AvailableNow
    * trigger into the parquet sink `out/`. One checkpoint `ck/` spans runs,
    * so a second run resumes. The state-store partition count is sized to
    * the input (statePartitionsFor scaladoc): AQE cannot coalesce stateful
    * streaming exchanges, and 32 near-empty stores paying a commit per
    * micro-batch is pure fixed cost.
    */
  private final class StreamDriver(s: SparkSession, name: String)(
      stream: DataFrame => DataFrame) {
    private val se = StreamingExtract
    private val tmp = ScratchDirs(name)

    def land(df: DataFrame, mode: String = "overwrite"): this.type = {
      df.coalesce(8).write.mode(mode).parquet(s"$tmp/in")
      this
    }

    /** Run to completion and return the input rows processed. Fails LOUDLY
      * on timeout (2 min) or stream death: the output is read back after
      * this call, so a silently-partial sink would surface as an opaque
      * oracle mismatch instead of the real harness failure.
      */
    def run(label: String = name): Long =
      se.withStatePartitions(s, se.statePartitionsFor(s, s"$tmp/in")) {
        val q = se.startParquet(stream(se.readTranscripts(s, s"$tmp/in")),
          s"$tmp/out", s"$tmp/ck")
        val finished = q.awaitTermination(120000L)
        q.exception.foreach(e => throw new IllegalStateException(
          s"$label: streaming query died: ${e.getMessage}", e))
        require(finished, s"$label: streaming query did not terminate within 120000ms")
        q.recentProgress.map(_.numInputRows).sum
      }

    def input: DataFrame = s.read.parquet(s"$tmp/in")
    def output: DataFrame = s.read.parquet(s"$tmp/out")
  }

  /** a corpus family's (transcripts, goldens) as DataFrames */
  private def frames(c: Transcripts.Corpus[_, _]): (DataFrame, DataFrame) =
    (c.rows.toDF(), c.goldens.toDF())

  /** Per-turn expected line counts: every document turn of `transcripts`
    * as (conv_id, turn_idx, `cols`..., g_lines), g_lines counted from the
    * goldens (0 for a turn with none).
    */
  private def expectedLines(transcripts: DataFrame, goldens: DataFrame,
      cols: Column*): DataFrame = {
    val perTurn = goldens.groupBy(col("conv_id"), col("turn_idx"))
      .agg(count(lit(1)).as("g_lines"))
    transcripts.filter(Pipeline.isDocTurn)
      .select(col("conv_id") +: col("turn_idx") +: cols: _*)
      .join(perTurn, Seq("conv_id", "turn_idx"), "left")
      .na.fill(0L, Seq("g_lines"))
  }

  /** Per-turn attestation shared by q32, q35, q38 and q40. Each side folds
    * its lines to one row per (conv_id, turn_idx): bit_xor(xxhash64(
    * line_idx, hashed fields)) and the line count (verifyByHash's
    * contract), plus the turn-level `turnCols`, constant within a turn and
    * read with max(). A full-outer turn join then counts n_turns and
    * n_turns_ok (the turns whose two sides agree on all of them), followed
    * by `totals` over the joined turns. `extractedAggs` are extra aggregates over
    * the extracted lines (what extraction surfaced, e.g. dual flags); they
    * come out of the same aggregation, so extract_turn appears exactly
    * once in the plan (the audited invariant).
    */
  private def turnAttest(lines: DataFrame, hashed: Seq[Column], goldens: DataFrame,
      goldenHashed: Seq[Column], turnCols: Seq[String], extractedAggs: Seq[Column],
      totals: Column*): DataFrame = {
    def digest(df: DataFrame, fields: Seq[Column], p: String, extra: Seq[Column]) =
      df.withColumn("lh", xxhash64(col("line_idx") +: fields: _*))
        .groupBy(col("conv_id"), col("turn_idx"))
        .agg(expr("bit_xor(lh)").as(p + "h"), (count(lit(1)).as(p + "cnt") +:
          turnCols.map(c => max(col(c)).as(p + c))) ++ extra: _*)
    val ok = ("h" +: "cnt" +: turnCols).map(c => col(c) <=> col("g_" + c)).reduce(_ && _)
    digest(lines, hashed, "", extractedAggs)
      .join(digest(goldens, goldenHashed, "g_", Nil), Seq("conv_id", "turn_idx"), "full_outer")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(ok, 1L).otherwise(0L)).cast("bigint").as("n_turns_ok") +: totals: _*)
  }

  /** The cross-feature attestation (q35, q38, q40): q32's field set plus
    * each line's canonical revision-span and attr strings in the per-turn
    * hash, with the turn-level revision table, side-vote table and
    * CONTINUED flags compared alongside. Turn-level strings are carried
    * beside the exploded lines, so extraction runs once.
    */
  private def crossAttest(transcripts: DataFrame, goldens: DataFrame,
      extractedAggs: Seq[Column], totals: Column*): DataFrame = {
    def spanStr(spans: Column, label: Column => Column): Column =
      array_join(sort_array(transform(spans, x => concat(label(x), lit(":"),
        x.getField("start").cast("string"), lit("-"),
        x.getField("end").cast("string")))), "|")
    val lines = Pipeline.explodeLines(Pipeline.extracted(transcripts),
      col("conv_id"), col("turn_idx"), col("ex.format").as("format"),
      array_join(transform(col("ex.revisions"),
        (x, i) => concat_ws(":", i.cast("string"), x.getField("name"),
          x.getField("color"))), ";").as("rev_table"),
      array_join(transform(col("ex.line_number_sides"),
        v => concat_ws(":", v.getField("type"), v.getField("left").cast("string"),
          v.getField("right").cast("string"))), ";").as("votes"),
      col("ex.scene_continued_top").as("cont_top"),
      col("ex.scene_continued_bottom").as("cont_bottom"),
      col("ex.scene_continued_number").as("cont_number"))
    val hashed = Seq("kind", "text", "page_num", "given_page_num", "column",
      "has_dual", "is_dual").map(f => col(s"line.$f")) ++ Seq(
      spanStr(col("line.revs"), _.getField("weight").cast("string")),
      spanStr(col("line.attrs"), _.getField("key")))
    val goldenHashed = Seq("kind", "text", "page_num", "given_page_num", "column",
      "has_dual", "is_dual", "revs", "attrs").map(col)
    turnAttest(lines, hashed, goldens, goldenHashed,
      Seq("rev_table", "votes", "cont_top", "cont_bottom", "cont_number"),
      extractedAggs, totals: _*)
  }

  /** q29/q37: write `transcripts` as a conv_id-bucketed table, run the
    * checkpointed extract with every bucket job overlapped (a bucket job's
    * fixed cost — scheduling, parquet files, manifest commit — dominates
    * small buckets, and nBuckets concurrent jobs backfill each
    * other's tails; per-bucket manifests keep resume granularity), and
    * aggregate the checkpointed OUTPUT per bucket. `runs` is handed the
    * extract and checks its counters. The oracle's per-bucket expectation
    * is golden line counts joined with the materialized bucket mapping.
    */
  private def checkpointAttest(s: SparkSession, name: String, transcripts: DataFrame,
      goldens: DataFrame, nBuckets: Int)(
      runs: (() => TranscriptTable.Counters) => Unit): DataFrame = {
    val tmp = ScratchDirs(name)
    TranscriptTable.write(transcripts, s"$tmp/table", nBuckets, snapshotId = 1L)
    runs(() => TranscriptTable.extractWithCheckpoints(
      s, s"$tmp/table", s"$tmp/out", nBuckets, maxConcurrent = nBuckets))
    materialize(expectedLines(transcripts, goldens,
      TranscriptTable.bucketCol(nBuckets).as("bucket")), s"${name}_expected")
    s.read.parquet(s"$tmp/out/data")
      .groupBy(col("bucket").cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("n_lines")).cast("bigint").as("n_lines"))
      .orderBy(col("bucket"))
  }

  /** (conv_id, turn_idx) of one input batch, tagged with its number */
  private def tagged(df: DataFrame, batch: Int): DataFrame =
    df.select(col("conv_id"), col("turn_idx")).withColumn("batch", lit(batch))

  /** (rows, distinct conv_ids) of a table read, in one job */
  private def rowsAndConvs(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("conv_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** transcripts scale keyed off the sf directory (deterministic, no I/O) */
  private def nConvsFor(dir: String): Long =
    if (dir.contains("0.1")) 1000L else if (dir.contains("0.01")) 200L else 40L

  /** Untimed input materialization for benchmark runs: forces to parquet
    * the synthesized corpora that timed queries read (today: the q22 media
    * corpus, whose payload generation costs ~30s at sf0.1), so per-query
    * bench numbers measure the operator, not the generator. Verify runs
    * are untimed and need no prewarm; Bench calls this before its sweep.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    val media = graft.ops.Multimodal.corpus(s, nConvsFor(dir) * 5)
    // settle the just-materialized corpus (untimed): hundreds of MB of
    // dirty pages are still flushing when the sweep reaches q22, and a
    // timed read colliding with that writeback measured a one-off 7.6 s
    // (vs 1.8 s) in an otherwise idle window. One untimed pass brings the
    // files to the same page-cache-warm state the headline bench's inputs
    // are in (BENCH/BASELINE.md `io_probe_cache: warm-lower-bound` notes
    // that warm-input measurement philosophy explicitly).
    media.toDF().select(sum(length(col("payload")))).head()
    ()
  }

  /** Flagship query on sf=0.001: full extraction of a synthetic transcript
    * corpus to typed lines. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val transcripts = Transcripts.synthesize(spark, 20, seed = 42L).toDF()
    Pipeline.lines(Pipeline.extracted(transcripts))
  }


  /** shared body of q38 (classic xref serialization) and q40 (modern
    * ObjStm + xref-stream serialization): the cross-feature attestation
    * over the PDF corpus through the lexer, counting format=='pdf' turns
    * to pin which path produced them
    */
  private def pdfLexerVerify(s: SparkSession, dir: String, matName: String,
      modern: Boolean): DataFrame = {
    val n = math.min(nConvsFor(dir), 150L)
    val goldens = Transcripts.corpus(s, n)(Transcripts.pdfGoldensFor(9393L, _, 4)).goldens.toDF()
    materialize(goldens, matName)
    val transcripts =
      Transcripts.corpus(s, n)(Transcripts.pdfTurnsFor(9393L, _, 4, modern)).rows.toDF()
    crossAttest(transcripts, goldens,
      Seq(max(when(col("format") === "pdf", 1).otherwise(0)).as("is_pdf")),
      coalesce(sum(col("is_pdf")), lit(0)).cast("bigint").as("n_pdf_turns"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational operator families over the sf tables -----------------
    "q01_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_discount") > 0.05)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),
    "q03_join_broadcast" -> ((s, dir) => {
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), min(col("o_orderkey")).as("min_ok"))
        .orderBy(col("c_mktsegment"))
    }),
    "q04_join_4way" -> ((s, dir) => {
      // join-strategy note (round-7 audit): the bounded dimensions
      // (customer/nation/region) are explicitly broadcast; the
      // lineitem⋈orders strategy is deliberately LEFT to the planner —
      // at this scale factor it auto-broadcasts orders (the before-plan
      // capture shows an all-BroadcastHashJoin chain, zero data-side
      // exchanges), and at 100 TB, where orders outgrows any broadcast,
      // it degrades to a sort-merge join instead of a forced broadcast
      // of an unbounded side. A round-7 experiment that pre-joined the
      // dimension chain and broadcast the orders-derived result was
      // reverted for exactly that reason.
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    "q05_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("running_n", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_id"), col("user_id"), col("rn"), col("running_n"))
        .orderBy(col("event_id"))
    }),
    "q06_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new", when(
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 3600, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg((sum(col("is_new")) + 1).cast("bigint").as("n_sessions"))
        .orderBy(col("user_id"))
    }),
    "q07_topk_parts" -> ((s, dir) => {
      t(s, dir, "part")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(10)
        .select(col("p_partkey"), col("p_name"))
    }),
    "q08_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy(col("l_returnflag"))
    }),
    "q21_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy(col("event_type"))
    }),

    // ---- training-data pipeline ops over documents/embeddings ------------
    // NOTE: the dedup ops return UNSORTED frames (a global sort belongs to
    // the verification gate, not the library operator); the oracled
    // wrappers below sort for row alignment with the DuckDB ORDER BY.
    "q09_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy(col("keep_id"))),
    "q28_dedup_canonical" -> ((s, dir) => {
      // window-variant dedup keeping the minimum-id row per content
      Dedup.keepCanonical(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q27_embed_dup_pairs" -> ((s, dir) => {
      // embedding-cosine near-dup pairs over the planted-duplicate corpus
      // (see annDupCorpus): every >=0.95 pair is a planted identical-vector
      // pair, found deterministically (same LSH bucket in every table)
      val emb = t(s, dir, "embeddings")
      Dedup.embeddingCosinePairs(annDupCorpus(emb), threshold = 0.95)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q10_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars2"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q11_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars2"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
          (length(col("text")) - length(regexp_replace(col("text"), " the ", ""))).cast("bigint").as("stop_len"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("bigint").as("n_vowels"))
        .orderBy(col("doc_id"))
    }),
    "q20_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
    }),
    "q12_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"),
          col("lang").as("lang_label"))
        .orderBy(col("doc_id"))
    }),
    "q13_minhash_pairs" -> ((s, dir) => {
      // corpus + perturbed copies => guaranteed near-dup pairs to find.
      // rowsPerBand=2 (32 bands): miss probability at jaccard 0.7 is
      // 1-(1-0.49)^32 ~ 4e-10 per pair, so the LSH output equals the
      // exhaustive pair set the DuckDB oracle computes from the same
      // shingle definition.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail marker")).as("text"))
      Dedup.minhashLsh(docs.union(perturbed), rowsPerBand = 2, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 100).cast("bigint").as("jaccard_pct"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q14_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" x")).as("text"))
      val all = docs.union(perturbed)
      // ground truth for the oracle: the 64-bit fingerprints themselves;
      // DuckDB brute-forces all pairs with bit_count(xor(...)) <= 3 and
      // must get exactly the pairs the 4x16-bit banding found.
      materialize(all.select(col("doc_id").as("id"),
        TextOps.simhash64(col("text")).as("fp")), "q14_fps")
      Dedup.simhashPairs(all, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q15_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("corpus_id"))
    }),
    // q16/q26: retrieval of PLANTED exact duplicates (the embedding-dedup
    // use case). Identical vectors guarantee identical buckets/cells, so
    // the approximate index finds them deterministically — not just
    // w.h.p. — and exact-equal cosines make every tie resolve by
    // corpus_id identically in Spark and DuckDB. (The sf embeddings are
    // near-uniform — natural top-5 cosine ~0.3 — so no sublinear index
    // can exactly reproduce q15's natural-neighbor top-k; q15 keeps that
    // role for the exact brute-force path.)
    "q16_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(annDupCorpus(emb), emb.filter(col("vec_id") < 8), k = 5,
        nPlanes = 8, nTables = 6)
        .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("corpus_id"))
    }),
    "q26_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(annDupCorpus(emb), emb.filter(col("vec_id") < 8), k = 5)
        .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("corpus_id"))
    }),
    "q25_regex_tokens" -> ((s, dir) => {
      // BPE-ish subword tokenization: words / numbers / single punct
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("bigint").as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- the extraction engine itself. Oracle design: each query
    // materializes the GOLDEN lines (generator-derived expectations, never
    // the extractor's own output) to {MAT}; the DuckDB oracle recomputes
    // the same aggregation/window over the goldens. The rows only match if
    // extraction reproduced the goldens exactly — a driver-attested
    // end-to-end extraction check, not just an aggregation check. --------
    "q17_extract_lines" -> ((s, dir) => {
      val n = nConvsFor(dir)
      materialize(Transcripts.goldens(s, n, seed = 42L).toDF(), "q17_goldens")
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      Pipeline.lines(Pipeline.extracted(transcripts))
        .groupBy(col("type"))
        .agg(count(lit(1)).as("n_lines"))
        .orderBy(col("type"))
    }),
    "q18_extract_verify" -> ((s, dir) => {
      // scale-path verification: per-turn hash digests, not a per-line join
      val n = nConvsFor(dir)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val goldens = Transcripts.goldens(s, n, seed = 42L).toDF()
      materialize(goldens, "q18_goldens")
      Pipeline.verifyByHash(
          Pipeline.lines(Pipeline.extracted(transcripts)), goldens)
        .agg(count(lit(1)).as("n_turns"),
          sum(col("turn_ok")).cast("bigint").as("n_turns_ok"))
    }),
    "q18b_verify_lines" -> ((s, dir) => {
      // debug-grade per-LINE full-outer verification (J4); the oracle
      // expects every golden line matched and nothing spurious
      val n = nConvsFor(dir)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val goldens = Transcripts.goldens(s, n, seed = 42L).toDF()
      materialize(goldens, "q18b_goldens")
      Pipeline.verify(Pipeline.lines(Pipeline.extracted(transcripts)), goldens)
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_lines_ok"))
    }),
    "q32_dual_verify" -> ((s, dir) => {
      // C10 driver attestation: a SEPARATE dual-heavy corpus (every
      // assistant turn carries dual-dialog exchanges) — deliberately not
      // the headline/scaling corpus (BENCH/BASELINE.md corpus-weight
      // note). Per-turn hash verification includes the dual column and
      // both dual flags, so a wrong splice order, a missed has_dual /
      // is_dual flag, or a mis-assigned column is a red row. The oracle
      // recomputes n_turns / n_dual_turns from the materialized GOLDENS
      // (never extractor output) and expects every turn to verify; the
      // Spark-side n_dual_turns comes from the EXTRACTED flags, so the
      // row also proves the corpus actually contains duals and the
      // extractor surfaced them.
      val n = math.min(nConvsFor(dir), 200L)
      val (transcripts, goldens) = frames(
        Transcripts.corpus(s, n)(Transcripts.dualTurnsFor(4242L, _, 4)))
      materialize(goldens, "q32_goldens")
      val dualFields = Seq("kind", "text", "page_num", "given_page_num",
        "column", "has_dual", "is_dual").map(col)
      turnAttest(Pipeline.lines(Pipeline.extracted(transcripts)), dualFields,
        goldens, dualFields, Nil, Seq(max(when(col("has_dual"), 1).otherwise(0)).as("hd")),
        coalesce(sum(col("hd")), lit(0)).cast("bigint").as("n_dual_turns"))
    }),
    "q33_revisions" -> ((s, dir) => {
      // A4/A5 driver attestation: colored-revision corpus. The goldens
      // carry the generator's independent simulation of the reference's
      // weight-list dynamics (rank per revision) plus expected span
      // attribution; the Spark side re-derives both from extraction —
      // the ordered ex.revisions list and the per-line (weight,start,end)
      // spans resolved through it. A wrong key binding, a mis-ordered
      // weight list, or a dropped/misattributed span is a red row.
      val n = math.min(nConvsFor(dir), 200L)
      val (transcripts, goldens) = frames(
        Transcripts.corpus(s, n)(Transcripts.revTurnsFor(777L, _, 4)))
      materialize(goldens, "q33_goldens")
      // ONE extraction pass: each line's revision spans resolve through
      // the turn-level weight-ordered list (rank w -> ex.revisions[w]),
      // carried alongside the exploded lines, so a mis-permuted weight
      // list mis-names spans and reds the row. Every generated revision
      // has >= 1 span by corpus construction (its key page has a colored
      // Dialog), so span rows cover the whole expected list.
      Pipeline.explodeLines(Pipeline.extracted(transcripts),
          col("conv_id"), col("turn_idx"), col("ex.revisions").as("revtab"))
        .select(col("conv_id"), col("turn_idx"), col("revtab"),
          explode_outer(col("line.revs")).as("rv"))
        .filter(col("rv").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("rv.weight").cast("bigint").as("rank"),
          element_at(col("revtab"), col("rv.weight") + 1).as("rev"))
        .groupBy(col("conv_id"), col("turn_idx"), col("rank"),
          col("rev.name").as("name"), col("rev.color").as("color"))
        .agg(count(lit(1)).as("nsp"))
        .groupBy(col("name"), col("color"), col("rank"))
        .agg(count(lit(1)).as("n_turns"), sum(col("nsp")).cast("bigint").as("n_spans"))
        .orderBy(col("name"), col("color"), col("rank"))
    }),
    "q34_line_number_vote" -> ((s, dir) => {
      // A5 driver attestation: margin-numbered corpus. The engine must
      // strip every margin token into the number object (F5) and elect
      // the per-type sides (Parser.php:193-237); the turn-level
      // line_number_sides table is exploded and counted per
      // (type, left, right) against the generator's independently
      // computed vote expectation. Content integrity under the margin
      // tokens is pinned by LineNumberVoteSpec; a wrong capture or vote
      // here is a red row.
      val n = math.min(nConvsFor(dir), 200L)
      val (transcripts, goldens) = frames(
        Transcripts.corpus(s, n)(Transcripts.numberedTurnsFor(555L, _, 4)))
      materialize(goldens, "q34_goldens")
      Pipeline.extracted(transcripts)
        .select(col("conv_id"), col("turn_idx"),
          explode_outer(col("ex.line_number_sides")).as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("v.type").as("type"),
          col("v.left").as("side_left"), col("v.right").as("side_right"))
        .agg(count(lit(1)).as("n_turns"))
        .orderBy(col("type"), col("side_left"), col("side_right"))
    }),
    "q35_cross_verify" -> ((s, dir) => {
      // Cross-feature driver attestation: ONE corpus whose every document
      // carries dual-dialog exchanges, colored revisions (key + mixed
      // pages), margin line numbers, scene-number tokens, CONT'D markers
      // and CONTINUED bands at once — the pass-interaction product space
      // (DualDialog splices blocks the revision walk later attributes,
      // ParseText.php:1412-1563 + Parser.php:239-486) that q32/q33/q34's
      // isolated corpora cannot see. The per-turn hash covers q32's field
      // set PLUS each line's canonical revision-span and attr strings;
      // the turn-level revision table, side-vote table and CONTINUED
      // flags are compared alongside. Oracle recomputes the counts from
      // the materialized GOLDENS and expects every turn to verify; the
      // Spark-side n_dual/n_rev/n_cont counts come from EXTRACTED fields,
      // proving the corpus carries the features and extraction surfaced
      // them. ONE extraction pass (the audited invariant): turn-level
      // strings are carried alongside the exploded lines.
      val n = math.min(nConvsFor(dir), 200L)
      val (transcripts, goldens) = frames(
        Transcripts.corpus(s, n)(Transcripts.crossTurnsFor(3131L, _, 4)))
      materialize(goldens, "q35_goldens")
      crossAttest(transcripts, goldens,
        Seq(max(when(col("line.has_dual"), 1).otherwise(0)).as("hd")),
        coalesce(sum(col("hd")), lit(0)).cast("bigint").as("n_dual_turns"),
        coalesce(sum(when(length(col("rev_table")) > 0, 1).otherwise(0)), lit(0))
          .cast("bigint").as("n_rev_turns"),
        coalesce(sum(when(col("cont_top"), 1).otherwise(0)), lit(0))
          .cast("bigint").as("n_cont_turns"))
    }),
    "q38_pdf_lexer" -> ((s, dir) =>
      // Raw-PDF lexer attestation: the SAME cross-feature document family
      // as q35 (duals + revisions + margin numbers + scene numbers +
      // CONT'D + CONTINUED + inline styles + fragment jitter), but every
      // payload is a REAL single-file PDF (classic xref, page tree,
      // Courier /Widths, per-page content streams) extracted through the
      // hand-built COS/content-stream lexer (PdfLex) instead of the XML
      // tokenizer. Goldens are generator-derived (identical fragment
      // geometry), so a green row proves byte-stream lexing -> fragment
      // reconstruction -> shared layout/classify pipeline end-to-end.
      // n_pdf_turns counts EXTRACTED format=='pdf', pinning that the PDF
      // path (not a fallback) produced every turn.
      pdfLexerVerify(s, dir, "q38_goldens", modern = false)),
    "q40_pdf_modern" -> ((s, dir) =>
      // Same documents, same goldens — but serialized the way a PDF 1.5+
      // writer emits them: every non-stream object packed into an object
      // stream, the cross-reference a predictor-encoded xref STREAM
      // behind ASCIIHex/ASCII85+Flate filter chains. A green row proves
      // the modern reader path (xref-stream index, ObjStm member fetch,
      // predictor + filter decode) end-to-end through the distributed
      // extraction pipeline.
      pdfLexerVerify(s, dir, "q40_goldens", modern = true)),
    "q39_boilerplate" -> ((s, dir) => {
      // Generic-HTML main-content extraction by text-density/link-density
      // scoring (Kohlschütter WSDM'10 rule set over the hand-built HTML
      // tokenizer). The corpus is constructed so every block's label is
      // neighbor-invariant under the published thresholds — goldens come
      // from the construction, never from running the classifier. Per-doc
      // hash over (block_idx, text) of the extracted content blocks must
      // match the goldens for every document.
      val n = nConvsFor(dir) * 5
      val (docs, goldens) = frames(Transcripts.corpus(s, n)(Transcripts.noisyHtmlFor(2718L, _)))
      materialize(goldens, "q39_goldens")
      val a = docs.select(col("doc_id"),
          posexplode_outer(graft.ops.Boilerplate.htmlMainContent(col("html")))
            .as(Seq("block_idx", "text")))
        .filter(col("text").isNotNull)
        .groupBy(col("doc_id"))
        .agg(expr("bit_xor(xxhash64(block_idx, text))").as("h"),
          count(lit(1)).as("cnt"))
      val b = goldens
        .groupBy(col("doc_id"))
        .agg(expr("bit_xor(xxhash64(block_idx, text))").as("g_h"),
          count(lit(1)).as("g_cnt"))
      a.join(b, Seq("doc_id"), "full_outer")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(when(col("h") <=> col("g_h") && col("cnt") <=> col("g_cnt"), 1L)
            .otherwise(0L)).cast("bigint").as("n_docs_ok"),
          coalesce(sum(col("g_cnt")), lit(0L)).cast("bigint").as("n_blocks"))
    }),
    "q19_char_rank" -> ((s, dir) => {
      val n = nConvsFor(dir)
      materialize(Transcripts.goldens(s, n, seed = 42L).toDF(), "q19_goldens")
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val lines = Pipeline.lines(Pipeline.extracted(transcripts))
      Pipeline.characterCounts(Pipeline.dialog(lines)).limit(20)
    }),
    "q22_multimodal_stats" -> ((s, dir) => {
      // Spark side: decode REAL container bytes (PNG/WAV/GIF structure) and
      // aggregate. Oracle side: the synthesis-time metadata — kind, frame
      // count, duration — materialized before encoding; the decoded values
      // must reproduce them exactly. The corpus is memoized to parquet
      // (Multimodal.corpus) so timed runs measure read->decode->stats, not
      // payload synthesis; Bench prewarm()s it untimed.
      val n = nConvsFor(dir) * 5
      val media = graft.ops.Multimodal.corpus(s, n)
      materialize(media.toDF().select(col("kind"),
        length(col("payload")).cast("bigint").as("nbytes"),
        when(col("kind") === "image", 1)
          .when(col("kind") === "audio", expr("1 + dur_ms div 5000"))
          .otherwise(col("n_frames")).cast("bigint").as("exp_frames")),
        "q22_expected")
      graft.ops.Multimodal.stats(graft.ops.Multimodal.features(media))
        .select(col("kind"), col("n"), col("total_bytes").cast("bigint").as("total_bytes"),
          col("total_frames").cast("bigint").as("total_frames"))
    }),
    "q24_speakers_split" -> ((s, dir) => {
      // A6 with reference-faithful multi-speaker heading splitting. The
      // oracle gets (a) the golden lines and (b) a heading -> speaker
      // lookup from the unit-tested scalar split kernel, and re-derives
      // the attribution window + explode + count in SQL.
      val n = nConvsFor(dir)
      // the split lookup derives from the WRITTEN goldens parquet so the
      // (expensive) generator lineage runs once, not once per materialize
      materialize(Transcripts.goldens(s, n, seed = 42L).toDF(), "q24_goldens")
        .foreach { goldensPath =>
          materialize(
            s.read.parquet(goldensPath)
              .filter(col("kind") === "Character")
              .select(col("text").as("heading")).distinct()
              .select(col("heading"),
                posexplode(graft.spark.SplitSpeakers(col("heading")))
                  .as(Seq("pos", "sm")))
              .select(col("heading"), col("pos"), col("sm.speaker").as("speaker")),
            "q24_split")
        }
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      Pipeline.speakerCounts(Pipeline.lines(Pipeline.extracted(transcripts))).limit(20)
    }),
    "q29_bucketed_checkpoints" -> ((s, dir) => {
      // the north-rule table story end-to-end: write the conv_id-bucketed
      // table (snapshot metadata + salted files), extract through the
      // per-bucket checkpoint manifests, run a second pass to prove resume
      // is a no-op, and aggregate the checkpointed OUTPUT per bucket. The
      // oracle recomputes per-bucket expectations from golden line counts
      // joined with the materialized bucket mapping.
      val n = nConvsFor(dir)
      checkpointAttest(s, "q29", Transcripts.synthesize(s, n, seed = 42L).toDF(),
          Transcripts.goldens(s, n, seed = 42L).toDF(), nBuckets = 16) { extract =>
        val c1 = extract()
        val c2 = extract() // all committed
        require(c1 == c2, s"checkpoint resume must be a no-op: $c1 vs $c2")
      }
    }),
    "q41_data_skipping" -> ((s, dir) => {
      // File-skipping reads: write the transcripts table in the RANGE
      // layout (per-bucket files cover contiguous conv_id ranges, so the
      // manifest's footer-derived min/max stats are tight), then answer a
      // range query and a point lookup THROUGH the pruned readers. The
      // requires pin that pruning actually skipped files — without them a
      // broken selector that selects everything would still go green.
      // The oracle recomputes the same aggregates from the materialized
      // dump with plain WHEREs; any wrongly-skipped file shows up as a
      // row-count/distinct mismatch.
      val n = math.max(60L, math.min(nConvsFor(dir), 300L))
      val nBuckets = 8
      val root = ScratchDirs("q41")
      val transcripts = Transcripts.synthesize(s, n, seed = 77L).toDF()
      materialize(transcripts.select("conv_id", "turn_idx"), "q41_expected")
      graft.spark.TranscriptTable.write(transcripts, root, nBuckets,
        snapshotId = 1L, layout = "range")
      // bounds/points picked by RANK over the distinct conv ids, mirrored
      // exactly by the oracle SQL (n is bounded, so the collect is small)
      val ids = transcripts.select("conv_id").distinct()
        .collect().map(_.getString(0)).sorted
      val lo = ids(5)
      val hi = ids(20)
      val pts = Seq(ids(1), ids((ids.length + 1) / 2 - 1), ids(ids.length - 2)).distinct
      val (selR, totR) = graft.spark.TranscriptTable.selectFilesForRange(root, 1L, lo, hi)
      require(selR.length < totR / 2,
        s"range pruning too weak: ${selR.length} of $totR files selected")
      val (selP, totP) = graft.spark.TranscriptTable.selectFilesForIds(root, 1L, pts)
      require(selP.length < totP / 2,
        s"point pruning too weak: ${selP.length} of $totP files selected")
      val range = graft.spark.TranscriptTable.readConvIdRange(s, root, lo, hi)
        .agg(count(lit(1)).as("range_rows"),
          countDistinct(col("conv_id")).as("range_convs"))
      val points = graft.spark.TranscriptTable.readConvIds(s, root, pts)
        .agg(count(lit(1)).as("point_rows"))
      val totals = graft.spark.TranscriptTable.read(s, root)
        .agg(count(lit(1)).as("total_rows"))
      range.crossJoin(points).crossJoin(totals)
        .select(col("range_rows").cast("bigint"), col("range_convs").cast("bigint"),
          col("point_rows").cast("bigint"), col("total_rows").cast("bigint"))
    }),
    "q37_skew_stress" -> ((s, dir) => {
      // Skew-stress attestation: every conversation hashing into bucket 0
      // carries 50x the turns (planted via the Spark-compatible bucket
      // hash, TranscriptTable.bucketOf), so ONE bucket holds the bulk of the
      // corpus — the long-conversation skew the north rule calls out, in
      // its worst layout. The table write salts each bucket into several
      // files and extraction parallelism is per-turn, so the checkpointed
      // extract must still produce exactly the golden per-bucket counts.
      // The oracle recomputes them from the materialized bucket mapping
      // joined with golden line counts; the wall-time flatness evidence
      // (skewed vs uniform layout at equal turns) lives in
      // the skew-stress section of BENCH/BASELINE.md.
      val n = math.min(nConvsFor(dir), 400L)
      val (transcripts, goldens) = frames(
        Transcripts.corpus(s, n)(Transcripts.skewedTurnsFor(42L, _, 8, 8, 50)))
      checkpointAttest(s, "q37", transcripts, goldens, nBuckets = 8) { extract =>
        require(extract().turns > 0, "skew corpus extracted no turns")
      }
    }),
    "q36_time_travel" -> ((s, dir) => {
      // Iceberg-style snapshot time travel: write snapshot 1, overwrite
      // ONE bucket in snapshot 2 (the old bucket's files stay on disk,
      // the new manifest swaps in the replacement files), then read the
      // table AT snapshot 1 — counts must match the original write —
      // and at the current snapshot — the overwritten bucket doubled,
      // every other bucket byte-identical. A compaction pass then
      // bin-packs the current snapshot into snapshot 3 (fewer files,
      // identical aggregates, requires-pinned), and
      // expireSnapshots(keep=3) garbage-collects snapshots 1 and 2 —
      // both become unreadable while the compacted snapshot, whose
      // manifest references only its own rewritten files, still
      // resolves. The oracle recomputes both original snapshots' counts
      // from the materialized bucket mapping (collected eagerly before
      // the expire).
      val n = math.min(nConvsFor(dir), 200L)
      val nBuckets = 8
      val root = ScratchDirs("q36")
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      materialize(transcripts.select(col("conv_id"), col("turn_idx"),
        graft.spark.TranscriptTable.bucketCol(nBuckets).as("bucket")),
        "q36_expected")
      graft.spark.TranscriptTable.write(transcripts, root, nBuckets, snapshotId = 1L)
      // overwrite bucket 0 with its own rows doubled (deterministic delta)
      val b0 = transcripts
        .withColumn("b", graft.spark.TranscriptTable.bucketCol(nBuckets))
        .filter(col("b") === 0).drop("b")
      graft.spark.TranscriptTable.overwriteBucket(
        b0.unionByName(b0), root, bucket = 0, newSnapshotId = 2L)
      def stats(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_bucket0"))
        .head()
      // EAGER evaluation: the result rows must be collected before
      // expireSnapshots deletes the files a lazy plan would re-scan.
      // The two snapshot stats and the cross-snapshot drift check are
      // independent reads of committed snapshots — overlap them
      // (guide §2.6)
      // non-overwritten buckets must be byte-identical across snapshots.
      // Round 6 checked this with exceptAll — a full shuffle of BOTH
      // snapshots just to prove emptiness. The digest below is the
      // verifyByHash trade (map-side-combinable aggregate, no exchange of
      // data rows): rows are unique by (conv_id, turn_idx), so comparing
      // (count, bit_xor(h)) over xxhash64 of every compared column
      // detects any multiset difference up to a ~2^-64 collision — the
      // same contract the engine's scale-path verification uses (sum(h)
      // would strengthen it but overflows under ANSI mode, Spark 4's
      // default). At table scale this turns a 2x-table shuffle into two
      // scans.
      val cols = Seq("conv_id", "turn_idx", "role", "text", "tool")
      def bucketDigest(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("bucket") =!= 0)
        .select(xxhash64(cols.map(col): _*).as("lh"))
        .agg(count(lit(1)), expr("bit_xor(lh)"))
        .head()
      val Seq(r1: Row, r2: Row, (d1: Row, d2: Row)) = DriverJobs.run(3, Seq(
        () => stats(graft.spark.TranscriptTable.readAt(s, root, 1L)),
        () => stats(graft.spark.TranscriptTable.read(s, root)),
        () => (bucketDigest(graft.spark.TranscriptTable.readAt(s, root, 1L)),
          bucketDigest(graft.spark.TranscriptTable.read(s, root)))))
      require(d1 == d2, s"non-overwritten buckets drifted: $d1 vs $d2")
      // maintenance pass: bin-pack the current snapshot into snapshot 3
      // (Iceberg rewrite_data_files) — fewer files, identical aggregates
      val filesBefore = graft.spark.TranscriptTable.readManifest(root, 2L).length
      graft.spark.TranscriptTable.compact(s, root, newSnapshotId = 3L,
        filesPerBucket = 1)
      val filesAfter = graft.spark.TranscriptTable.readManifest(root, 3L).length
      require(filesAfter < filesBefore,
        s"compaction did not reduce files: $filesBefore -> $filesAfter")
      val r3 = stats(graft.spark.TranscriptTable.read(s, root))
      require(r3 == r2, s"compaction changed contents: $r3 vs $r2")
      graft.spark.TranscriptTable.expireSnapshots(root, keep = Set(3L))
      val r2post = stats(graft.spark.TranscriptTable.read(s, root))
      require(r2post == r2, s"current snapshot changed after expire: $r2post vs $r2")
      require(scala.util.Try(
        graft.spark.TranscriptTable.readAt(s, root, 1L)).isFailure,
        "expired snapshot 1 must no longer resolve")
      require(scala.util.Try(
        graft.spark.TranscriptTable.readAt(s, root, 2L)).isFailure,
        "expired snapshot 2 must no longer resolve")
      import s.implicits._
      Seq((1L, r1.getLong(0), r1.getLong(1)), (2L, r2.getLong(0), r2.getLong(1)))
        .toDF("snap", "n_rows", "n_bucket0").orderBy(col("snap"))
    }),
    "q23b_stream_watermark" -> ((s, dir) => {
      // watermarked event-time windowed aggregation over the extraction
      // stream, parquet sink, AvailableNow. Append mode only emits windows
      // CLOSED by the final watermark (max event time - 2h), so the oracle
      // recomputes the same windows + the same cutoff rule in SQL from the
      // materialized generator-derived expectation.
      val n = math.min(nConvsFor(dir), 100L)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      materialize(expectedLines(transcripts, Transcripts.goldens(s, n, seed = 42L).toDF(),
        col("ts"), Pipeline.formatOfTool.as("format")), "q23b_expected")
      val stream = new StreamDriver(s, "q23b")(in =>
        StreamingExtract.windowedCounts(StreamingExtract.extractedStream(in)))
      stream.land(transcripts).run()
      stream.output
        .select(col("window.start").as("win_start"), col("format"),
          col("turns").cast("bigint").as("turns"),
          col("lines").cast("bigint").as("lines"))
        .orderBy(col("win_start"), col("format"))
    }),
    "q31_stream_sessions" -> ((s, dir) => {
      // event-time sessionization (flatMapGroupsWithState +
      // EventTimeTimeout): a conversation's session row emits once the
      // final watermark (max ts - 2h) strictly passes last_ts + 90min.
      // The oracle recomputes per-conv aggregates + the same strict
      // cutoff from golden-derived expectations; session line counts
      // come from extraction, so a wrong extraction is a red row.
      val n = math.min(nConvsFor(dir), 100L)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      materialize(expectedLines(transcripts, Transcripts.goldens(s, n, seed = 42L).toDF(),
        col("ts")), "q31_expected")
      val stream = new StreamDriver(s, "q31")(in =>
        StreamingExtract.sessionizedStream(StreamingExtract.extractedStream(in)).toDF())
      stream.land(transcripts).run()
      stream.output
        .select(col("conv_id"), col("turns").cast("bigint").as("turns"),
          col("lines").cast("bigint").as("lines"),
          col("first_ts"), col("last_ts"))
        .orderBy(col("conv_id"))
    }),
    "q42_stream_restart" -> ((s, dir) => {
      // Exactly-once restart: drain HALF the input with an AvailableNow
      // run, stop, land the second half, then RESTART the same query
      // from the SAME checkpoint + sink. The restarted run must process
      // only the new files (checkpointed source offsets) and the sink
      // union must equal one continuous run — no duplicated turns (file
      // sink transaction log), no gaps. This is the operational property
      // a 10^12-turn backfill leans on: a stopped/failed job resumes
      // without reprocessing or double-writing. The requires pin the
      // restart semantics; the oracle pins the end state (per-turn totals
      // over the WHOLE corpus from the generator goldens).
      val n = math.min(nConvsFor(dir), 100L)
      val halves = Transcripts.synthesize(s, n, seed = 42L).toDF()
        .withColumn("half", pmod(xxhash64(col("conv_id")), lit(2)))
      def half(h: Int) = halves.filter(col("half") === h).drop("half")
      materialize(Transcripts.goldens(s, n, seed = 42L).toDF()
        .groupBy(col("conv_id"), col("turn_idx"))
        .agg(count(lit(1)).as("g_lines")), "q42_expected")
      val stream = new StreamDriver(s, "q42")(StreamingExtract.extractedStream)
      val in1 = stream.land(half(0)).run("q42_run1")
      // the second half lands while the query is DOWN
      val in2 = stream.land(half(1), "append").run("q42_run2")
      require(in1 > 0 && in2 > 0, s"both runs must process data: $in1 / $in2")
      // total input rows from the landed files (parquet metadata count)
      // instead of re-running the generator lineage — same value
      require(in2 < stream.input.count(),
        s"restart reprocessed old input: $in2 rows in run 2")
      val sink = stream.output
      val dupes = sink.groupBy(col("conv_id"), col("turn_idx"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      require(dupes == 0L, s"$dupes turns duplicated across the restart")
      sink.agg(count(lit(1)).cast("bigint").as("n_turns"),
        coalesce(sum(col("n_lines")), lit(0L)).cast("bigint").as("n_lines"))
    }),
    "q43_incremental" -> ((s, dir) => {
      // Iceberg-style incremental append scan over snapshot lineage:
      // write batch 1 (snapshot 1), fast-APPEND batches 2 and 3
      // (snapshots 2/3 — existing files untouched, manifest grows), then
      // read each window's DELTA through the parent chain: (1->2) =
      // batch 2, (2->3) = batch 3, (1->3) = batches 2+3, (3->3) = empty;
      // the full read sees all three. This keeps a downstream sync
      // O(delta) instead of O(table) at 10^12 turns. An OVERWRITE
      // snapshot 4 then breaks appendability: incremental reads crossing
      // it must refuse (no row-level delta at file granularity), pinned
      // by requires. The oracle recomputes every window from the
      // materialized per-batch row mapping.
      val n = math.min(nConvsFor(dir), 150L)
      val root = ScratchDirs("q43")
      val tt = graft.spark.TranscriptTable
      val b1 = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val b2 = Transcripts.synthesize(s, math.max(1L, n / 2), seed = 4301L).toDF()
      val b3 = Transcripts.synthesize(s, math.max(1L, n / 4), seed = 4302L).toDF()
      materialize(tagged(b1, 1).unionByName(tagged(b2, 2)).unionByName(tagged(b3, 3)),
        "q43_expected")
      tt.write(b1, root, nBuckets = 8, snapshotId = 1L)
      // small appends land 1 file per bucket (guide §6: no small-files
      // fan-out); the delta windows below then open 8 files, not 32
      tt.append(b2, root, newSnapshotId = 2L, filesPerBucket = 1)
      tt.append(b3, root, newSnapshotId = 3L, filesPerBucket = 1)
      // the five window scans are independent reads of committed
      // snapshots — overlap them (guide §2.6) instead of paying five
      // sequential fixed job costs
      val Seq(w12, w23, w13, w33, full) = DriverJobs.run(5, Seq(
        () => rowsAndConvs(tt.incrementalRead(s, root, 1L, 2L)),
        () => rowsAndConvs(tt.incrementalRead(s, root, 2L, 3L)),
        () => rowsAndConvs(tt.incrementalRead(s, root, 1L, 3L)),
        () => rowsAndConvs(tt.incrementalRead(s, root, 3L, 3L)),
        () => rowsAndConvs(tt.read(s, root))))
      // snapshot 4 overwrites bucket 0 — delta scans crossing it refuse
      val bucket0 = b1.withColumn("b", tt.bucketCol(8)).filter(col("b") === 0).drop("b")
      tt.overwriteBucket(bucket0.unionByName(bucket0), root, bucket = 0,
        newSnapshotId = 4L)
      require(scala.util.Try(tt.incrementalRead(s, root, 1L, 4L)).isFailure,
        "incremental read across an overwrite snapshot must refuse")
      require(scala.util.Try(tt.incrementalRead(s, root, 3L, 4L)).isFailure,
        "incremental read ending at an overwrite snapshot must refuse")
      require(scala.util.Try(tt.incrementalRead(s, root, 3L, 1L)).isFailure,
        "a lineage walk that never reaches `from` must refuse")
      import s.implicits._
      Seq(("full", full), ("w12", w12), ("w13", w13), ("w23", w23), ("w33", w33))
        .map { case (w, (r, c)) => (w, r, c) }
        .toDF("win", "n_rows", "n_convs").orderBy(col("win"))
    }),
    "q44_metadata_tables" -> ((s, dir) => {
      // Iceberg-style METADATA tables over the snapshot/manifest layer:
      // `snapshots` (lineage + operation + footer-stat file/row totals),
      // `files` (per-file skipping stats) and `history` (ancestor chain).
      // Lifecycle: write → append → append → compact(replace); the oracled
      // output is one row per snapshot (operation + n_rows) where n_rows
      // comes from the MANIFEST's footer-collected stats and the oracle
      // recomputes it from the materialized per-batch row mapping — so a
      // green row attests the metadata layer's stats agree with the data
      // that actually landed. Cross-table invariants (files↔snapshots
      // totals, history chain order, compaction shrinking files but not
      // rows, expire semantics) are require-pinned.
      val n = math.min(nConvsFor(dir), 120L)
      val root = ScratchDirs("q44")
      val tt = graft.spark.TranscriptTable
      val b1 = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val b2 = Transcripts.synthesize(s, math.max(1L, n / 2), seed = 4401L).toDF()
      val b3 = Transcripts.synthesize(s, math.max(1L, n / 4), seed = 4402L).toDF()
      materialize(tagged(b1, 1).unionByName(tagged(b2, 2)).unionByName(tagged(b3, 3)),
        "q44_expected")
      tt.write(b1, root, nBuckets = 8, snapshotId = 1L, filesPerBucket = 2)
      // small appends land 1 file per bucket (guide §6: no small-files
      // fan-out) — compaction still strictly shrinks the file count
      tt.append(b2, root, newSnapshotId = 2L, filesPerBucket = 1)
      tt.append(b3, root, newSnapshotId = 3L, filesPerBucket = 1)
      tt.compact(s, root, newSnapshotId = 4L, filesPerBucket = 1)
      // the snapshots read, the files↔snapshots cross-check and the
      // history walk are independent metadata queries — overlap them
      // (guide §2.6); the per-snapshot files aggregation is ONE job over
      // the unioned files tables instead of one job per snapshot
      val Seq(snapsRaw, aggRows, hist) = DriverJobs.run(3, Seq(
        () => tt.snapshotsTable(s, root).collect(),
        () => (1L to 4L).map(id => tt.filesTable(s, root, Some(id)))
          .reduce(_.unionByName(_))
          .groupBy(col("snapshot_id"))
          .agg(coalesce(sum(col("row_count")), lit(0L)).as("rows"),
            count(lit(1)).as("files"))
          .collect(),
        () => tt.historyTable(s, root).collect()))
      val snapRows = snapsRaw.sortBy(_.getLong(0))
      val fileAggs = aggRows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      require(snapRows.map(_.getLong(0)).toVector == Vector(1L, 2L, 3L, 4L),
        "snapshots table must list every live snapshot")
      // files ↔ snapshots consistency, per snapshot
      snapRows.foreach { r =>
        val id = r.getLong(0)
        val (aggRows, aggFiles) = fileAggs.getOrElse(id, (0L, 0L))
        require(aggRows == r.getLong(r.fieldIndex("n_rows")),
          s"files table rows for snapshot $id disagree with snapshots table")
        require(aggFiles == r.getLong(r.fieldIndex("n_files")),
          s"files table count for snapshot $id disagrees with snapshots table")
      }
      // compaction rewrote the same rows into fewer files
      val byId = snapRows.map(r => r.getLong(0) -> r).toMap
      require(byId(4L).getLong(byId(4L).fieldIndex("n_files")) <
        byId(3L).getLong(byId(3L).fieldIndex("n_files")),
        "compaction must shrink the file count")
      require(snapRows.map(r => r.getBoolean(r.fieldIndex("is_current"))).toVector ==
        Vector(false, false, false, true), "only the newest snapshot is current")
      // history: ancestor chain, current first
      require(hist.map(_.getLong(0)).toVector == Vector(4L, 3L, 2L, 1L),
        "history must walk the parent chain from current")
      require(hist.map(r => r.getBoolean(r.fieldIndex("is_current"))).toVector ==
        Vector(true, false, false, false), "history marks only current")
      // the oracled OUTPUT is collected above; expire must not disturb it,
      // and the metadata tables must track the shrunken table
      tt.expireSnapshots(root, keep = Set(3L, 4L))
      require(tt.snapshotIds(root) == Vector(3L, 4L),
        "expire must drop snapshots 1 and 2")
      val Seq(histPost, snapsPost) = DriverJobs.run(2, Seq(
        () => tt.historyTable(s, root).count(), () => tt.snapshotsTable(s, root).count()))
      require(histPost == 2L, "history stops at an expired parent")
      require(snapsPost == 2L,
        "snapshots table lists only live snapshots after expire")
      import s.implicits._
      snapRows.toVector
        .map(r => (r.getLong(0), r.getString(r.fieldIndex("operation")),
          r.getLong(r.fieldIndex("n_rows"))))
        .toDF("snapshot_id", "operation", "n_rows").orderBy(col("snapshot_id"))
    }),
    "q45_cow_delete" -> ((s, dir) => {
      // copy-on-write row-level delete: build write → append, pick the 3
      // smallest conv ids (deterministic, so the oracle can re-derive the
      // SAME set from the materialized mapping), deleteConvIds → new
      // snapshot. Stats-pruned rewrite: only candidate files (bucket +
      // min/max match) are rewritten, every other file carries into the
      // new manifest BY REFERENCE — require-pinned below, along with
      // time-travel to the pre-delete snapshot, incremental-scan refusal
      // across the delete, and the no-match refusal. The oracled output
      // (before/after/deleted row+conv counts, engine-read) is recomputed
      // by the oracle from the input mapping alone.
      val n = math.min(nConvsFor(dir), 120L)
      val root = ScratchDirs("q45")
      val tt = graft.spark.TranscriptTable
      val b1 = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val b2 = Transcripts.synthesize(s, math.max(1L, n / 2), seed = 4501L).toDF()
      materialize(b1.select(col("conv_id"), col("turn_idx"))
        .unionByName(b2.select(col("conv_id"), col("turn_idx"))), "q45_expected")
      tt.write(b1, root, nBuckets = 8, snapshotId = 1L, filesPerBucket = 2,
        layout = "range")
      // small appends land 1 file per bucket: fanning ~500 rows into 4
      // salted files per bucket is the small-files anti-pattern (guide §6)
      // and every downstream read/prune pays the extra opens
      tt.append(b2, root, newSnapshotId = 2L, filesPerBucket = 1)
      // ONE pass gives both the victim pick and the "before" counts: the
      // per-conversation row counts are at most `n` driver rows, and the
      // old shape (distinct+orderBy+limit, then count+countDistinct) read
      // the table twice for them. conv_ids are ASCII, so JVM string order
      // here == Spark UTF8/binary order == the oracle's ORDER BY.
      val perConv = tt.read(s, root).groupBy(col("conv_id"))
        .agg(count(lit(1)).as("c")).collect()
      val victims = perConv.map(_.getString(0)).sorted.take(3).toSeq
      val before = (perConv.map(_.getLong(1)).sum, perConv.length.toLong)
      val manifestBefore = tt.readManifest(root, 2L)
      val deletedRows = tt.deleteConvIds(s, root, victims, newSnapshotId = 3L)
      // the three post-delete attestations are independent reads of
      // committed snapshots — overlap them (guide §2.6); the victim
      // lookups go through the engine's own manifest pruning
      // (readConvIdsAt / readConvIds) instead of full-table scans —
      // pruning is conservative (stats only SKIP provably-clean files,
      // the membership filter stays on), so the counts are identical
      val Seq(after: (Long, Long) @unchecked, victimsAt2: Long, victimsNow: Long) =
        DriverJobs.run(3, Seq(
          () => rowsAndConvs(tt.read(s, root)),
          () => tt.readConvIdsAt(s, root, 2L, victims).count(),
          () => tt.readConvIds(s, root, victims).count()))
      // pruning did its job: most files carried over BY REFERENCE (path
      // identity), only stat-matching candidates were rewritten
      val (cands, totalFiles) = tt.selectFilesForIds(root, 2L, victims)
      require(cands.size < totalFiles,
        s"stats pruning must rewrite a strict subset (${cands.size}/$totalFiles)")
      val candPaths = cands.map(_.path).toSet
      val carried = manifestBefore.filterNot(f => candPaths(f.path)).map(_.path).toSet
      val after3 = tt.readManifest(root, 3L).map(_.path).toSet
      require(carried.subsetOf(after3),
        "non-candidate files must carry into the delete snapshot by reference")
      require(after3.intersect(candPaths).isEmpty,
        "rewritten candidate files must not remain in the new manifest")
      // deleted convs survive time-travel to the pre-delete snapshot
      require(victimsAt2 > 0L,
        "pre-delete snapshot must still hold the deleted conversations")
      require(victimsNow == 0L,
        "current read must not see deleted conversations")
      // a delete breaks append-chain deltas; a nonexistent id refuses
      require(scala.util.Try(tt.incrementalRead(s, root, 2L, 3L)).isFailure,
        "incremental read across a delete snapshot must refuse")
      require(scala.util.Try(
        tt.deleteConvIds(s, root, Seq("no-such-conv"), newSnapshotId = 4L)).isFailure,
        "deleting a nonexistent conv id must refuse, not commit a no-op")
      import s.implicits._
      Seq(("after", after._1, after._2), ("before", before._1, before._2),
        ("deleted", deletedRows, victims.size.toLong))
        .toDF("phase", "n_rows", "n_convs").orderBy(col("phase"))
    }),
    "q30_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup (dropDuplicatesWithinWatermark): plant exact
      // copies of 20 document turns under fresh conv ids, stream the lot,
      // and read the deduped parquet sink back grouped by format. The
      // surviving COPY of a duplicate is arrival-race-dependent, so the
      // comparison aggregates content-determined columns only; the oracle
      // recomputes COUNT(DISTINCT text) per format from the materialized
      // input — the two agree iff the stream kept exactly one row per
      // distinct content and dropped nothing else.
      val n = math.min(nConvsFor(dir), 100L)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      val dupes = transcripts.filter(Pipeline.isDocTurn)
        .orderBy(col("conv_id"), col("turn_idx")).limit(20)
        .withColumn("conv_id", concat(lit("dup_"), col("conv_id")))
      val all = transcripts.union(dupes.select(transcripts.columns.toIndexedSeq.map(col): _*))
      materialize(all.filter(Pipeline.isDocTurn)
        .select(Pipeline.formatOfTool.as("format"), col("text")), "q30_expected")
      val stream = new StreamDriver(s, "q30")(StreamingExtract.dedupedStream)
      stream.land(all).run()
      stream.output
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_unique"))
        .orderBy(col("format"))
    }),
    "q23_stream_windows" -> ((s, dir) => {
      // incremental extraction over a file stream, AvailableNow-triggered,
      // writing to a parquet SINK (scale path — nothing driver-side); the
      // batch read-back aggregates it. Oracle: per-turn golden line counts
      // + the turn's format, materialized from the generator.
      val n = math.min(nConvsFor(dir), 100L)
      val transcripts = Transcripts.synthesize(s, n, seed = 42L).toDF()
      materialize(expectedLines(transcripts, Transcripts.goldens(s, n, seed = 42L).toDF(),
        Pipeline.formatOfTool.as("format")), "q23_expected")
      val stream = new StreamDriver(s, "q23")(StreamingExtract.extractedStream)
      stream.land(transcripts).run()
      stream.output
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_turns"),
          sum(col("n_lines")).cast("bigint").as("n_lines"))
        .orderBy(col("format"))
    })
  )

  /** q16/q26 share one brute-force expectation over the planted-duplicate
    * corpus (see [[annDupCorpus]]): all ties are exact-equal cosines
    * resolved by corpus_id, so the SQL is engine-float-safe.
    */
  private val annDupOracle: String =
    """WITH cp AS (SELECT vec_id*10 + 1000000 + j AS vec_id, embedding
      |   FROM embeddings, UNNEST([0,1,2,3,4]) AS t(j) WHERE vec_id < 8),
      | a AS (SELECT vec_id, embedding FROM embeddings
      |   UNION ALL SELECT vec_id, embedding FROM cp),
      | q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |   FROM embeddings WHERE vec_id < 8),
      | s AS (SELECT query_id, a.vec_id AS corpus_id,
      |     list_cosine_similarity(qv, a.embedding::DOUBLE[]) AS sim
      |   FROM q, a WHERE a.vec_id <> query_id),
      | r AS (SELECT query_id, corpus_id,
      |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank FROM s)
      | SELECT query_id, CAST(rank AS BIGINT) AS rank, corpus_id FROM r
      | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", "")

  def oracleSql: Map[String, String] =
    baseOracles ++ Seq("q16_ann_lsh", "q26_ann_ivf").map(_ -> annDupOracle)

  private val baseOracles: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        | COUNT(*) AS n_rows, MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", ""),
    "q02_filter_pushdown" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        | FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", ""),
    "q03_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders, MIN(o_orderkey) AS min_ok
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", ""),
    "q04_join_4way" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin.replace("\n", ""),
    "q05_window_running" ->
      """SELECT event_id, user_id,
        | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        | COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", ""),
    "q06_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events)
        | SELECT user_id, CAST(1 + SUM(CASE WHEN date_diff('second', prev_ts, ts) > 3600
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        | FROM g GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", ""),
    "q07_topk_parts" ->
      "SELECT p_partkey, p_name FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10",
    "q08_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        | COUNT(DISTINCT l_partkey) AS n_part
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", ""),
    "q21_json_props" ->
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", ""),
    "q09_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        | FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin.replace("\n", ""),
    "q10_tokens" ->
      """SELECT doc_id, length(text) AS n_chars2,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", ""),
    "q11_quality" ->
      """SELECT doc_id, length(text) AS n_chars2,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | length(text) - length(replace(text, ' the ', '')) AS stop_len,
        | length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowels
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", ""),
    "q20_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", ""),
    "q25_regex_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        | AS n_regex_tokens FROM documents ORDER BY doc_id""".stripMargin.replace("\n", ""),

    // ---- {MAT} oracles: DuckDB re-derives the expectation from the
    // materialized ground truth (goldens / signatures / synth metadata) --
    "q12_langid" ->
      // independent SQL re-implementation of the LangId.detect heuristic
      // (TextOps.scala LangId): CJK-density gate, then stopword-count
      // argmax in fixed order en,de,fr,es with earlier-wins ties, und if 0
      """WITH d AS (SELECT doc_id, lang AS lang_label, substr(text,1,2000) AS t2 FROM documents),
        | c AS (SELECT *, length(regexp_replace(t2,'\s','','g')) AS total,
        |   length(regexp_replace(t2,'[^\x{4e00}-\x{9fff}]','','g')) AS cjk FROM d),
        | tok AS (SELECT *, regexp_split_to_array(trim(lower(t2)), '\s+') AS w FROM c),
        | sc AS (SELECT doc_id, lang_label, total, cjk,
        |  len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that','it','was','he','she','you','with'], x))) AS s_en,
        |  len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein','eine','zu','mit','nicht','ich','sie','auf'], x))) AS s_de,
        |  len(list_filter(w, x -> list_contains(['le','la','les','et','est','un','une','de','du','pas','je','vous','avec'], x))) AS s_fr,
        |  len(list_filter(w, x -> list_contains(['el','la','los','las','y','es','un','una','de','del','no','que','con'], x))) AS s_es
        |  FROM tok)
        | SELECT doc_id, CASE WHEN total > 0 AND cjk*5 >= total THEN 'zh'
        |  WHEN greatest(s_en,s_de,s_fr,s_es) <= 0 THEN 'und'
        |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred, lang_label
        | FROM sc ORDER BY doc_id""".stripMargin.replace("\n", ""),
    "q13_minhash_pairs" ->
      // exhaustive exact-Jaccard over the same 3-word-shingle definition
      // (MinHash.exactJaccard): the LSH candidate pipeline must find every
      // pair at threshold 0.7
      """WITH docs AS (SELECT doc_id AS id, text FROM documents
        |   UNION ALL SELECT doc_id+1000000, text || ' tail marker' FROM documents),
        | tk AS (SELECT id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM docs),
        | sh AS (SELECT DISTINCT id, CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
        |     ELSE array_to_string(w[i:i+2], ' ') END AS s
        |   FROM tk, UNNEST(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
        | sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        | ix AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
        | j AS (SELECT id_a, id_b, i::DOUBLE / (sa.n + sb.n - i) AS jaccard
        |   FROM ix JOIN sz sa ON sa.id = ix.id_a JOIN sz sb ON sb.id = ix.id_b)
        | SELECT id_a, id_b, CAST(round(jaccard*100) AS BIGINT) AS jaccard_pct
        | FROM j WHERE jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin.replace("\n", ""),
    "q14_simhash_pairs" ->
      // brute-force all-pairs hamming over the materialized fingerprints:
      // the 4x16-bit banding must find exactly these pairs
      """WITH f AS (SELECT id, fp FROM read_parquet('{MAT}/q14_fps/*.parquet'))
        | SELECT a.id AS id_a, b.id AS id_b,
        |   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        | FROM f a JOIN f b ON a.id < b.id
        | WHERE bit_count(xor(a.fp, b.fp)) <= 3 ORDER BY id_a, id_b""".stripMargin.replace("\n", ""),
    "q15_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT query_id, e.vec_id AS corpus_id,
        |     list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS sim
        |   FROM q, embeddings e WHERE e.vec_id <> query_id),
        | r AS (SELECT query_id, corpus_id,
        |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank FROM s)
        | SELECT query_id, CAST(rank AS BIGINT) AS rank, corpus_id FROM r
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", ""),
    "q17_extract_lines" ->
      (s"""WITH g AS (SELECT $kindToTypeSql AS type
        | FROM read_parquet('{MAT}/q17_goldens/*.parquet'))
        | SELECT type, COUNT(*) AS n_lines FROM g GROUP BY type ORDER BY type""")
        .stripMargin.replace("\n", ""),
    "q18_extract_verify" ->
      """SELECT COUNT(*) AS n_turns, COUNT(*) AS n_turns_ok FROM
        | (SELECT DISTINCT conv_id, turn_idx
        |  FROM read_parquet('{MAT}/q18_goldens/*.parquet'))""".stripMargin.replace("\n", ""),
    "q18b_verify_lines" ->
      """SELECT COUNT(*) AS n_lines, COUNT(*) AS n_lines_ok
        | FROM read_parquet('{MAT}/q18b_goldens/*.parquet')""".stripMargin.replace("\n", ""),
    "q33_revisions" ->
      """SELECT name, color, CAST(rank AS BIGINT) AS rank,
        | COUNT(*) AS n_turns, CAST(SUM(n_spans) AS BIGINT) AS n_spans
        | FROM read_parquet('{MAT}/q33_goldens/*.parquet')
        | GROUP BY name, color, rank ORDER BY name, color, rank""".stripMargin.replace("\n", ""),
    "q34_line_number_vote" ->
      """SELECT type, side_left, side_right, COUNT(*) AS n_turns
        | FROM read_parquet('{MAT}/q34_goldens/*.parquet')
        | GROUP BY type, side_left, side_right
        | ORDER BY type, side_left, side_right""".stripMargin.replace("\n", ""),
    "q32_dual_verify" ->
      // every turn must verify (hash includes column/has_dual/is_dual);
      // n_dual_turns recomputed from the golden has_dual flags must match
      // the count derived from the EXTRACTED flags on the Spark side
      """WITH t AS (SELECT conv_id, turn_idx,
        |     MAX(CASE WHEN has_dual THEN 1 ELSE 0 END) AS hd
        |   FROM read_parquet('{MAT}/q32_goldens/*.parquet')
        |   GROUP BY conv_id, turn_idx)
        | SELECT COUNT(*) AS n_turns, COUNT(*) AS n_turns_ok,
        |   CAST(SUM(hd) AS BIGINT) AS n_dual_turns FROM t""".stripMargin.replace("\n", ""),
    "q35_cross_verify" ->
      // every turn must verify (hash covers content + dual meta + per-line
      // revision spans + attrs; rev table, vote table and CONTINUED flags
      // compared alongside); the n_dual/n_rev/n_cont counts recomputed
      // from the goldens must match the EXTRACTED-side counts
      """WITH t AS (SELECT conv_id, turn_idx,
        |     MAX(CASE WHEN has_dual THEN 1 ELSE 0 END) AS hd,
        |     MAX(CASE WHEN rev_table <> '' THEN 1 ELSE 0 END) AS rv,
        |     MAX(CASE WHEN cont_top THEN 1 ELSE 0 END) AS ct
        |   FROM read_parquet('{MAT}/q35_goldens/*.parquet')
        |   GROUP BY conv_id, turn_idx)
        | SELECT COUNT(*) AS n_turns, COUNT(*) AS n_turns_ok,
        |   CAST(SUM(hd) AS BIGINT) AS n_dual_turns,
        |   CAST(SUM(rv) AS BIGINT) AS n_rev_turns,
        |   CAST(SUM(ct) AS BIGINT) AS n_cont_turns FROM t""".stripMargin.replace("\n", ""),
    "q39_boilerplate" ->
      // every document's extracted main-content blocks must hash-match
      // the construction-derived goldens; counts recomputed from goldens
      """WITH g AS (SELECT doc_id, COUNT(*) AS blocks
        |   FROM read_parquet('{MAT}/q39_goldens/*.parquet')
        |   GROUP BY doc_id)
        | SELECT COUNT(*) AS n_docs, COUNT(*) AS n_docs_ok,
        |   CAST(SUM(blocks) AS BIGINT) AS n_blocks FROM g""".stripMargin.replace("\n", ""),
    "q38_pdf_lexer" ->
      // every turn must verify against the generator-derived goldens, and
      // every extracted turn must report format 'pdf' (n_pdf_turns ==
      // n_turns — recomputed as the golden turn count)
      """WITH t AS (SELECT conv_id, turn_idx
        |   FROM read_parquet('{MAT}/q38_goldens/*.parquet')
        |   GROUP BY conv_id, turn_idx)
        | SELECT COUNT(*) AS n_turns, COUNT(*) AS n_turns_ok,
        |   COUNT(*) AS n_pdf_turns FROM t""".stripMargin.replace("\n", ""),
    "q40_pdf_modern" ->
      // identical contract to q38 over the modern (ObjStm + xref-stream)
      // serialization of the same documents
      """WITH t AS (SELECT conv_id, turn_idx
        |   FROM read_parquet('{MAT}/q40_goldens/*.parquet')
        |   GROUP BY conv_id, turn_idx)
        | SELECT COUNT(*) AS n_turns, COUNT(*) AS n_turns_ok,
        |   COUNT(*) AS n_pdf_turns FROM t""".stripMargin.replace("\n", ""),
    "q42_stream_restart" ->
      // the sink after stop + restart must hold exactly the whole
      // corpus's turns once: totals recomputed from the per-turn goldens
      """SELECT COUNT(*) AS n_turns,
        |   CAST(SUM(g_lines) AS BIGINT) AS n_lines
        | FROM read_parquet('{MAT}/q42_expected/*.parquet')""".stripMargin
        .replace("\n", ""),
    "q43_incremental" ->
      // each incremental window's delta recomputed from the per-batch
      // row mapping: w12 = batch 2, w23 = batch 3, w13 = batches 2+3,
      // w33 = empty, full = everything
      """WITH m AS (SELECT conv_id, batch
        |   FROM read_parquet('{MAT}/q43_expected/*.parquet'))
        | SELECT 'full' AS win, COUNT(*) AS n_rows,
        |   COUNT(DISTINCT conv_id) AS n_convs FROM m
        | UNION ALL SELECT 'w12', COUNT(*), COUNT(DISTINCT conv_id)
        |   FROM m WHERE batch = 2
        | UNION ALL SELECT 'w13', COUNT(*), COUNT(DISTINCT conv_id)
        |   FROM m WHERE batch IN (2, 3)
        | UNION ALL SELECT 'w23', COUNT(*), COUNT(DISTINCT conv_id)
        |   FROM m WHERE batch = 3
        | UNION ALL SELECT 'w33', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        | ORDER BY win""".stripMargin.replace("\n", ""),
    "q44_metadata_tables" ->
      // per-snapshot row totals recomputed from the per-batch mapping:
      // snapshot k (append chain) holds batches 1..k; snapshot 4 is the
      // compaction REPLACE of snapshot 3 (same rows, fewer files). The
      // operations are the expected lifecycle contract, literal-encoded.
      """WITH m AS (SELECT batch FROM read_parquet('{MAT}/q44_expected/*.parquet')),
        | ops(snapshot_id, operation, upto) AS (VALUES
        |   (1, 'append', 1), (2, 'append', 2),
        |   (3, 'append', 3), (4, 'replace', 3))
        | SELECT CAST(ops.snapshot_id AS BIGINT) AS snapshot_id, ops.operation,
        |   (SELECT COUNT(*) FROM m WHERE m.batch <= ops.upto) AS n_rows
        | FROM ops ORDER BY snapshot_id""".stripMargin.replace("\n", ""),
    "q45_cow_delete" ->
      // the deleted set is re-derived independently (3 smallest distinct
      // conv ids over the whole mapping); before/after/deleted counts
      // recomputed with plain filters — agreement attests the engine
      // deleted exactly those conversations and nothing else
      """WITH m AS (SELECT conv_id, turn_idx
        |   FROM read_parquet('{MAT}/q45_expected/*.parquet')),
        | del AS (SELECT conv_id FROM
        |   (SELECT DISTINCT conv_id FROM m ORDER BY conv_id LIMIT 3))
        | SELECT 'after' AS phase, COUNT(*) AS n_rows,
        |     COUNT(DISTINCT conv_id) AS n_convs FROM m
        |   WHERE conv_id NOT IN (SELECT conv_id FROM del)
        | UNION ALL SELECT 'before', COUNT(*), COUNT(DISTINCT conv_id) FROM m
        | UNION ALL SELECT 'deleted', COUNT(*), COUNT(DISTINCT conv_id) FROM m
        |   WHERE conv_id IN (SELECT conv_id FROM del)
        | ORDER BY phase""".stripMargin.replace("\n", ""),
    "q41_data_skipping" ->
      // mirrors the Spark side's rank-picked bounds: range = rows whose
      // conv_id lies between the 6th and 21st distinct id (1-based rank),
      // points = ranks {2, (n+1)/2, n-1}; recomputed with plain WHEREs
      // over the materialized dump — a wrongly-skipped file mismatches
      """WITH e AS (SELECT conv_id, turn_idx
        |   FROM read_parquet('{MAT}/q41_expected/*.parquet')),
        | ids AS (SELECT conv_id, dense_rank() OVER (ORDER BY conv_id) AS rk
        |   FROM (SELECT DISTINCT conv_id FROM e)),
        | bounds AS (SELECT min(CASE WHEN rk = 6 THEN conv_id END) AS lo,
        |   min(CASE WHEN rk = 21 THEN conv_id END) AS hi,
        |   max(rk) AS nids FROM ids),
        | pts AS (SELECT DISTINCT conv_id FROM ids, bounds
        |   WHERE rk IN (2, (nids + 1) // 2, nids - 1))
        | SELECT
        |   (SELECT COUNT(*) FROM e, bounds
        |      WHERE conv_id BETWEEN lo AND hi) AS range_rows,
        |   (SELECT COUNT(DISTINCT conv_id) FROM e, bounds
        |      WHERE conv_id BETWEEN lo AND hi) AS range_convs,
        |   (SELECT COUNT(*) FROM e
        |      WHERE conv_id IN (SELECT conv_id FROM pts)) AS point_rows,
        |   (SELECT COUNT(*) FROM e) AS total_rows""".stripMargin.replace("\n", ""),
    "q36_time_travel" ->
      // snapshot 1 = the original write; snapshot 2 = bucket 0 doubled.
      // Recomputed from the materialized Spark-side bucket mapping (DuckDB
      // has no Spark-compatible xxhash64)
      """WITH m AS (SELECT
        |     COUNT(*) AS n, SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS b0
        |   FROM read_parquet('{MAT}/q36_expected/*.parquet'))
        | SELECT CAST(1 AS BIGINT) AS snap, CAST(n AS BIGINT) AS n_rows, CAST(b0 AS BIGINT) AS n_bucket0 FROM m
        | UNION ALL
        | SELECT CAST(2 AS BIGINT) AS snap, CAST(n + b0 AS BIGINT), CAST(2 * b0 AS BIGINT) FROM m
        | ORDER BY snap""".stripMargin.replace("\n", ""),
    "q19_char_rank" ->
      (s"""WITH g AS (SELECT conv_id, turn_idx, line_idx, $kindToTypeSql AS type, text
        |   FROM read_parquet('{MAT}/q19_goldens/*.parquet')),
        | d AS (SELECT *, last_value(CASE WHEN type='Character' THEN text END IGNORE NULLS)
        |     OVER (PARTITION BY conv_id, turn_idx ORDER BY line_idx
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS speaker FROM g)
        | SELECT speaker, COUNT(*) AS n_dialog, COUNT(DISTINCT conv_id) AS n_convs
        | FROM d WHERE type = 'Dialogue' AND speaker IS NOT NULL
        | GROUP BY speaker ORDER BY n_dialog DESC, speaker LIMIT 20""")
        .stripMargin.replace("\n", ""),
    "q24_speakers_split" ->
      (s"""WITH g AS (SELECT conv_id, turn_idx, line_idx, $kindToTypeSql AS type, text
        |   FROM read_parquet('{MAT}/q24_goldens/*.parquet')),
        | d AS (SELECT *, last_value(CASE WHEN type='Character' THEN text END IGNORE NULLS)
        |     OVER (PARTITION BY conv_id, turn_idx ORDER BY line_idx
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS heading FROM g),
        | x AS (SELECT s.speaker FROM d
        |   JOIN read_parquet('{MAT}/q24_split/*.parquet') s USING (heading)
        |   WHERE d.type = 'Dialogue')
        | SELECT speaker, COUNT(*) AS n_dialog FROM x
        | GROUP BY speaker ORDER BY n_dialog DESC, speaker LIMIT 20""")
        .stripMargin.replace("\n", ""),
    "q23_stream_windows" ->
      """SELECT format, COUNT(*) AS n_turns, CAST(SUM(g_lines) AS BIGINT) AS n_lines
        | FROM read_parquet('{MAT}/q23_expected/*.parquet')
        | GROUP BY format ORDER BY format""".stripMargin.replace("\n", ""),
    "q22_multimodal_stats" ->
      """SELECT kind, COUNT(*) AS n, CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
        | CAST(SUM(exp_frames) AS BIGINT) AS total_frames
        | FROM read_parquet('{MAT}/q22_expected/*.parquet')
        | GROUP BY kind ORDER BY kind""".stripMargin.replace("\n", ""),
    "q28_dedup_canonical" ->
      """SELECT doc_id, lang, n_chars FROM
        | (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", ""),
    "q27_embed_dup_pairs" ->
      // exhaustive >=0.95 cosine pairs over the planted-duplicate corpus
      """WITH cp AS (SELECT vec_id*10 + 1000000 + j AS vec_id, embedding
        |   FROM embeddings, UNNEST([0,1,2,3,4]) AS t(j) WHERE vec_id < 8),
        | a AS (SELECT vec_id, embedding FROM embeddings
        |   UNION ALL SELECT vec_id, embedding FROM cp)
        | SELECT x.vec_id AS id_a, y.vec_id AS id_b
        | FROM a x JOIN a y ON x.vec_id < y.vec_id
        | WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.95
        | ORDER BY id_a, id_b""".stripMargin.replace("\n", ""),
    "q29_bucketed_checkpoints" ->
      """SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_turns,
        | CAST(SUM(g_lines) AS BIGINT) AS n_lines
        | FROM read_parquet('{MAT}/q29_expected/*.parquet')
        | GROUP BY bucket ORDER BY bucket""".stripMargin.replace("\n", ""),
    "q37_skew_stress" ->
      """SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_turns,
        | CAST(SUM(g_lines) AS BIGINT) AS n_lines
        | FROM read_parquet('{MAT}/q37_expected/*.parquet')
        | GROUP BY bucket ORDER BY bucket""".stripMargin.replace("\n", ""),
    "q30_stream_dedup" ->
      """SELECT format, COUNT(DISTINCT text) AS n_unique
        | FROM read_parquet('{MAT}/q30_expected/*.parquet')
        | GROUP BY format ORDER BY format""".stripMargin.replace("\n", ""),
    "q31_stream_sessions" ->
      // same session rule recomputed in SQL: a conversation emits iff the
      // final watermark (max ts - 2h) STRICTLY passed last_ts + 90min
      """WITH e AS (SELECT conv_id, ts, g_lines
        |   FROM read_parquet('{MAT}/q31_expected/*.parquet')),
        | m AS (SELECT max(ts) AS mx FROM e),
        | c AS (SELECT conv_id, COUNT(*) AS turns,
        |     CAST(SUM(g_lines) AS BIGINT) AS lines,
        |     min(ts) AS first_ts, max(ts) AS last_ts FROM e GROUP BY conv_id)
        | SELECT conv_id, turns, lines, first_ts, last_ts FROM c, m
        | WHERE last_ts + INTERVAL 90 MINUTE < mx - INTERVAL 2 HOUR
        | ORDER BY conv_id""".stripMargin.replace("\n", ""),
    "q23b_stream_watermark" ->
      // same window + watermark-cutoff rule, recomputed in SQL: append
      // mode emits a window once the final watermark (max ts - 2h) has
      // passed its END
      """WITH e AS (SELECT ts, format, g_lines,
        |     date_trunc('hour', ts) AS win_start
        |   FROM read_parquet('{MAT}/q23b_expected/*.parquet')),
        | m AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM e)
        | SELECT win_start, format, COUNT(*) AS turns,
        |   CAST(SUM(g_lines) AS BIGINT) AS lines
        | FROM e, m WHERE win_start + INTERVAL 1 HOUR <= wm
        | GROUP BY win_start, format ORDER BY win_start, format""".stripMargin.replace("\n", "")
  )
}
