package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * beyond document-level dedup (Dedup.scala) and per-doc signals
  * (TextAnalysis.scala): cross-document duplicated-substring detection
  * (the "dedup at the substring level" of Lee et al. 2022, arXiv:2107.06499),
  * benchmark-contamination checks, token-budget shard packing, intra-document
  * repetition metrics (the Gopher repetition filters, arXiv:2112.11446 §A1.1),
  * and deterministic stratified sampling.
  *
  * Scale notes (the 100-TB shapes):
  *  - gram detection is groupBy on the gram key — map-side partial agg; the
  *    duplicated-gram SET is corpus-bounded and re-attaches via a semi-join,
  *    never an all-pairs join;
  *  - span merging windows only WITHIN one document (bounded by doc length);
  *  - shard packing is a distributed prefix sum: per-chunk totals (partial
  *    agg) -> O(#chunks) driver prefix -> per-chunk windows. No global
  *    single-task ORDER BY window anywhere;
  *  - sampling/repetition are pure column exprs / two-stage partial aggs.
  */
object CorpusOps {

  /** Whitespace tokens with empties dropped — one tokenizer for every op in
    * this file, mirrored verbatim by the DuckDB oracles
    * (`list_filter(string_split_regex(text, '\s+'), x -> x <> '')`). */
  private def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** (doc_id, p, h1, h2): every k-token shingle of every document with its
    * start position, keyed by a 128-bit gram hash (two salted xxhash64
    * halves). The downstream ops only ever test gram EQUALITY and emit
    * positions/counts, never the gram text, so the hash key is what
    * shuffles — ~6x narrower than the 8-token string at web scale.
    * Collision odds are ~n^2 / 2^128 (zero real risk at 10^12 grams); the
    * DuckDB oracles join on the gram strings themselves, so a collision
    * would surface as an oracle mismatch, not silent corruption. */
  private def grams(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("t")) - k),
          i => concat_ws(" ", slice(col("t"), i + lit(1), lit(k))))))
      .select(col("doc_id"), col("pos").cast("long").as("p"),
        xxhash64(lit("g1"), col("col")).as("h1"),
        xxhash64(lit("g2"), col("col")).as("h2"))

  /** Cross-document duplicated-substring spans (Lee et al. 2022): the
    * union of coverage of a document's duplicated k-grams (grams appearing
    * in at least `minDocs - 1` OTHER documents), merged into maximal
    * contiguous token spans. Returns (doc_id, span_start, span_end) in
    * token offsets, span_end exclusive — the spans a substring-level dedup
    * pass would cut. Note this is coverage-union semantics: a merged span's
    * INTERIOR grams (ones straddling two duplicated runs) need not
    * themselves be duplicated.
    *
    * Plan: grams -> distinct (doc, gram) -> groupBy gram (partial agg) ->
    * duplicated-gram set -> LEFT SEMI re-attach -> per-document window merge
    * of overlapping/adjacent gram starts (two grams chain iff the second
    * starts within k tokens of the first, i.e. their coverage is contiguous).
    * The only window is partitioned by doc_id — bounded by document length,
    * never by corpus-wide key frequency (the hot gram is handled in the
    * groupBy, which partial-aggregates). */
  def duplicatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    // pinned: the dup-set groupBy and the occurrence semi-join
    // both consume the gram frame, and without materialization each branch
    // re-runs the tokenize+shingle+hash pass — the dominant CPU cost (same
    // reasoning, and same fix, as Dedup.ngramJaccard's shingle pin)
    val g = Materialize.pin(grams(docs, k)).df
    // distinct FIRST: a gram repeated inside one doc must not count as
    // cross-document duplication
    val dup = g.select("doc_id", "h1", "h2").distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h1", "h2")
    val occ = g.join(dup, Seq("h1", "h2"), "left_semi").select("doc_id", "p")
    val w = Window.partitionBy("doc_id").orderBy("p")
    occ
      .withColumn("brk",
        when(lag(col("p"), 1).over(w).isNull ||
          col("p") > lag(col("p"), 1).over(w) + k, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("p")).as("span_start"), (max(col("p")) + k).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Benchmark-contamination check: training documents sharing at least one
    * k-gram with a benchmark/eval set. Returns (doc_id, n_shared_grams =
    * count of DISTINCT benchmark grams the doc contains). The benchmark gram
    * set is corpus-independent (eval suites are small) — Catalyst broadcasts
    * the build side on its own when it fits; the join stays an equi semi
    * shape either way. */
  def contamination(train: DataFrame, bench: DataFrame, k: Int = 8): DataFrame = {
    val benchGrams = grams(bench, k).select("h1", "h2").distinct()
    grams(train, k).select("doc_id", "h1", "h2").distinct()
      .join(benchGrams, Seq("h1", "h2"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Token-budget shard packing: assign documents, in doc_id order, to
    * training shards of `budget` tokens (a document lands in the shard its
    * running-total START offset falls in). The global running sum is the
    * distributed prefix-sum pattern, NOT a global ORDER BY window:
    *   1. chunk by value range (floor(doc_id / chunk) — deterministic, no
    *      sampling pass, preserves global order across chunks);
    *   2. per-chunk token totals via groupBy (map-side partial agg);
    *   3. O(#chunks) driver-side exclusive prefix — the only driver data is
    *      one row per chunk, and #chunks is BOUNDED: with the default
    *      `chunk = 0` the width is derived from the observed id span so the
    *      driver collects ≤ [[MaxChunks]] rows no matter the corpus size
    *      (at 10^12 docs a fixed width would itself collect corpus-scale
    *      driver state);
    *   4. per-chunk running sum (window bounded by chunk size) + offset.
    * Output (doc_id, n_toks, shard_id) is chunk-width-INVARIANT — the
    * prefix sums don't depend on where the chunk cuts fall — so the
    * auto-derivation never changes results, only the plan's driver state.
    * Density note: the span-derived width bounds #chunks by construction;
    * per-chunk row counts stay balanced when doc_ids are near-dense
    * (sequence numbers — the corpus contract here). A corpus with wildly
    * sparse ids should pass an explicit `chunk`. */
  def shardPack(docs: DataFrame, budget: Long, chunk: Long = 0L): DataFrame = {
    val c = if (chunk > 0) chunk else autoChunk(docs)
    shardIdsFromCounts(
      docs.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_toks"),
        expr(s"doc_id div ${c}L").as("cid")),
      budget)
  }

  /** Driver-collected prefix rows are capped at this many chunks. 65,536
    * (cid, ctoks) pairs ≈ 1 MB of driver state at any corpus size. */
  val MaxChunks: Long = 65536L

  /** Chunk width from the observed doc_id span: one cheap 2-scalar agg
    * (min/max push down to parquet footers), then width = span/MaxChunks
    * rounded up — #chunks ≤ MaxChunks by construction. */
  private[graft] def autoChunk(docs: DataFrame): Long = {
    val r = docs.agg(min("doc_id"), max("doc_id")).head()
    if (r.isNullAt(0)) 1L
    else math.max(1L, (r.getLong(1) - r.getLong(0)) / MaxChunks + 1L)
  }

  /** The prefix-sum core over a (doc_id, n_toks, cid) frame. The frame is
    * read by TWO jobs (chunk totals, then the windowed output), so it is
    * eagerly materialized first — otherwise a non-deterministic input
    * (sample(), changing source) could yield offsets from one scan applied
    * to rows of another, i.e. silently wrong shard ids. */
  private def shardIdsFromCounts(perDocIn: DataFrame, budget: Long): DataFrame = {
    val spark = perDocIn.sparkSession
    val perDoc = Materialize.pin(perDocIn).df
    val chunkTotals = perDoc.groupBy("cid").agg(sum("n_toks").as("ctoks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // exclusive prefix: chunk i's offset = sum of all earlier chunks' tokens
    var acc = 0L
    val offsets = chunkTotals.map { case (cid, n) => val o = (cid, acc); acc += n; o }.toSeq
    import spark.implicits._
    val offDf = offsets.toDF("cid", "coff")
    val w = Window.partitionBy("cid").orderBy("doc_id")
    perDoc.join(broadcast(offDf), Seq("cid"))
      .withColumn("start_off", sum(col("n_toks")).over(w) + col("coff") - col("n_toks"))
      .select(col("doc_id"), col("n_toks"),
        expr(s"start_off div ${budget}L").as("shard_id"))
  }

  /** Sequence packing — the step that turns a sharded corpus into
    * fixed-length training rows: concatenate each shard's documents' tokens
    * in doc_id order and cut the stream into `seqLen`-token sequences (the
    * last one per shard may be short; a real pipeline pads it). Returns
    * (shard_id, seq_idx, n_tokens, seq_md5) where seq_md5 fingerprints the
    * exact token sequence.
    *
    * Scale shape: packing happens AFTER [[shardPack]] bounded every shard to
    * `budget` tokens, so the per-shard collect_list/flatten is bounded by
    * budget + one document — a groupBy on shard_id with bounded state, never
    * a corpus-wide concatenation. */
  def packSequences(docs: DataFrame, budget: Long, seqLen: Int,
                    chunk: Long = 0L): DataFrame = {
    val c = if (chunk > 0) chunk else autoChunk(docs)
    // tokenize ONCE: shard assignment and stream assembly both derive from
    // this pinned token frame (naively composing shardPack + a token
    // join re-runs the whitespace split, the dominant per-row cost, 3x)
    val tk = Materialize.pin(docs.select(col("doc_id"), toks(col("text")).as("t"),
      expr(s"doc_id div ${c}L").as("cid"))).df
    val sharded = shardIdsFromCounts(
      tk.select(col("doc_id"), size(col("t")).cast("long").as("n_toks"), col("cid")),
      budget).select("doc_id", "shard_id")
    val stream = sharded.join(tk.select("doc_id", "t"), Seq("doc_id"))
      .groupBy("shard_id")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("doc_id"), col("t")))),
        s => s.getField("t"))).as("stream"))
      .filter(size(col("stream")) > 0)
    val nSeqs = ceil(size(col("stream")).cast("double") / seqLen).cast("int")
    stream
      .select(col("shard_id"),
        posexplode(transform(sequence(lit(0), nSeqs - 1),
          i => slice(col("stream"), i * seqLen + lit(1), lit(seqLen)))))
      .select(col("shard_id"), col("pos").cast("long").as("seq_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("col"))).as("seq_md5"))
  }

  /** Gopher-style intra-document repetition metrics (arXiv:2112.11446
    * §A1.1), integer-exact: per document, the total bigram count, the count
    * of the most frequent token bigram, and how many bigram occurrences
    * belong to bigrams seen more than once in the doc. Two groupBy stages,
    * both partial-agg; the quality filter itself is then a cheap predicate
    * (e.g. top_bigram_n / n_bigrams > 0.2 -> drop). */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val bigrams = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", slice(col("t"), i + lit(1), lit(2))))).as("g"))
    bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        max("n").as("top_bigram_n"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_rep_occ"))
  }

  /** Deterministic stratified sampling: keep a per-language quota of docs,
    * selected by a salted md5 of the doc id — reproducible across engines
    * and runs, no RNG state, embarrassingly parallel. `quotas` maps lang ->
    * keep-rate in basis points (per 10,000); absent langs use `defaultBp`.
    * The selector (first 12 md5 hex chars as an integer, mod 10,000) is
    * mirrored bit-exactly by the DuckDB oracle. */
  def stratifiedSample(docs: DataFrame, quotas: Map[String, Int],
                       defaultBp: Int = 0, salt: String = "strat:"): DataFrame = {
    val sel = conv(substring(md5(concat(lit(salt), col("doc_id").cast("string"))), 1, 12),
      16, 10).cast("long") % 10000L
    val quota = quotas.toSeq.sortBy(_._1).foldLeft(lit(defaultBp)) {
      case (acc, (lang, bp)) => when(col("lang") === lang, lit(bp)).otherwise(acc)
    }
    docs.filter(sel < quota).select("doc_id", "lang", "source")
  }

  /** Leakage-safe train/val/test assignment: the split is a function of the
    * GROUP key (source/domain), never the document — every document of one
    * group lands in the same split, so near-duplicates and templated pages
    * inside a group can never straddle the train/eval boundary (the
    * contamination mode d13 detects, prevented structurally). Same
    * cross-engine md5 selector as stratifiedSample; thresholds in basis
    * points: [0, trainBp) → train, [trainBp, trainBp+valBp) → val, rest →
    * test. Pure per-row column arithmetic — no shuffle at all. Returns the
    * input columns unchanged plus `split` — callers group by any key their
    * frame actually has (a fixed doc_id/lang projection broke frames
    * without those columns despite the generic groupCol signature). */
  def leakageSafeSplit(docs: DataFrame, groupCol: String = "source",
                       trainBp: Int = 8000, valBp: Int = 1000,
                       salt: String = "split:"): DataFrame = {
    require(trainBp >= 0 && valBp >= 0 && trainBp + valBp <= 10000,
      "leakageSafeSplit: basis points must fit in [0, 10000]")
    val sel = conv(substring(md5(concat(lit(salt), col(groupCol))), 1, 12),
      16, 10).cast("long") % 10000L
    docs.withColumn("split",
      when(sel < trainBp, "train")
        .when(sel < trainBp + valBp, "val")
        .otherwise("test"))
  }
}
