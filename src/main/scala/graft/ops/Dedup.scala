package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.store.TableIO
import graft.util.Materialize

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale shape for all near-dup variants: per-doc signature computed narrowly
  * (no shuffle), candidate generation via banding/blocking (one shuffle on
  * the band key — never an O(N²) cross join), verification only within
  * buckets. Bucket sizes are capped so one hot bucket (boilerplate text)
  * cannot quadratically blow up a task — the skew story is explicit.
  */
object Dedup {

  /** Exact dedup by content hash (hash-groupBy; partial agg map-side). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** The KEEP side of exact dedup — the filtered corpus a training
    * pipeline actually consumes: one representative row (min doc_id) per
    * content hash. Shaped as a semi join against the per-hash keeper, so
    * the full rows shuffle once on the content hash and nothing collects. */
  def exactKeep(docs: DataFrame): DataFrame = {
    val keepers = docs.groupBy(md5(col("text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
    docs.withColumn("_h", md5(col("text")))
      .join(keepers, Seq("_h", "doc_id"), "left_semi")
      .drop("_h")
  }

  /** Word n-gram shingle set as a column expression. A document with fewer
    * than n tokens has NO shingles (the old greatest(..,0) emitted one
    * truncated shingle, diverging from the natural n-gram definition). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    val idx = when(size(toks) < n, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(toks) - lit(n)))
    array_distinct(transform(idx, i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Exact n-gram Jaccard near-dup via shared-shingle blocking:
    * explode shingles → co-occurrence counts per pair → |A∩B| / (|A|+|B|−|A∩B|).
    * All relational; the self-join is on the shingle key, bounded by
    * `maxBucket` (drop ubiquitous shingles — they carry no signal and all
    * the skew). */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxBucket: Int = 100): DataFrame = {
    val withSh = docs.select(col("doc_id"), shingles(col("text"), n).as("sh"))
    // pinned: exploded feeds the hot-key count, the size count and
    // both join branches — recomputing the tokenize+shingle pass 4× is the
    // dominant CPU cost otherwise
    val exploded = Materialize.pin(withSh.select(col("doc_id"), explode(col("sh")).as("s"))).df
    // drop hot shingles (stopword-only n-grams): the skew kill. Hot-key
    // detection is a groupBy count (map-side partial agg) + anti join — NOT
    // a count-over-window, which would funnel every occurrence of a
    // boilerplate shingle through one task before the filter ran. The hot
    // set is tiny by construction (heavy hitters), so AQE broadcasts it.
    val hot = exploded.groupBy("s").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxBucket).select("s")
    val rare = exploded.join(hot, Seq("s"), "left_anti")
    // set sizes over the SAME post-filter universe as the intersection —
    // pre-filter sizes deflated the ratio and could drop exact duplicates
    // below threshold when they shared many boilerplate shingles. groupBy,
    // not count-over-window-by-doc_id: same partial-agg argument.
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("shSize"))
    val a = rare.select(col("s"), col("doc_id").as("a"))
    val b = rare.select(col("s"), col("doc_id").as("b"))
    a.join(b, Seq("s")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("shSize").as("aSize")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("shSize").as("bSize")), Seq("b"))
      .withColumn("jaccard", col("inter") / (col("aSize") + col("bSize") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** MinHash signature column (k independent hashes via per-function seed).
    * NOTE: kept for composition/tests; [[minhashLSH]] computes signatures in
    * a single mapPartitions pass instead — higher-order-function columns are
    * interpreted (not codegen'd) and re-evaluate the shingle subexpression
    * once per hash function, measured 30× slower than the fused Scala loop. */
  def minhashSignature(sh: Column, numHashes: Int, seed: Long = 42L): Column = {
    val sigs = (0 until numHashes).map { i =>
      array_min(transform(sh, h => xxhash64(lit(graft.model.Det.rand(seed, i.toLong, 1)), h)))
    }
    array(sigs: _*)
  }

  /** Fused single-pass signature: tokenize → shingle-hash → k-way min.
    * Pure function shared by executors and tests. */
  def minhashSignatureLocal(text: String, shingleN: Int, numHashes: Int,
                            seed: Long): Array[Long] = {
    import graft.model.Ids
    val toks = text.split("\\s+")
    val seen = new java.util.HashSet[java.lang.Long]()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = Array.tabulate(numHashes)(i => graft.model.Det.rand(seed, i.toLong, 1))
    var i = 0
    val last = math.max(toks.length - shingleN, 0)
    while (i <= last) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < shingleN && i + j < toks.length) {
        h = Ids.mix(h ^ Ids.hash64(toks(i + j))); j += 1
      }
      if (seen.add(h)) {
        var k = 0
        while (k < numHashes) {
          val v = Ids.mix(seeds(k) ^ h)
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      }
      i += 1
    }
    sig
  }

  /** Bounded per-bucket candidate pairs — the shared skeleton of all three
    * banded near-dup ops: groupBy(bucket key) → min-k id heap (bounded,
    * map-side partial aggregation via graft.functions.MinKAgg — NEVER a
    * per-bucket window sort, which would funnel a hot bucket through one
    * task) → per-bucket pair expansion over ≤ maxBucket ids → global pair
    * dedup. The result is materialized EAGERLY (localCheckpoint) before the
    * callers' payload re-attach joins: size estimates through
    * explode-over-agg are inflated, so without exact stats the planner
    * sort-merge-joins — shuffling the full signature table twice. With
    * exact stats a small pair list broadcasts (measured 78 s → 28.6 s on
    * the 8M-identical-docs DedupSkewProbe); a genuinely large one correctly
    * stays a shuffle join. Tests pass materialize = false to assert the
    * cap's own physical plan (PlanSpec). */
  private[graft] def cappedPairs(keyed: DataFrame, keyCols: Seq[String],
                                 idCol: String, maxBucket: Int,
                                 materialize: Boolean = true): DataFrame = {
    val pairs = keyed.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.MinKAgg.minK(maxBucket)(col(idCol)).as("ids"))
      .select(explode(graft.functions.MinKAgg.pairCombos(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
    if (materialize) Materialize.pin(pairs).df else pairs
  }

  /** Fused single-pass (doc_id, sig, bandKeys) frame shared by the one-shot
    * LSH and the persisted ingest index. Band keys are computed IN the same
    * pass as the signature: a numeric mix-chain over each signature slice.
    * Any injective function of the slice gives the same buckets (the oracle
    * re-derives them from the slice VALUES), and a column-expression version
    * (xxhash64 ∘ concat_ws ∘ transform/slice HOFs) is interpreted, not
    * codegen'd — one string build per (doc, band) dominated GC at the
    * 8M-doc skew probe scale. */
  private[ops] def signatureFrame(docs: DataFrame, shingleN: Int,
                                  numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val s = minhashSignatureLocal(text, shingleN, numHashes, 42L)
        val bk = Array.tabulate(bands) { b =>
          var h = 0x9e3779b97f4a7c15L
          var j = b * rows
          while (j < (b + 1) * rows) { h = graft.model.Ids.mix(h ^ s(j)); j += 1 }
          h
        }
        (id, s, bk)
      }).toDF("doc_id", "sig", "bandKeys")
  }

  /** MinHash + LSH banding: signature → bands → bucket-join on
    * (band, bandHash) → candidate pairs verified by signature agreement.
    * One shuffle (the band-key groupBy); no cross join anywhere. */
  def minhashLSH(docs: DataFrame, shingleN: Int = 3, numHashes: Int = 32,
                 bands: Int = 8, threshold: Double = 0.7,
                 maxBucket: Int = 50): DataFrame = {
    // a pin (Materialize.pin), not persist: the signatures must be shared by
    // the l/r join branches of the LAZY result — an in-function unpersist
    // ran before any action and silently recomputed them, while never
    // unpersisting leaked the cache entry
    val sig = Materialize.pin(signatureFrame(docs, shingleN, numHashes, bands)).df
    // ids-only banding: the banding shuffle carries (band, bandHash, doc_id)
    // — no signature payload — and the hot-bucket cap ("maxBucket smallest
    // doc_ids per bucket", same semantics as before) is a bounded min-k heap
    // with map-side partial aggregation (graft.functions.MinKAgg), so a
    // degenerate band (empty/boilerplate docs sharing one signature) shrinks
    // inside every map task instead of being window-sorted in one reducer.
    val banded = sig.select(col("doc_id"), posexplode(col("bandKeys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
    // bounded cap + pair expansion + exact-stats materialization: see
    // cappedPairs; signatures re-attach by doc_id equi-join only for
    // surviving candidate pairs
    val cand = cappedPairs(banded, Seq("band", "bandHash"), "doc_id", maxBucket)
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sigA")), Seq("a"))
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sigB")), Seq("b"))
    cand.withColumn("estJaccard", estJaccard(col("sigA"), col("sigB"), numHashes))
      .filter(col("estJaccard") >= threshold)
      .select("a", "b", "estJaccard")
  }

  /** Estimated Jaccard = fraction of agreeing signature slots — via the
    * codegen'd [[graft.functions.VectorExpressions.VecAgree]] kernel (the
    * HOF form interpreted two lambdas and allocated two arrays per PAIR,
    * paid N·cap times in the verify streams). */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    graft.functions.VectorExpressions.vec_agree(a, b)
      .cast("double") / lit(numHashes)

  // ------------------------------------------------------------------
  // Persisted LSH index: ingest-time near-dup gating for a growing corpus
  // ------------------------------------------------------------------

  /** On-disk MinHash LSH index for ingest-time near-dup gating — the
    * crawl-pipeline companion of [[graft.Incremental.appendPages]]: a new
    * batch is gated against the WHOLE corpus seen so far in O(batch) work,
    * instead of re-running corpus×corpus dedup per crawl.
    *
    * Layout under `dir`, two [[TableIO]] tables (so every write is a
    * manifest commit, and a crashed one is invisible and wiped by the next):
    *   `sigs/`  — (doc_id, sig), bucketed by doc_id: full signatures,
    *              APPENDED per ingest (an O(batch) commit)
    *   `bands/` — (band, bandHash, ids), bucketed by bandHash: capped
    *              min-`maxBucket` id lists, one GENERATION appended per
    *              ingest; readers re-cap the union (exact — min-k of
    *              per-generation min-k's IS the global min-k),
    *              [[compactMinhashIndex]] folds generations back to one row
    *              per bucket
    *
    * Semantics (mirrored closed-form by the d19 oracle): a batch doc is
    * DROPPED iff some strictly-smaller doc_id (base corpus or same batch)
    * shares a band bucket and agrees on ≥ `threshold` of the signature —
    * "have we seen similar content before", with droppees' signatures
    * retained so future copies of a dropped doc are also caught.
    *
    * The re-capped union is append-stable — min-k(min-k(A) ∪ B) =
    * min-k(A ∪ B) — and with monotonically growing doc_ids (the crawl-batch
    * regime) chunked ingest finds exactly the pairs a one-shot global pass
    * would: later ids can never evict the bucket entries an earlier probe
    * saw. Each probe row meets ≤ maxBucket index entries per band, so a hot
    * bucket (N identical docs) costs the probe O(batch · bands · maxBucket),
    * never O(N²).
    */
  def buildMinhashIndex(docs: DataFrame, dir: String, shingleN: Int = 3,
                        numHashes: Int = 32, bands: Int = 8,
                        maxBucket: Int = 50): Unit = Materialize.withPins { pins =>
    val sig = pins(signatureFrame(docs, shingleN, numHashes, bands)).df
    overwrite(sig.select("doc_id", "sig"), s"$dir/sigs", "doc_id")
    overwrite(cappedBandLists(sig, maxBucket), s"$dir/bands", "bandHash")
  }

  /** Replace an index table whole (its frame may read it: the commit lists
    * the table's files before it writes). */
  private def overwrite(df: DataFrame, path: String, key: String): Unit =
    TableIO.rewriteBuckets(df, path, col(key), (0 until TableIO.NumBuckets).toSet)

  private def cappedBandLists(sig: DataFrame, maxBucket: Int): DataFrame =
    bandRows(sig)
      .groupBy("band", "bandHash")
      .agg(graft.functions.MinKAgg.minK(maxBucket)(col("doc_id")).as("ids"))

  private def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(col("bandKeys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")

  /** Gate `batch` against the index at `dir`, returning (doc_id, kept) per
    * batch doc, and fold the batch's signatures into the index. Index
    * writes are O(batch) APPENDS — the batch's signatures and its own
    * capped band lists land as one new generation; nothing corpus-sized is
    * rewritten or materialized (the gate's only O(index) work is reading
    * the band lists it probes, which the candidate join needs anyway). */
  def ingestDedup(batch: DataFrame, dir: String, shingleN: Int = 3,
                  numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.7,
                  maxBucket: Int = 50): DataFrame = Materialize.withPins { pins =>
    val spark = batch.sparkSession
    val oldSigs = TableIO.read(spark, s"$dir/sigs")
    val oldBands = TableIO.read(spark, s"$dir/bands")
    val bsig = pins(signatureFrame(batch, shingleN, numHashes, bands)).df
    // the probe needs capped lists ONLY for the buckets this batch touches:
    // semi-join the stored generations down to those keys FIRST (without
    // this, every small ingest exploded and re-capped the whole index —
    // an O(corpus) shuffle and a corpus-sized checkpoint). The re-cap of
    // the restricted union is exact: min-k of per-generation min-k's is
    // the global min-k. The explode stream is DISTINCT'd before the cap —
    // a re-delivered batch appends duplicate generations, and duplicate
    // ids would otherwise count twice toward the cap and evict distinct
    // ids (missed near-dups after a retry).
    val batchKeys = bandRows(bsig).select("band", "bandHash").distinct()
    val probeBands = pins(oldBands
      .join(batchKeys, Seq("band", "bandHash"), "left_semi")
      .select(col("band"), col("bandHash"), explode(col("ids")).as("doc_id"))
      .unionByName(bandRows(bsig).select("band", "bandHash", "doc_id"))
      .distinct()
      .groupBy("band", "bandHash")
      .agg(graft.functions.MinKAgg.minK(maxBucket)(col("doc_id")).as("ids"))).df
    // probe: every batch band row (a probe needn't survive the cap itself)
    // against the capped bucket lists, strictly-smaller ids only. The
    // per-probe candidate set is deduped IN-ROW: collect the ≤`bands`
    // bucket lists per probe doc (one bounded shuffle of batch-sized rows,
    // partial-agg), flatten + array_distinct — never a pair-grain
    // dropDuplicates, which at N identical docs shuffled N·bands·cap
    // exploded rows (measured 200M at the 500k-doc skew probe) to throw
    // 7/8 away. Pinned: feeds the referenced-sig semi-join AND the verify
    // stream.
    val candL = pins(bandRows(bsig).join(probeBands, Seq("band", "bandHash"))
      .groupBy(col("doc_id").as("x"))
      .agg(collect_list(col("ids")).as("idss"))
      .select(col("x"), array_distinct(flatten(col("idss"))).as("ys"))).df
    // lazy — only the semi-join below consumes it, and only the referenced
    // slice is ever materialized (checkpointing the union here made every
    // ingest O(corpus) in storage memory)
    val allSigs = oldSigs.unionByName(bsig.select("doc_id", "sig"))
    // only the index signatures the candidates actually reference (map-side
    // partial distinct shrinks the exploded stream before it shuffles);
    // pinned → exact stats, so a small referenced set broadcasts
    // into the pair-grain verify below and the N·cap pair stream then runs
    // explode → filter → broadcast join → agg inside ONE codegen stage with
    // no pair-grain shuffle or materialization anywhere (the previous shape
    // shuffled the pair table twice for the two sig re-attach joins)
    val ySigs = pins(allSigs.join(
      candL.select(explode(col("ys")).as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")).df
    val dropped = candL
      .join(bsig.select(col("doc_id").as("x"), col("sig").as("sigX")), Seq("x"))
      .select(col("x"), col("sigX"), explode(col("ys")).as("y"))
      .filter(col("y") < col("x"))
      .join(ySigs.select(col("doc_id").as("y"), col("sig").as("sigY")), Seq("y"))
      .filter(estJaccard(col("sigX"), col("sigY"), numHashes) >= threshold)
      .select(col("x").as("doc_id")).distinct()
    val out = Materialize.pin(bsig.select("doc_id")
      .join(dropped.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)) === lit(false))
      .toDF("doc_id", "kept")).df
    // O(batch) index fold: append the batch's signatures and its OWN capped
    // band lists as a new generation (readers re-cap the union; compaction
    // folds)
    TableIO.appendBucketed(bsig.select("doc_id", "sig"), s"$dir/sigs", col("doc_id"))
    TableIO.appendBucketed(cappedBandLists(bsig, maxBucket), s"$dir/bands", col("bandHash"))
    // `out` is its own pin; the set's go on return (without that, repeated
    // ingests pile batch-sized checkpoint copies into storage memory until
    // an eviction cliff, the pageRankInt lesson)
    out
  }

  /** Maintenance pass (the monthly job, like Incremental.compactMergeRemap):
    * fold the per-ingest band-list generations back into one capped row per
    * bucket and rewrite the signature table's accumulated small files. The
    * only O(corpus) step in the index lifecycle, by design. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                          maxBucket: Int = 50): Unit = Materialize.withPins { pins =>
    // DISTINCT before the re-cap and per-doc sig dedup: an at-least-once
    // redelivery appends duplicate generations, which must not count twice
    // toward the cap (evicting distinct ids) nor persist duplicate rows
    val bands2 = pins(TableIO.read(spark, s"$dir/bands")
      .select(col("band"), col("bandHash"), explode(col("ids")).as("doc_id"))
      .distinct()
      .groupBy("band", "bandHash")
      .agg(graft.functions.MinKAgg.minK(maxBucket)(col("doc_id")).as("ids"))).df
    val sigs2 = pins(TableIO.read(spark, s"$dir/sigs").dropDuplicates("doc_id")).df
    overwrite(bands2, s"$dir/bands", "bandHash")
    overwrite(sigs2, s"$dir/sigs", "doc_id")
  }

  /** 64-bit SimHash of the token stream: per-bit weighted majority over
    * token hashes — fused single pass (64 column-level bit votes would be
    * 64 interpreted array traversals). Near-dups = pairs within
    * `maxHamming`, found by 4×16-bit chunk banding (pigeonhole: any pair at
    * Hamming ≤ 3 agrees on ≥ 1 chunk). */
  def simhashLocal(text: String): Long = {
    import graft.model.Ids
    val votes = new Array[Int](64)
    val toks = text.split("\\s+")
    var i = 0
    while (i < toks.length) {
      val h = Ids.hash64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Materialize.pin(docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, simhashLocal(text)) })
      .toDF("doc_id", "sh")).df
    // same ids-only + bounded-heap cap shape as minhashLSH: chunk value 0 is
    // hot for short docs, and the min-k aggregator reduces it map-side
    val chunked = sh.select(col("doc_id"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sh"), c * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")
    val cand = cappedPairs(chunked, Seq("chunk", "chunkVal"), "doc_id", maxBucket)
      .join(sh.select(col("doc_id").as("a"), col("sh").as("shA")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shB")), Seq("b"))
    cand.withColumn("hamming", bit_count(col("shA").bitwiseXOR(col("shB"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** Embedding cosine near-dup: random-hyperplane LSH buckets then exact
    * cosine within buckets (see Similarity for the dot-product expression). */
  def embeddingNearDup(embs: DataFrame, threshold: Double = 0.95,
                       nPlanes: Int = 12, seed: Long = 42L,
                       maxBucket: Int = 200): DataFrame = {
    val sigCol = Similarity.hyperplaneSignature(col("embedding"), nPlanes, seed)
    // ids-only bucketing + bounded min-k cap (map-side partial agg — see
    // MinKAgg); embeddings re-attach by vec_id only for candidate pairs, so
    // neither the bucket shuffle nor a hot bucket ever carries the vectors
    val sig = embs.select(col("vec_id"), sigCol.as("bucket"))
    cappedPairs(sig, Seq("bucket"), "vec_id", maxBucket)
      .join(embs.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(embs.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .withColumn("cosine", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }
}
