package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.PageGen

/** The query registry behind SparkEntry: one entry per implemented operator
  * (SURVEY.md §2), plus the training-data-pipeline operator suite.
  *
  * Naming convention:
  *   kg_*  — KG-construction pipeline over the synthetic page corpus
  *           (rows-only check; not SQL-expressible)
  *   q*    — relational operators over the sfDir TPC-H-ish tables (oracled)
  *   d*    — documents-table training-data ops (oracled where expressible)
  *   e*    — embeddings-table similarity ops
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** sfDir -> synthetic corpus size (the ONE scale ladder; SparkEntry uses
    * this too). */
  private[graft] def kgPages(sfDir: String): Int =
    if (sfDir.contains("sf0.01")) 4000
    else if (sfDir.contains("sf0.1")) 20000
    else if (sfDir.contains("sf1")) 200000 // sf1-class basis (ScaleUpData dir)
    else 500

  /** Above this many pages (a ~128 MB page dim) kg_mentions drops its
    * broadcast hint; the corpus size is config-known, so no job decides. */
  val PageDimBroadcastCutover: Long = 8000000L

  // --- KG pipeline, cached so several queries share one build. SINGLE-slot:
  // an unbounded map keyed by session hash would pin persisted frames of
  // stopped sessions forever in a long-lived JVM
  private val kgSlot = new java.util.concurrent.atomic.AtomicReference[(String, Pipeline.Tables)]()
  private[graft] def kg(spark: SparkSession, sfDir: String): Pipeline.Tables =
    kgSlot.synchronized {
      val key = sfDir + "@" + spark.hashCode()
      val cur = kgSlot.get()
      if (cur != null && cur._1 == key) cur._2
      else {
        // evict the replaced pipeline's persisted frames: in a long-lived
        // JVM serving several sfDirs/sessions the stale cache entries would
        // otherwise pin executor memory forever (best-effort — the old
        // session may already be stopped)
        if (cur != null) try {
          cur._2.flatEnc.unpersist(false)
          cur._2.components.unpersist(false)
          // the replaced KG's nhash seed frames are derived from the frames
          // just evicted — drop them too (lock-free CAS, not nhSlot's lock:
          // nhashFrames locks nhSlot THEN calls kg(), so taking nhSlot's
          // lock here would invert the order; nhashFrames re-checks its key
          // under its own lock, so a lost CAS only delays the eviction)
          val nh = nhSlot.get()
          if (nh != null && nh._1 == cur._1) {
            nhSlot.compareAndSet(nh, null)
            Seq(nh._2._1, nh._2._2).foreach(graft.util.Materialize.release)
          }
        } catch { case _: Throwable => () }
        val cfg = PageGen.Config(nPages = kgPages(sfDir))
        val t = Pipeline.run(spark, PageGen.pages(spark, cfg), cfg.nPersons)
        kgSlot.set((key, t))
        t
      }
    }

  // --- nhash seed frames for the headline kernel entry, cached beside the
  // KG slot under the same key: the initial label frame and the
  // dst-partitioned MENTIONS edge frame are pure functions of the built KG
  // (like flatEnc/components), so the bench's untimed KG-cache warmup
  // covers them too and the timed kernel rep measures the kernel's rounds,
  // not the seed shuffles (BASELINE.md "headline semantics"). Single-slot
  // for the same reason as kgSlot. e4's unrestricted-frame variant is NOT
  // cached — different parameterization, not a headline entry.
  private val nhSlot = new java.util.concurrent.atomic.AtomicReference[
    (String, (DataFrame, DataFrame))]()
  private[graft] def nhashFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    nhSlot.synchronized {
      val key = sfDir + "@" + spark.hashCode()
      val cur = nhSlot.get()
      if (cur != null && cur._1 == key) cur._2
      else {
        if (cur != null) try {
          Seq(cur._2._1, cur._2._2).foreach(graft.util.Materialize.release)
        } catch { case _: Throwable => () }
        val kt = kg(spark, sfDir)
        val fr = graft.query.Steps.neighborhoodHashFrames(kt.nodes, kt.edges,
          "MENTIONS", Some(Seq("Page", "Mention")))
        nhSlot.set((key, fr))
        fr
      }
    }

  // --- shared bootstrap for the corpus-growth entries: kg_append_triples
  // and st5_stream_ingest both start from a materialized build of the first
  // 80% of the corpus. Build it ONCE per (sfDir, session) into a cached
  // master dir, and hand each consumer a fresh COPY (appends mutate).
  private val baseSlot = new java.util.concurrent.atomic.AtomicReference[(String, String)]()
  // the consumers delete their COPIES; the cached master build must not
  // outlive the JVM (repeated short-lived runs would each orphan one)
  private lazy val baseSlotCleanup: Unit = {
    sys.addShutdownHook {
      val cur = baseSlot.get()
      if (cur != null) graft.store.TableIO.deleteRecursively(cur._2)
    }
    ()
  }
  private[graft] def appendSplit(sfDir: String): Long = (kgPages(sfDir) * 4L) / 5L
  private[graft] def appendBaseCopy(s: SparkSession, sfDir: String): String =
    baseSlot.synchronized {
      baseSlotCleanup
      val key = sfDir + "@" + s.hashCode()
      val cur = baseSlot.get()
      val master =
        if (cur != null && cur._1 == key) cur._2
        else {
          val c = PageGen.Config(nPages = kgPages(sfDir))
          val dir = java.nio.file.Files.createTempDirectory("graft-append-base").toString
          import s.implicits._
          val t = Pipeline.run(s,
            s.range(0L, appendSplit(sfDir)).map(i => PageGen.page(c, i)), c.nPersons)
          Pipeline.materialize(s, t, dir)
          t.flatEnc.unpersist(false); t.components.unpersist(false)
          if (cur != null) graft.store.TableIO.deleteRecursively(cur._2)
          baseSlot.set((key, dir))
          dir
        }
      val copy = java.nio.file.Files.createTempDirectory("graft-append-work").toString
      copyTree(java.nio.file.Paths.get(master), java.nio.file.Paths.get(copy))
      copy
    }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- KG construction (the north-rule pipeline) ----------------
    "kg_triples" -> ((s, d) => kg(s, d).triples),
    "kg_components" -> ((s, d) => kg(s, d).components),
    "kg_nodes" -> ((s, d) => kg(s, d).nodes.drop("props")),
    "kg_edges" -> ((s, d) => kg(s, d).edges),
    // the flat frame carries url only on "p"/"t" rows (cache byte
    // discipline); the mention view joins it back via pageId — the page dim
    // is |pages|-sized, orders of magnitude under the mention stream it
    // annotates, so it broadcasts while it fits; past
    // PageDimBroadcastCutover (the 10^12-doc regime where a |pages|-row
    // broadcast would kill the driver) the hint is dropped and the join
    // shuffles on pageId
    "kg_mentions" -> ((s, d) => {
      val t = kg(s, d)
      val pageUrl = t.flat.filter(col("rowKind") === "p").select(col("pageId"), col("url"))
      val pageDim =
        if (kgPages(d) <= PageDimBroadcastCutover)
          org.apache.spark.sql.functions.broadcast(pageUrl)
        else pageUrl
      t.flat.filter(col("rowKind") === "m")
        .select("pageId", "mentionId", "surface", "norm", "entityId")
        .join(pageDim, Seq("pageId"))
        .select("pageId", "url", "mentionId", "surface", "norm", "entityId")
    }),
    "kg_pages" -> ((s, d) => kg(s, d).flat
      .filter(col("rowKind") === "p")
      .select("pageId", "url", "host", "nSentences", "error")),
    // corpus-growth ingest (Incremental.appendPages): build the first 80% of
    // the corpus, append the rest as a crawl batch, read the committed table
    // back. Oracled with kg_triples' FULL-corpus SQL — the driver gate checks
    // append ≡ rebuild (including retroactive entity merges) hash-exactly
    "kg_append_triples" -> ((s, d) => {
      val c = PageGen.Config(nPages = kgPages(d))
      val split = appendSplit(d)
      val dir = appendBaseCopy(s, d) // shared bootstrap, private copy
      import s.implicits._
      Incremental.appendPages(s,
        s.range(split, c.nPages.toLong).map(i => PageGen.page(c, i)), dir, c.nPersons)
      // detach the result from the temp build (blocks, not files) so the
      // whole throwaway table can be reclaimed NOW, not on tmp cleanup
      val out = graft.util.Materialize.pin(graft.store.TableIO.read(s, s"$dir/triples")).df
      graft.store.TableIO.deleteRecursively(dir)
      out
    }),
    // takedown propagation (Incremental.removePages): materialize the FULL
    // corpus, remove the tail 20% as a takedown batch — which retracts
    // same-as evidence and SPLITS canonical components — and read the
    // committed table back. Oracled against a DuckDB derivation whose
    // union-find never saw the removed pages (components_rm), so the driver
    // gate checks remove ≡ rebuild-on-remaining hash-exactly
    "kg_remove_triples" -> ((s, d) => {
      val c = PageGen.Config(nPages = kgPages(d))
      val split = appendSplit(d)
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-remove").toString
      Pipeline.materialize(s, kg(s, d), dir) // reuses the session-cached build
      Incremental.removePages(s,
        s.range(split, c.nPages.toLong).map(i => PageGen.page(c, i)),
        s.range(0L, split).map(i => PageGen.page(c, i)),
        dir, c.nPersons)
      val out = graft.util.Materialize.pin(graft.store.TableIO.read(s, s"$dir/triples")).df
      graft.store.TableIO.deleteRecursively(dir)
      out
    }),

    // ---------------- relational operator coverage (oracled) ----------------
    "q1_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")),

    "q2_join_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    "q3_broadcast_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    }),

    "q4_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "q5_semi_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
    }),

    "q6_window_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id"))
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type").orderBy("user_id")
    }),

    "q7_json" -> ((s, d) => t(s, d, "events")
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n")).orderBy("k_mod")),

    "q8_topk" -> ((s, d) => t(s, d, "events")
      .orderBy(col("value").desc, col("event_id")).limit(10)
      .select("event_id", "event_type", "value")),

    "q9_setops" -> ((s, d) => {
      val e = t(s, d, "events")
      val purchasers = e.filter(col("event_type") === "purchase").select("user_id")
      val errorers = e.filter(col("event_type") === "error").select("user_id")
      purchasers.distinct().except(errorers.distinct()).orderBy("user_id")
    }),

    "q10_date_trunc" -> ((s, d) => t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day")),

    "q11_distinct" -> ((s, d) => t(s, d, "lineitem")
      .agg(countDistinct("l_partkey").as("n_parts"),
           countDistinct("l_suppkey").as("n_supps"))),

    "q12_string_funcs" -> ((s, d) => t(s, d, "part")
      .select(col("p_partkey"), upper(col("p_name")).as("uname"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("prefix"))
      .orderBy("p_partkey").limit(100)),

    "q13_explode_tokens" -> ((s, d) => t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20)),

    "q14_rollup" -> ((s, d) => t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "q15_intersect" -> ((s, d) => {
      val e = t(s, d, "events")
      e.filter(col("event_type") === "purchase").select("user_id").distinct()
        .intersect(e.filter(col("event_type") === "click").select("user_id").distinct())
        .orderBy("user_id")
    }),

    "q16_union_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        .unionAll(o.filter(col("o_totalprice") > 100000.0).select("o_orderkey"))
        .groupBy().agg(count(lit(1)).as("n"), countDistinct("o_orderkey").as("n_distinct"))
    }),

    "q17_case_agg" -> ((s, d) => t(s, d, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        // avg over EXACT integer cents (values are 2-decimal), emitted as
        // integer 1e-4-dollar units via integer DIVISION: the round-1 fix
        // (integer cent sums, then round(double,4)) still left ONE float
        // round at the end, and the sf1 cross-check caught a user whose avg
        // sits exactly on the .00005 boundary — Spark HALF_UP vs DuckDB's
        // multiply-round disagree there. Integer DIV is engine-exact.
        expr("sum(cast(round(value * 100) as bigint)) * 100 div count(1)")
          .as("avg_value_c4"))
      .orderBy("user_id")),

    "q18_having" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3).orderBy("l_partkey")),

    "q19_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running", round(sum("value").over(w), 2))
        .select("user_id", "event_id", "running")
        .orderBy("user_id", "event_id")
    }),

    "q20_sessionize" -> ((s, d) => {
      // session = gap > 30 min per user (lag window + cumulative sum).
      // Gap compared at MICROSECOND precision: the timestamps carry micros,
      // and floor-to-seconds here vs exact epoch in the oracle flipped
      // session boundaries for gaps within 1s of the threshold (round-1
      // driver hash flake)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L,
            1).otherwise(0))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_id")
    }),

    "q21_math_funcs" -> ((s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 4).as("sq"),
        round(log(col("l_extendedprice") + 1.0), 4).as("ln"),
        round(pow(col("l_discount"), 2.0), 6).as("disc2"),
        abs(col("l_quantity") - 25.0).as("dev"))
      .orderBy("l_orderkey", "l_linenumber").limit(500)),

    "q22_first_last" -> ((s, d) => t(s, d, "events")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("m"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("x"))
      .select(col("user_id"), col("m.event_type").as("first_type"),
        col("x.event_type").as("last_type"))
      .orderBy("user_id")),
    "q23_cube" -> ((s, d) => t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")),
    "q24_percentile" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .orderBy("l_returnflag")),
    "q25_pivot" -> ((s, d) => t(s, d, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")),
    "q26_string_agg" -> ((s, d) => t(s, d, "part")
      .groupBy("p_brand")
      .agg(concat_ws(",", array_sort(collect_set(col("p_type")))).as("types"))
      .orderBy("p_brand")),
    "q27_exists_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("q27_customer")
      t(s, d, "orders").createOrReplaceTempView("q27_orders")
      s.sql("""
        SELECT c_custkey, c_name FROM q27_customer c
        WHERE EXISTS (SELECT 1 FROM q27_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        ORDER BY c_custkey""")
    }),
    // array-function battery: split -> sort/slice/contains/distinct counts
    "q31_array_funcs" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        concat_ws(" ", slice(sort_array(col("toks")), 1, 3)).as("first3_sorted"),
        array_contains(col("toks"), "the").cast("int").as("has_the"))
      .orderBy("doc_id")),
    // RANGE window frame (value-based, not row-based): 10-unit trailing
    // average per user — frames by ts VALUE so gaps matter
    "q30_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-600L, Window.currentRow)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          round(avg("value").over(w), 4).as("trail_avg"))
        .orderBy("event_id")
    }),
    // composed as-of join (union + keyed window) vs DuckDB's NATIVE ASOF JOIN
    "q28_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 2).as("purchase_value"))
      graft.ops.Temporal.asofJoin(clicks, purch, "user_id", "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "purchase_value")
        .orderBy("event_id")
    }),
    // binned range join (equi-join on bin + exact refine) vs a plain
    // inequality join in the oracle
    "q29_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      // t0 stays IN the plan (a 1-row agg cross-joined in): an eager
      // .head() here would launch a scan at query-construction time and
      // NPE on an empty events table
      val t0 = ev.agg(min(unix_timestamp(col("ts"))).as("t0"))
      val windows = s.range(40).crossJoin(t0)
        .select(col("id").as("window_id"),
          (col("t0") + col("id") * 21600L).as("ws"),
          (col("t0") + col("id") * 21600L + 10800L).as("we"))
      val points = ev.select(unix_timestamp(col("ts")).as("pt"))
      graft.ops.Temporal.rangeJoinBinned(points, windows, "pt", "ws", "we", 7200L)
        .groupBy("window_id").agg(count(lit(1)).as("n"))
        .orderBy("window_id")
    }),

    // ---------------- training-data ops: documents ----------------
    "d1_dedup_exact" -> ((s, d) => graft.ops.Dedup.exact(t(s, d, "documents"))),
    "d2_ngram_jaccard" -> ((s, d) =>
      graft.ops.Dedup.ngramJaccard(dupedDocs(s, d), n = 3, threshold = 0.8)
        .orderBy("a", "b").withColumn("jaccard", round(col("jaccard"), 4))),
    "d3_minhash_lsh" -> ((s, d) =>
      graft.ops.Dedup.minhashLSH(dupedDocs(s, d), threshold = 0.7).orderBy("a", "b")),
    "d4_simhash" -> ((s, d) =>
      graft.ops.Dedup.simhashNearDup(dupedDocs(s, d), maxHamming = 3).orderBy("a", "b")),
    // the keep-side of exact dedup over the planted-duplicate corpus: every
    // original survives, every planted copy is dropped
    "d10_dedup_keep" -> ((s, d) =>
      graft.ops.Dedup.exactKeep(dupedDocs(s, d)).orderBy("doc_id")),
    "d5_token_count" -> ((s, d) => graft.ops.TextAnalysis.tokenCounts(t(s, d, "documents"))),
    "d9_bpe_tokens" -> ((s, d) =>
      graft.ops.TextAnalysis.bpeTokenEstimate(t(s, d, "documents")).orderBy("doc_id")),
    "d6_quality" -> ((s, d) => graft.ops.TextAnalysis.quality(t(s, d, "documents"))),
    // per-doc language call (integer stopword-hit argmax — no float compare
    // anywhere, so the DuckDB oracle is exact), not the old 2-row rollup
    "d7_langid" -> ((s, d) => graft.ops.TextAnalysis.langId(t(s, d, "documents"))
      .orderBy("doc_id")),
    "d8_fingerprint" -> ((s, d) => graft.ops.TextAnalysis.fingerprint(t(s, d, "documents"))
      .select(col("doc_id"), element_at(col("fingerprint"), 1).as("fp0"))
      .orderBy("doc_id")),
    // the composed training-data user story — one flow, three ops: exact
    // dedup (keep side) -> language gate -> token-count quality gate ->
    // per-source corpus stats. One shuffle per stage boundary, all partial
    // aggregation; this is the shape a 100-TB corpus-prep job actually has
    "d11_corpus_prep" -> ((s, d) => {
      val kept = graft.ops.Dedup.exactKeep(t(s, d, "documents"))
      val lid = graft.ops.TextAnalysis.langId(kept)
        .filter(col("pred_lang") === "en" && col("n_toks") >= 5)
        .select("doc_id", "n_toks")
      kept.join(lid, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("total_tokens"),
          sum("n_chars").as("total_chars"))
        .orderBy("source")
    }),
    // substring-level dedup (Lee et al. 2022): cross-document duplicated
    // token spans. The natural corpus duplication suffices (small shared
    // vocabulary) — no planted copies needed at k=8
    "d12_dup_spans" -> ((s, d) =>
      graft.ops.CorpusOps.duplicatedSpans(t(s, d, "documents"), k = 8, minDocs = 2)
        .orderBy("doc_id", "span_start")),
    // benchmark-contamination scan: train = sources != src0, bench = src0
    "d13_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.CorpusOps.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 8)
        .orderBy("doc_id")
    }),
    // token-budget shard packing — the distributed prefix-sum pattern
    "d14_shard_pack" -> ((s, d) =>
      graft.ops.CorpusOps.shardPack(t(s, d, "documents"), budget = 2000L, chunk = 50L)
        .orderBy("doc_id")),
    // Gopher repetition metrics (integer-exact bigram stats)
    "d15_repetition" -> ((s, d) =>
      graft.ops.CorpusOps.repetitionMetrics(t(s, d, "documents"))
        .orderBy("doc_id")),
    // deterministic stratified sampling: per-language keep quotas in basis
    // points, selector = salted md5 (bit-identical in the DuckDB oracle)
    "d16_stratified_sample" -> ((s, d) =>
      graft.ops.CorpusOps.stratifiedSample(t(s, d, "documents"),
        Map("en" -> 2500, "de" -> 5000, "zh" -> 10000), defaultBp = 1000)
        .orderBy("doc_id")),
    // PII scan + redaction over deterministically PII-augmented text (the
    // corpus itself is digit-free, so both engines derive the same
    // synthetic contact strings — redaction is genuinely exercised)
    "d21_pii_redact" -> ((s, d) => {
      val aug = t(s, d, "documents").withColumn("text",
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or "),
          format_string("%03d-%03d-%04d", col("doc_id") % 1000,
            col("doc_id") % 1000, col("doc_id") % 10000)))
      graft.ops.TextAnalysis.piiRedact(aug).orderBy("doc_id")
    }),
    // leakage-safe train/val/test split: the assignment hashes the GROUP
    // (source), never the doc — dups inside a group can't straddle splits
    "d20_leakage_split" -> ((s, d) =>
      graft.ops.CorpusOps.leakageSafeSplit(t(s, d, "documents"))
        .select("doc_id", "lang", "source", "split")
        .orderBy("doc_id")),
    // sequence packing: shard token streams cut into fixed-length training
    // rows; per-shard state bounded by the shard budget
    "d18_seq_pack" -> ((s, d) =>
      graft.ops.CorpusOps.packSequences(t(s, d, "documents"),
        budget = 2000L, seqLen = 128, chunk = 50L)
        .orderBy("shard_id", "seq_idx")),
    // ingest-time near-dup gate over a PERSISTED LSH index — the
    // crawl-pipeline shape: build the index on the first 80% of the corpus,
    // then ingest two monotone-id batches (the remaining originals, then a
    // shifted full copy) through Dedup.ingestDedup; each batch is gated in
    // O(batch) against everything seen so far, and the index is folded
    // forward between batches. The oracle re-derives the SAME kept set
    // closed-form from the signature dump in one global pass — the
    // equivalence of chunked ingest with the one-shot computation IS the
    // property under test
    "d19_ingest_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val split = docs.count() * 4L / 5L
      val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
      try {
        graft.ops.Dedup.buildMinhashIndex(docs.filter(col("doc_id") < split), dir)
        val k1 = graft.ops.Dedup.ingestDedup(docs.filter(col("doc_id") >= split), dir)
        val k2 = graft.ops.Dedup.ingestDedup(
          docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")), dir)
        k1.unionByName(k2).orderBy("doc_id")
      } finally graft.store.TableIO.deleteRecursively(dir)
    }),
    // fuzzy-dedup clustering: minhash near-dup pairs -> the SAME adaptive
    // connected-components machinery the KG canonicalizer runs -> one
    // cluster id (min member) per document. The oracle re-derives the pairs
    // from the signature dump (d3's banding SQL) and closes them with a
    // recursive CTE — an independent second engine for the CC fixpoint
    "d17_dup_clusters" -> ((s, d) => {
      val docs = dupedDocs(s, d)
      val pairs = graft.ops.Dedup.minhashLSH(docs, threshold = 0.7).select("a", "b")
      val cc = graft.canon.ConnectedComponents.auto(s, pairs)
      docs.select("doc_id").join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),

    // ---------------- similarity search: embeddings ----------------
    "e1_ann_bruteforce" -> ((s, d) => graft.ops.Similarity.bruteForceTopK(
      t(s, d, "embeddings").withColumnRenamed("vec_id", "id").filter(col("id") < 50),
      t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), k = 3)
      // score_q: the quantized cosine rides along so a scoring bug that
      // happens to preserve order can no longer pass the gate
      .select(col("query_id"), col("rank"), col("nn_id"),
        round(col("cosine") * 1e6).cast("long").as("score_q"))
      .orderBy("query_id", "rank")),
    // nProbe == nCentroids: EXHAUSTIVE probing, so the IVF machinery
    // (centroid build, inverted-list assignment, probe ranking, list
    // equi-join, bounded-heap top-k) must reproduce brute force EXACTLY —
    // which is what makes this oracle-able against the same DuckDB SQL as
    // e1. The approximate regime (nProbe < nCentroids) is recall-tested in
    // OpsSpec; the scale argument is unchanged (candidate join bounded by
    // probed list sizes).
    "e2_ann_ivf" -> ((s, d) => graft.ops.Similarity.ivfTopK(
      t(s, d, "embeddings").withColumnRenamed("vec_id", "id").filter(col("id") < 50),
      t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
      k = 3, nCentroids = 16, nProbe = 16)
      .select(col("query_id"), col("rank"), col("nn_id"),
        round(col("cosine") * 1e6).cast("long").as("score_q"))
      .orderBy("query_id", "rank")),
    // threshold 0.999 with planted identical pairs: identical vectors agree
    // on EVERY hyperplane sign, so LSH recall for them is 1.0 by
    // construction, and the sf corpus has no non-identical pair above 0.52
    // cosine (measured) — the all-pairs DuckDB oracle is therefore exact
    "e3_emb_neardup" -> ((s, d) => {
      val base = t(s, d, "embeddings")
      val shifted = base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
      graft.ops.Dedup.embeddingNearDup(base.unionByName(shifted), threshold = 0.999)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("a", "b")
    }),

    // ---------------- multimodal plumbing (stub decode; real Spark shape) ----------------
    "mm1_media_features" -> ((s, _) =>
      graft.ops.Multimodal.extractFeatures(graft.ops.Multimodal.synthMedia(s, MmN))
        // f0 only when decode succeeded: failures carry an EMPTY feature
        // array, and element_at(empty, 1) errors under ANSI mode
        .toDF().select(col("media_id"), col("kind"), col("ok"),
          when(col("ok"), element_at(col("feature"), 1)).as("f0")).orderBy("media_id")),
    "mm2_resize_plan" -> ((s, _) =>
      graft.ops.Multimodal.resizePlan(graft.ops.Multimodal.synthMedia(s, MmN).toDF(), 256)
        .orderBy("media_id")),
    "mm3_frame_sample" -> ((s, _) =>
      graft.ops.Multimodal.frameSamplePlan(graft.ops.Multimodal.synthMedia(s, MmN).toDF(), 1000)
        .select("media_id", "durationMs", "n_frames").orderBy("media_id")),
    // REAL image decode (javax.imageio over the corpus's deterministic PNG
    // payloads): integer-exact channel sums + luminance histogram, driver-
    // gated against the same single-threaded decode in the oracle dump
    "mm4_image_stats" -> ((s, _) =>
      graft.ops.Multimodal.imageStats(graft.ops.Multimodal.synthMedia(s, MmN))
        .toDF().orderBy("media_id")),
    // REAL audio decode (javax.sound.sampled over the corpus's deterministic
    // 16-bit WAV payloads, incl. deliberately-truncated ones): integer-exact
    // amplitude stats + sign crossings, driver-gated against the same
    // single-threaded decode in the oracle dump
    "mm5_audio_stats" -> ((s, _) =>
      graft.ops.Multimodal.audioStats(graft.ops.Multimodal.synthMedia(s, MmN))
        .toDF().orderBy("media_id")),

    // ---------------- query-step surface over the KG tables ----------------
    "kg_step_megahost_pages" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.Steps.nodesWithKindAndCodeRegex(kt.nodes, "Host", "^host0\\.")
        .drop("props")
    }),
    "kg_step_entity_degree" -> ((s, d) => {
      val kt = kg(s, d)
      kt.edges.filter(col("kind") === "LINKS_TO")
        .groupBy(col("dst").as("entity_node")).agg(count(lit(1)).as("n_mentions"))
        .orderBy(col("n_mentions").desc, col("entity_node")).limit(50)
    }),
    // entity salience: exact integer fixed-point PageRank over the canonical
    // subj→obj triple graph (beyond-reference analytics — no float anywhere,
    // so a second engine re-derives it bit-exactly; see GraphAnalytics)
    "kg_step_pagerank" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.pageRankInt(
        graft.query.GraphAnalytics.entityEdges(kt.triples))
        .orderBy("id")
    }),
    // personalized PageRank: teleport restricted to a seed set (every 10th
    // canonical entity id, head entity included) — the "entities related to
    // X" relatedness query over the same graph
    "kg_step_ppr" -> ((s, d) => {
      val kt = kg(s, d)
      val e = graft.query.GraphAnalytics.entityEdges(kt.triples)
      val seeds = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct().filter(pmod(col("id"), lit(10)) === 0)
      graft.query.GraphAnalytics.pageRankInt(e, seeds = Some(seeds)).orderBy("id")
    }),
    // 2-core of the canonical entity graph (iterative peel; the oracle is
    // VerifyOracle's sequential queue peel of the same graph)
    "kg_step_kcore" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.kCore(
        graft.query.GraphAnalytics.entityEdges(kt.triples), k = 2)
        .orderBy("id")
    }),
    // hub/authority scoring over the canonical subj→obj graph: exact integer
    // fixed-point HITS — the directional twin of kg_step_pagerank (a node
    // can be a good pointer without being pointed at); max-based integer
    // renormalization, so the driver hash stays bit-exact
    "kg_step_hits" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.hitsInt(
        graft.query.GraphAnalytics.entityEdges(kt.triples), iters = 8)
        .orderBy("id")
    }),
    // community detection: synchronous label propagation (most-frequent
    // neighbor label, min-label ties), 5 bounded rounds — the
    // modularity-flavored sibling of the CC canonicalizer over the same
    // undirected entity graph
    "kg_step_communities" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.labelPropagation(
        graft.query.GraphAnalytics.entityEdges(kt.triples), iters = 5)
        .orderBy("id")
    }),
    // structural entity-resolution candidates: shared-neighbor (witness)
    // overlap with integer cross-multiplied Jaccard — the canonicalizer's
    // graph-side refinement pass; hub witnesses anti-joined, never windowed
    "kg_step_sameas" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.sameAsCandidates(
        graft.query.GraphAnalytics.entityEdges(kt.triples),
        minInter = 2, jacNum = 1, jacDen = 4, hubCap = 64L)
        .orderBy("u", "v")
    }),
    // strongly connected components of the DIRECTED canonical graph — the
    // web bow-tie kernel; labels = min member id (canonical), distributed
    // trim+FW-BW vs the dump's sequential Tarjan
    "kg_step_scc" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.scc(
        graft.query.GraphAnalytics.entityEdges(kt.triples))
        .orderBy("id")
    }),
    // Broder bow-tie macro-structure: CORE (largest SCC) / IN / OUT / OTHER
    // per entity — one scc() pass + two BFS fixpoints seeded at the core
    "kg_step_bowtie" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.bowTie(
        graft.query.GraphAnalytics.entityEdges(kt.triples))
        .orderBy("id")
    }),
    // power-law census: (deg, n_nodes) histogram of the canonical
    // undirected entity graph — two partial-agg groupBys
    "kg_step_degdist" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.degreeHistogram(
        graft.query.GraphAnalytics.entityEdges(kt.triples))
        .orderBy("deg")
    }),
    // ontology summary: per predicate, triple count and distinct
    // subject/object cardinalities over the canonical triple set
    "kg_step_predstats" -> ((s, d) => {
      val kt = kg(s, d)
      kt.triples.groupBy("pred")
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("subj")).as("n_subj"),
          countDistinct(col("obj")).as("n_obj"))
        .orderBy("pred")
    }),
    // local clustering structure over the same canonical graph: per-entity
    // triangle/wedge counts via degree-ordered edge orientation
    "kg_step_triangles" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.GraphAnalytics.triangleCounts(
        graft.query.GraphAnalytics.entityEdges(kt.triples))
        .orderBy("id")
    }),
    // computed per-page dominance (≙ CHK iterative idom,
    // `dom/DominatorTree.java:162-226`): idom(b) -> b over each page's
    // NEXT_MENTION ∪ SAME_SENTENCE DAG from the page's first mention
    "kg_step_dom" -> ((s, d) => {
      val kt = kg(s, d)
      graft.extract.Dominance.compute(s, kt.nodes, kt.edges)
        .filter(col("kind") === graft.extract.Dominance.Dom)
        .select("pageId", "src", "dst").orderBy("pageId", "dst")
    }),
    // control dependence via the postdom chain walk (≙ CDGCreator.java:41-88)
    "kg_step_cdg" -> ((s, d) => {
      val kt = kg(s, d)
      graft.extract.Dominance.compute(s, kt.nodes, kt.edges)
        .filter(col("kind") === graft.extract.Dominance.Controls)
        .select("pageId", "src", "dst").orderBy("pageId", "src", "dst")
    }),
    // ≙ joern-location (joern-tools): resolve every Mention node to its
    // "pageUrl:sent:tokStart:tokEnd" source span via the location label join
    "kg_step_loc" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.Steps.withLocationLabel(kt.nodes)
        .filter(col("kind") === "Mention")
        .select("id", "location").orderBy("id")
    }),
    "kg_step_slice" -> ((s, d) => {
      val kt = kg(s, d)
      // deterministic seed set: orderBy(id) — a bare limit() samples
      // whatever partitions answer first, which no oracle can reproduce
      val seeds = kt.nodes.filter(col("kind") === "Mention").orderBy("id").limit(100)
      graft.query.Steps.forwardSlice(seeds, kt.edges, kt.nodes,
        symbols = Nil, depth = 2, kinds = Seq("LINKS_TO", "SAME_AS")).drop("props")
    }),
    // provenance traversal: Triple node -> SUBJ/OBJ mentions — the
    // derived-fact-to-origin walk the reference's exporters support
    // (`CSVDDGExporter.java:18-45`)
    "kg_step_prov" -> ((s, d) => {
      val kt = kg(s, d)
      val tn = kt.nodes.filter(col("kind") === "Triple")
        .select(col("id").as("triple_id"), col("code").as("pred"), col("pageId"))
      val se = kt.edges.filter(col("kind") === graft.model.Schema.EdgeKinds.Subject)
        .select(col("src").as("triple_id"), col("dst").as("subj_mention"))
      val oe = kt.edges.filter(col("kind") === graft.model.Schema.EdgeKinds.Object)
        .select(col("src").as("triple_id"), col("dst").as("obj_mention"))
      tn.join(se, "triple_id").join(oe, Seq("triple_id"), "left")
        .select("triple_id", "pred", "pageId", "subj_mention", "obj_mention")
        .orderBy("triple_id")
    }),
    "kg_step_nhash" -> ((s, d) => {
      // label frame restricted to the kinds incident to MENTIONS edges
      // (Page src, Mention dst): Triple/Host/Domain/Entity nodes can never
      // influence an in-frame label, so carrying them through 2 rounds of
      // join+checkpoint was pure traffic (~60% of the node table is Triple
      // provenance nodes). Oracle filters l0 identically. Seed frames come
      // from the session cache (nhashFrames) — the kernel rounds run fresh.
      val (ini, e) = nhashFrames(s, d)
      graft.query.Steps.neighborhoodHashFeaturesFrom(ini, e)
    }),
    // ≙ usesFiltered longest-match dedup over each page's mentions
    "kg_step_usesfiltered" -> ((s, d) => {
      val kt = kg(s, d)
      graft.query.Steps.longestMatchPerPage(
        kt.nodes.filter(col("kind") === "Mention")).drop("props")
        .orderBy("pageId", "id")
    }),
    // ≙ joern's flagship unsanitized-path taint query (dataflow.groovy:68-98):
    // source = each page's first linked mention, sink = its last; the path
    // must traverse the page's discourse chain without passing a "sanitizer"
    // mention (deterministically: mentions linked to entityId % 7 == 3)
    "kg_step_unsanitized" -> ((s, d) => {
      val kt = kg(s, d)
      val m = kt.flat.filter(col("rowKind") === "m" && col("entityId") >= 0)
        .select(col("pageId"), col("mentionId"), col("mentionIdx"), col("entityId"))
      val pairs = m.groupBy("pageId")
        .agg(min(struct(col("mentionIdx"), col("mentionId"))).as("s"),
          max(struct(col("mentionIdx"), col("mentionId"))).as("t"))
        .filter(col("s.mentionId") =!= col("t.mentionId"))
        .select(col("pageId"), col("s.mentionId").as("src"), col("t.mentionId").as("dst"))
      val kill = m.filter(pmod(col("entityId"), lit(7)) === 3)
        .select(col("mentionId").as("id"))
      graft.query.Steps.unsanitizedPairs(kt.nodes, kt.edges, pairs, kill,
        kinds = Seq(graft.model.Schema.EdgeKinds.NextMention))
        .orderBy("pageId")
    }),
    // ≙ the same taint question over the BRANCHING page graph (NEXT_MENTION
    // ∪ SAME_SENTENCE): shortest kill-avoiding distance per candidate pair
    "kg_step_unsanitized_dag" -> ((s, d) => {
      val kt = kg(s, d)
      val m = kt.flat.filter(col("rowKind") === "m" && col("entityId") >= 0)
        .select(col("pageId"), col("mentionId"), col("mentionIdx"), col("entityId"))
      val pairs = m.groupBy("pageId")
        .agg(min(struct(col("mentionIdx"), col("mentionId"))).as("s"),
          max(struct(col("mentionIdx"), col("mentionId"))).as("t"))
        .filter(col("s.mentionId") =!= col("t.mentionId"))
        .select(col("pageId"), col("s.mentionId").as("src"), col("t.mentionId").as("dst"))
      val kill = m.filter(pmod(col("entityId"), lit(7)) === 3)
        .select(col("mentionId").as("id"))
      graft.query.Steps.shortestUnsanitized(kt.nodes, kt.edges, pairs, kill,
        kinds = Seq(graft.model.Schema.EdgeKinds.NextMention,
          graft.model.Schema.EdgeKinds.SameSentence))
        .orderBy("pageId")
    }),
    // ≙ `statements`/`astNodes` via a build-time closure column: the chain
    // slice as ONE range-filtered join (no iteration — PlanSpec-pinned)
    "kg_step_chain_slice" -> ((s, d) => {
      val kt = kg(s, d)
      val seeds = kt.nodes.filter(col("kind") === "Mention" && col("childNum") === 0)
      graft.query.Steps.chainSliceByInterval(kt.nodes, seeds, depth = 5)
        .drop("props").orderBy("pageId", "childNum", "id")
    }),
    // ≙ the interproc parameter↔caller expansion (corefMentions): from the
    // 100 smallest mention nodes, through their linked entities, to ALL
    // co-referent mentions — two keyed hops over LINKS_TO
    "kg_step_coref" -> ((s, d) => {
      val kt = kg(s, d)
      val seeds = kt.nodes.filter(col("kind") === "Mention").orderBy("id").limit(100)
      graft.query.Steps.corefMentions(seeds, kt.edges, kt.nodes)
        .select("id", "kind", "code", "pageId", "childNum")
        .orderBy("id")
    }),
    // the CLI knn path as a driver-checked entry (≙ scripts/ml/joern-knn):
    // full-frame nhash bags → feature-hashed 64-dim embedding → exact
    // cosine top-5 for the min-id page. bruteForceTopK broadcasts the
    // corpus side and ranks via the bounded-heap aggregator
    "e4_knn_kg" -> ((s, d) => {
      val kt = kg(s, d)
      val emb = graft.ops.Similarity.featureHashEmbedding(
        graft.query.Steps.neighborhoodHashFeatures(kt.nodes, kt.edges,
          graft.model.Schema.EdgeKinds.Mentions).filter(col("pageId") =!= 0))
      val seed = kt.nodes.filter(col("kind") === "Page").agg(min(col("id")).as("id"))
      graft.ops.Similarity.bruteForceTopK(emb.join(seed, "id"), emb, k = 5)
        .select(col("query_id"), col("rank"), col("nn_id"),
          round(col("cosine") * 1e6).cast("long").as("score_q"))
        .orderBy("rank")
    }),
    // taken-branch navigation over the labeled flow edges: each page's
    // first mention hopped along its 'True' SAME_SENTENCE edge (= the
    // immediate in-sentence successor; ≙ FLOWS_TO flowLabel filtering)
    "kg_step_branch" -> ((s, d) => {
      val kt = kg(s, d)
      val seeds = kt.nodes.filter(col("kind") === "Mention" && col("childNum") === 0)
      graft.query.Steps.outLabeled(seeds, kt.edges, kt.nodes,
        graft.model.Schema.EdgeKinds.SameSentence, "True")
        .select("id", "kind", "code", "pageId", "childNum")
        .orderBy("id")
    }),
    // ≙ siblings (`ast.groovy:53-62`): co-children of each seed's parent
    // over MENTIONS, origin excluded per path, duplicates preserved
    "kg_step_siblings" -> ((s, d) => {
      val kt = kg(s, d)
      val seeds = kt.nodes.filter(col("kind") === "Mention").orderBy("id").limit(100)
      graft.query.Steps.siblings(seeds, kt.edges, kt.nodes,
        graft.model.Schema.EdgeKinds.Mentions)
        .select("id", "kind", "code", "pageId", "childNum")
        .orderBy("id", "childNum")
    }),
    // ≙ matchParents (`syntax/match.groovy:20-28`): the containment
    // ancestors (Page/Host/Domain) of the seed mentions, deduped
    "kg_step_ancestors" -> ((s, d) => {
      val kt = kg(s, d)
      val seeds = kt.nodes.filter(col("kind") === "Mention").orderBy("id").limit(100)
      graft.query.Steps.matchParents(seeds, kt.edges, kt.nodes,
        col("kind").isin("Page", "Host", "Domain"))
        .select("id", "kind", "code", "pageId", "childNum")
        .orderBy("id")
    }),
    // ≙ initGraphs/taintedArgs battery: head-entity pages (necessary-
    // condition prefilter) -> per-page graphlet -> sufficient check
    "kg_step_graphlet" -> ((s, d) => {
      val kt = kg(s, d)
      val m = kt.flat.filter(col("rowKind") === "m" && col("entityId") >= 0)
        .select(col("pageId"), col("mentionId"), col("mentionIdx"), col("entityId"))
      val seeds = m.filter(col("entityId") === 0L).groupBy("pageId")
        .agg(min(struct(col("mentionIdx"), col("mentionId"))).as("s"))
        .select(col("pageId"), col("s.mentionId").as("seed"))
      val cond = m.filter(pmod(col("entityId"), lit(5)) === 1)
        .select(col("mentionId").as("id"))
      graft.query.Steps.graphletReach(kt.nodes, kt.edges, seeds, cond,
        kinds = Seq(graft.model.Schema.EdgeKinds.NextMention,
          graft.model.Schema.EdgeKinds.SameSentence), depth = 3)
        .orderBy("pageId")
    }),

    // ---------------- Structured Streaming entries (oracled) ----------------
    // Real streaming runs (MemoryStream fed in ts-ordered micro-batches →
    // EventStream op → memory sink); oracle = the equivalent batch SQL over
    // the same events parquet. See streaming/StreamEntries.scala.
    "st1_stream_window" -> ((s, d) => graft.streaming.StreamEntries.streamWindow(s, d)),
    "st2_stream_sessionize" -> ((s, d) => graft.streaming.StreamEntries.streamSessionize(s, d)),
    "st3_stream_dedup" -> ((s, d) => graft.streaming.StreamEntries.streamDedup(s, d)),
    "st4_stream_join" -> ((s, d) => graft.streaming.StreamEntries.streamJoin(s, d)),
    // continuous-crawl ingest: streaming foreachBatch -> appendPages with
    // redelivered micro-batches; result must equal the full-rebuild oracle
    "st5_stream_ingest" -> ((s, d) => graft.streaming.StreamEntries.streamIngest(s, d)),
    "st6_stream_takedown" -> ((s, d) => graft.streaming.StreamEntries.streamTakedown(s, d))
  )

  /** Synthetic-media row count for the mm entries (shared with
    * VerifyOracle's media dump). */
  private[graft] val MmN = 2000

  /** documents ∪ (documents shifted by 1e6): plants exact duplicate pairs so
    * near-dup operators have deterministic positives at any scale. */
  private def dupedDocs(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents").select("doc_id", "text")
    base.unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  def oracles: Map[String, String] = KgOracleSql.map ++ Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_broadcast_join" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q5_semi_join" ->
      """SELECT count(*) AS n_with_orders FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q6_window_latest" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q7_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_topk" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 10""".stripMargin,
    "q9_setops" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,
    "q10_date_trunc" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin,
    "q12_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, length(p_name) AS name_len,
        | substring(p_name, 1, 5) AS prefix
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin,
    "q13_explode_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q14_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q15_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |ORDER BY user_id""".stripMargin,
    "q16_union_all" ->
      """SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0)""".stripMargin,
    "q17_case_agg" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) * 100
        |   // count(*) AS avg_value_c4
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_having" ->
      """SELECT l_partkey, count(*) AS n FROM lineitem
        |GROUP BY 1 HAVING count(*) >= 3 ORDER BY 1""".stripMargin,
    "q19_running_sum" ->
      """SELECT user_id, event_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q20_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | round(sqrt(l_extendedprice), 4) AS sq,
        | round(ln(l_extendedprice + 1.0), 4) AS ln,
        | round(pow(l_discount, 2.0), 6) AS disc2,
        | abs(l_quantity - 25.0) AS dev
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,
    "q22_first_last" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id,
        | max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
        | max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q24_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'view') AS view,
        | count(*) FILTER (event_type = 'purchase') AS purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_string_agg" ->
      """SELECT p_brand,
        | string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS types
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q31_array_funcs" ->
      """SELECT doc_id,
        | len(string_split_regex(text, '\s+')) AS n,
        | len(list_distinct(string_split_regex(text, '\s+'))) AS n_distinct,
        | array_to_string(list_sort(string_split_regex(text, '\s+'))[1:3], ' ') AS first3_sorted,
        | CAST(list_contains(string_split_regex(text, '\s+'), 'the') AS INT) AS has_the
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_range_frame" ->
      """SELECT event_id, user_id,
        | round(avg(value) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        |   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 4) AS trail_avg
        |FROM events ORDER BY event_id""".stripMargin,
    "q28_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, round(max(value), 2) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q29_range_join" ->
      """WITH m AS (SELECT epoch_us(min(ts)) // 1000000 AS t0 FROM events),
        |w AS (SELECT r.range AS window_id,
        |        t0 + r.range * 21600 AS ws, t0 + r.range * 21600 + 10800 AS we
        |      FROM range(40) r, m),
        |p AS (SELECT epoch_us(ts) // 1000000 AS pt FROM events)
        |SELECT window_id, count(*) AS n
        |FROM w JOIN p ON p.pt >= w.ws AND p.pt <= w.we
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "d2_ngram_jaccard" ->
      """WITH both_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(len(string_split_regex(text, '\s+')) - 2),
        |    i -> array_to_string(string_split_regex(text, '\s+')[i+1:i+3], ' '))) AS s
        |  FROM both_docs),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |rare0 AS (SELECT * FROM ex QUALIFY count(*) OVER (PARTITION BY g) <= 100),
        |rare AS (SELECT doc_id, g,
        |           count(*) OVER (PARTITION BY doc_id) AS sz FROM rare0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS asz, y.sz AS bsz, count(*) AS inter
        |  FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a, b, round(CAST(inter AS DOUBLE) / (asz + bsz - inter), 4) AS jaccard
        |FROM pairs WHERE CAST(inter AS DOUBLE) / (asz + bsz - inter) >= 0.8
        |ORDER BY a, b""".stripMargin,
    "e1_ann_bruteforce" ->
      """WITH sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
        |SELECT query_id, rank, nn_id, CAST(round(cs * 1e6) AS BIGINT) AS score_q FROM (
        |  SELECT query_id, nn_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, nn_id) AS rank
        |  FROM sims) WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "d9_bpe_tokens" ->
      """SELECT doc_id,
        | len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> '')) AS n_word_tokens,
        | len(list_filter(string_split_regex(text, '[A-Za-z0-9\s]+'), x -> x <> '')) AS n_punct_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d5_token_count" ->
      """SELECT doc_id,
        | len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d6_quality" ->
      """SELECT doc_id,
        | length(text) AS len,
        | len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        | round(CAST(length(text) - length(replace(replace(text, ' ', ''), 'e', '')) AS DOUBLE) / length(text), 4) AS space_e_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d10_dedup_keep" ->
      """WITH b AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |k AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM b GROUP BY 1)
        |SELECT b.doc_id, b.text FROM b
        |JOIN k ON md5(b.text) = k.h AND b.doc_id = k.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "d7_langid" -> langIdOracleSql,
    "d11_corpus_prep" -> corpusPrepOracleSql,
    // substring-level dedup: same tokenizer, same k=8 grams, same span-merge
    // rule (chain iff next start within k of previous start)
    "d12_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, unnest(list_transform(range(len(t) - 7),
        |    i -> struct_pack(p := i, g := array_to_string(t[i+1:i+8], ' ')))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |occ0 AS (SELECT doc_id, s.p AS p, s.g AS g FROM pg),
        |dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM occ0)
        |        GROUP BY g HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, p FROM occ0 WHERE g IN (SELECT g FROM dup)),
        |sp AS (SELECT doc_id, p,
        |         CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 8
        |              THEN 1 ELSE 0 END AS brk
        |       FROM occ WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |sg AS (SELECT doc_id, p,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS sid FROM sp)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |       CAST(max(p) + 8 AS BIGINT) AS span_end
        |FROM sg GROUP BY doc_id, sid ORDER BY doc_id, span_start""".stripMargin,
    "d13_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, unnest(list_transform(range(len(t) - 7),
        |    i -> array_to_string(t[i+1:i+8], ' '))) AS g
        |  FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |tr AS (SELECT DISTINCT doc_id, g FROM g WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM tr WHERE g IN (SELECT g FROM bench)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d14_shard_pack" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT doc_id, n_toks,
        |  CAST((sum(n_toks) OVER (ORDER BY doc_id) - n_toks) // 2000 AS BIGINT) AS shard_id
        |FROM n ORDER BY doc_id""".stripMargin,
    "d15_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |    i -> array_to_string(t[i+1:i+2], ' '))) AS g
        |  FROM toks WHERE len(t) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(max(n) AS BIGINT) AS top_bigram_n,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_rep_occ
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d18_seq_pack" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CAST((sum(n_toks) OVER (ORDER BY doc_id) - n_toks) // 2000 AS BIGINT) AS shard_id
        |  FROM n),
        |tk AS (SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |       FROM documents),
        |st AS (SELECT shard_id, flatten(list(t ORDER BY doc_id)) AS stream
        |       FROM sh JOIN tk USING (doc_id) GROUP BY shard_id),
        |sq AS (SELECT shard_id, unnest(list_transform(range((len(stream) + 127) // 128),
        |         i -> struct_pack(si := i, arr := stream[i*128+1 : (i+1)*128]))) AS s
        |       FROM st WHERE len(stream) > 0)
        |SELECT shard_id, s.si AS seq_idx, CAST(len(s.arr) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(s.arr, ' ')) AS seq_md5
        |FROM sq ORDER BY shard_id, seq_idx""".stripMargin,
    // same augmentation, RE2 twins of the Java patterns, 'g'-flagged
    // replaces (Spark regexp_replace is global by default)
    "d21_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or '
        |    || printf('%03d-%03d-%04d', doc_id % 1000, doc_id % 1000, doc_id % 10000) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
    // split is a pure function of md5('split:' || source) — the Spark
    // leakageSafeSplit selector, bit-exact
    "d20_leakage_split" ->
      """SELECT doc_id, lang, source,
        |  CASE WHEN sel < 8000 THEN 'train'
        |       WHEN sel < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang, source,
        |  CAST('0x' || substr(md5('split:' || source), 1, 12) AS BIGINT) % 10000 AS sel
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // selector mirrors CorpusOps.stratifiedSample bit-exactly: first 12 md5
    // hex chars of 'strat:<doc_id>' as an integer, mod 10000
    "d16_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 10000
        |  < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000 WHEN 'zh' THEN 10000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    // e2 runs with nProbe == nCentroids (exhaustive probing — see the query
    // comment), so the IVF plumbing must reproduce exact brute force
    "e2_ann_ivf" ->
      """WITH sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
        |SELECT query_id, rank, nn_id, CAST(round(cs * 1e6) AS BIGINT) AS score_q FROM (
        |  SELECT query_id, nn_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, nn_id) AS rank
        |  FROM sims) WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // ground truth is the full all-pairs sweep: the LSH path may not miss a
    // single >= 0.999 pair (identical vectors always collide; measured
    // non-identical max cosine is 0.52 — see the query comment)
    "e3_emb_neardup" ->
      """WITH both_v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
        |scored AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                           CAST(y.embedding AS DOUBLE[])) AS cs
        |  FROM both_v x JOIN both_v y ON x.vec_id < y.vec_id)
        |SELECT a, b, round(cs, 4) AS cosine FROM scored
        |WHERE cs >= 0.999 ORDER BY a, b""".stripMargin,

    // ---- streaming ≡ batch: the streaming runs above vs plain batch SQL ----
    "st1_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st2_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, epoch_us(min(ts)) AS start_us, count(*) AS n_events,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin,
    "st3_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "st4_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        | p.user_id, p.value
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1800 SECOND
        |ORDER BY 1, 2""".stripMargin
  )

  /** The shared lexicon-derived SQL fragments of the langId oracles:
    * (per-language hit-count columns, greatest-expression, argmax CASE arms)
    * — generated from the SAME stopword lists the Spark op uses. */
  private def langIdSqlParts: (String, String, String) = {
    val langs = graft.ops.TextAnalysis.stopWords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(t, x -> list_contains($lst, x))) AS h_$lang"
    }.mkString(",\n    ")
    val g = langs.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val cases = langs.map { case (l, _) => s"WHEN h_$l = $g THEN '$l'" }.mkString("\n    ")
    (hitCols, g, cases)
  }

  /** DuckDB twin of the composed d11 corpus-prep flow: exact-dedup keep →
    * en-language + token-count gates → per-source stats. Integer sums CAST
    * to BIGINT (DuckDB types them HUGEINT, which the driver's arrow path
    * can't hash-match). */
  private def corpusPrepOracleSql: String = {
    val (hitCols, g, cases) = langIdSqlParts
    s"""WITH keep AS (
       |  SELECT d.* FROM documents d
       |  JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
       |        FROM documents GROUP BY 1) k
       |    ON md5(d.text) = k.h AND d.doc_id = k.doc_id),
       |toks AS (
       |  SELECT doc_id, source, n_chars,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
       |  FROM keep),
       |h AS (
       |  SELECT doc_id, source, n_chars, len(t) AS n_toks,
       |    $hitCols
       |  FROM toks),
       |lab AS (
       |  SELECT *, CASE WHEN $g = 0 THEN 'unk'
       |    $cases
       |    END AS pred_lang
       |  FROM h)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM lab WHERE pred_lang = 'en' AND n_toks >= 5
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.TextAnalysis.langId]], generated from the
    * SAME stopword lists (one source of truth; integer argmax, lang-ascending
    * tie-break, zero hits -> 'unk'). */
  private def langIdOracleSql: String = {
    val (hitCols, g, cases) = langIdSqlParts
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, len(t) AS nt,
       |    $hitCols
       |  FROM toks)
       |SELECT doc_id,
       |  CASE WHEN $g = 0 THEN 'unk'
       |    $cases
       |    END AS pred_lang,
       |  CAST($g AS BIGINT) AS n_hits,
       |  CAST(nt AS BIGINT) AS n_toks
       |FROM h ORDER BY doc_id""".stripMargin
  }
}
