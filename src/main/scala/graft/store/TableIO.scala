package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table IO emulated over Parquet + a JSON snapshot manifest
  * (SURVEY.md §7.4 — no Iceberg jars on the image, so the required semantics
  * — atomic snapshot commit, per-partition checkpoint resume, lineage and
  * counter metrics — live behind this small interface; a real catalog drops
  * in by reimplementing it).
  *
  * Layout:
  *   dir/data/bucket=K/part-*.parquet   (host-hash bucketed data files)
  *   dir/_manifest.json                 (atomic: committed buckets + counters)
  *
  * Commit protocol: data for a bucket is written by Spark's normal task
  * commit; a data file becomes VISIBLE only when listed in the manifest, and
  * the manifest is replaced atomically (tmp + ATOMIC_MOVE) — the analog of
  * the reference's transaction batches (`CSVImporter.java:91-98`).
  * [[writeBucketed]] builds a table; resume = read manifest, write only
  * missing buckets (≙ joern's ArgumentTainter delta patching, SURVEY.md
  * G3). A committed table changes through [[commitBuckets]]: one write job
  * and one manifest swap that replaces a bucket subset and appends to the
  * other buckets, in any mix — [[appendBucketed]] and [[rewriteBuckets]]
  * are its pure-append and pure-overwrite cases. Files a crashed commit
  * left behind are claimed by no snapshot and wiped by the next commit.
  */
object TableIO {
  val NumBuckets = 32 // at cluster scale this is O(thousands); local[32] keeps 32

  final case class Manifest(
      snapshotId: Long,
      buckets: Map[Int, Long], // bucket -> row count (lineage counters)
      counters: Map[String, Long],
      numBuckets: Int = NumBuckets, // the hash modulus — resume MUST match
      // bucket -> data file names belonging to THIS snapshot (the Iceberg
      // manifest-file semantic): readers open exactly these files, so rows
      // a crashed append left behind are invisible until a manifest commit
      // claims them. Empty = legacy snapshot (pre-append format): every
      // file in the bucket dir is the snapshot's.
      files: Map[Int, Seq[String]] = Map.empty)

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest.json")

  def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else {
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      Some(parseManifest(txt))
    }
  }

  // Hand-rolled JSON for the tiny manifest shape (no extra deps allowed).
  private def renderManifest(m: Manifest): String = {
    val b = m.buckets.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val c = m.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // rendered LAST; values are flat arrays of Spark-generated part names
    // (no quotes/braces/commas inside a name), so the buckets/counters
    // index-scan parser above never crosses into this section
    val f = m.files.toSeq.sortBy(_._1)
      .map { case (k, fs) =>
        s""""$k":${fs.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")}""" }
      .mkString("{", ",", "}")
    s"""{"snapshotId":${m.snapshotId},"numBuckets":${m.numBuckets},"buckets":$b,"counters":$c,"files":$f}"""
  }

  private def parseManifest(s: String): Manifest = {
    def section(name: String): Map[String, Long] = {
      val i = s.indexOf("\"" + name + "\":{")
      if (i < 0) Map.empty
      else {
        val start = s.indexOf('{', i)
        val end = s.indexOf('}', start)
        val body = s.substring(start + 1, end).trim
        if (body.isEmpty) Map.empty
        else body.split(',').map { kv =>
          val Array(k, v) = kv.split(':')
          k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
        }.toMap
      }
    }
    val sid = {
      val i = s.indexOf("\"snapshotId\":")
      val rest = s.substring(i + 13).takeWhile(c => c.isDigit || c == '-')
      rest.toLong
    }
    val nb = {
      val i = s.indexOf("\"numBuckets\":")
      if (i < 0) NumBuckets
      else s.substring(i + 13).takeWhile(_.isDigit).toInt
    }
    // files section: one brace level, values are bracketed name arrays
    val files: Map[Int, Seq[String]] = {
      val i = s.indexOf("\"files\":{")
      if (i < 0) Map.empty
      else {
        val start = s.indexOf('{', i)
        val end = s.indexOf('}', start) // arrays contain no braces
        val body = s.substring(start + 1, end)
        "\"(\\d+)\":\\[([^\\]]*)\\]".r.findAllMatchIn(body).map { m =>
          val names =
            if (m.group(2).trim.isEmpty) Seq.empty[String]
            else m.group(2).split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
          m.group(1).toInt -> names
        }.toMap
      }
    }
    Manifest(sid, section("buckets").map { case (k, v) => k.toInt -> v },
      section("counters"), nb, files)
  }

  private def writeManifestAtomic(dir: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(dir))
    val hist = Paths.get(dir, "_snapshots")
    Files.createDirectories(hist)
    // heal: if the OUTGOING head never got its history entry (crash between
    // head swap and history write), record it now — history must only ever
    // contain snapshots that actually were the head
    readManifest(dir).foreach { prev =>
      val hp = hist.resolve(s"${prev.snapshotId}.json")
      if (!Files.exists(hp))
        Files.write(hp, renderManifest(prev).getBytes(StandardCharsets.UTF_8))
    }
    val tmp = Paths.get(dir, s"_manifest.json.tmp${m.snapshotId}")
    val bytes = renderManifest(m).getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // history entry AFTER the swap — a crash here is healed above / served
    // by readManifestAt's live-head fallback
    Files.write(hist.resolve(s"${m.snapshotId}.json"), bytes)
  }

  /** Key-wise sum of two counter maps (a key missing on one side is 0). */
  private[graft] def sumCounters(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  /** Monotonic snapshot id: wall clock, bumped past the prior head so two
    * commits in the same millisecond (or a clock step back) never collide
    * in the history directory. */
  private def nextSnapshotId(prior: Option[Manifest]): Long =
    math.max(System.currentTimeMillis(), prior.map(_.snapshotId + 1).getOrElse(Long.MinValue))

  /** Snapshot ids servable by [[readAt]], ascending (history + live head). */
  def snapshots(dir: String): Seq[Long] = {
    val hist = Paths.get(dir, "_snapshots")
    val listed =
      if (!Files.exists(hist)) Seq.empty[Long]
      else {
        val ls = Files.list(hist)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).toSeq
        finally ls.close()
      }
    (listed ++ readManifest(dir).map(_.snapshotId)).distinct.sorted
  }

  def readManifestAt(dir: String, snapshotId: Long): Option[Manifest] = {
    val p = Paths.get(dir, "_snapshots", s"$snapshotId.json")
    if (Files.exists(p))
      Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else readManifest(dir).filter(_.snapshotId == snapshotId)
  }

  /** Write `df` bucketed by hash of `bucketKeyCol` into `dir`, resuming from
    * an existing manifest (committed buckets are skipped — their input rows
    * are not even read upstream if the caller pushes `bucketFilter` down).
    * Returns the final manifest.
    *
    * `onlyBuckets`: test hook to simulate a mid-job crash (write a subset,
    * commit a partial manifest, die).
    */
  def writeBucketed(
      df: DataFrame,
      dir: String,
      bucketKey: org.apache.spark.sql.Column,
      // by-name: evaluated only at manifest-commit time, so a caller may pass
      // an Await on a concurrently-computing counter job (Pipeline.materialize)
      // and the counter scan overlaps the data write instead of preceding it
      counters: => Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets,
      onlyBuckets: Option[Set[Int]] = None): Manifest = {
    val prior = readManifest(dir)
    prior.foreach { m =>
      require(m.numBuckets == numBuckets,
        s"bucket-count mismatch: table at $dir was written with ${m.numBuckets} buckets, " +
          s"resume requested $numBuckets — mixing moduli would duplicate rows")
    }
    val committed: Map[Int, Long] = prior.map(_.buckets).getOrElse(Map.empty)

    val withBucket = df.withColumn("bucket",
      pmod(xxhash64(bucketKey), lit(numBuckets)).cast("int"))

    // schema stamp on first write: an empty table produces no data files at
    // all, so the reader needs somewhere to get the schema from. Written
    // driver-side as schema JSON — the old limit(0) parquet write was a full
    // Spark job + committer round per table, pure fixed overhead that the
    // high-core bench legs (and a real cluster's driver) pay 4× per snapshot
    if (prior.isEmpty) {
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "_schema.json"),
        withBucket.schema.json.getBytes(StandardCharsets.UTF_8))
    }

    val wanted: Set[Int] = {
      val all = (0 until numBuckets).toSet -- committed.keySet
      onlyBuckets.map(all.intersect).getOrElse(all)
    }
    if (wanted.isEmpty) {
      val m = Manifest(nextSnapshotId(prior), committed, counters, numBuckets,
        prior.map(m0 => backfillFiles(dir, m0)).map(_.files).getOrElse(Map.empty))
      writeManifestAtomic(dir, m)
      return m
    }

    // clear orphaned partial output of uncommitted buckets (a crash may have
    // left task files that never made it into a manifest)
    wanted.foreach(b => deleteRecursively(s"$dir/data/bucket=$b"))

    // repartition on the bucket key so each bucket is written by one task:
    // without this, every input partition writes a file into every bucket
    // directory (P × B small files — the write anti-scales with cores).
    // The partition key is REMAPPED (see partKeys) so the mapping is exactly
    // 1 bucket : 1 reduce task — a plain repartition(n, bucket) murmur-
    // hashes the bucket id, leaving ~1/3 of the write slots empty and
    // loading others with 2-3 buckets, a skewed write tail that wastes the
    // mid/high-core levels' parallelism
    val keys = partKeys(numBuckets)
    val pending = withBucket.filter(col("bucket").isin(wanted.toSeq: _*))
      .repartition(numBuckets, element_at(typedLit(keys.toSeq), col("bucket") + 1))
    pending.write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
    // lineage counters from parquet footers — metadata-only, no recompute.
    // Read driver-side (java.nio walk + footer row counts): this module's
    // whole snapshot protocol already assumes a POSIX-visible table dir (the
    // manifest moves are java.nio), and a footer read is a few KB per file —
    // the previous empty-schema Spark scan was a whole extra job (+32
    // scheduled tasks) per table, fixed overhead the high-core legs can't
    // amortize. At catalog scale (thousands of buckets on object storage)
    // this becomes the catalog's snapshot statistics, not a driver loop.
    val written: Map[Int, (Long, Seq[String])] = wanted.toSeq.flatMap { b =>
      val fs = bucketFiles(dir, b)
      if (fs.isEmpty) None
      else Some(b -> (fs.map(f => parquetRowCount(bucketFilePath(dir, b, f))).sum, fs))
    }.toMap

    val newBuckets = committed ++ wanted.map(b => b -> written.get(b).map(_._1).getOrElse(0L))
    // file lists: this write's files for the wanted buckets, the prior
    // snapshot's (backfilled for legacy priors) for the already-committed
    val priorFiles = prior.map(m0 => backfillFiles(dir, m0).files).getOrElse(Map.empty)
    val newFiles = priorFiles ++ wanted.map(b => b -> written.get(b).map(_._2).getOrElse(Seq.empty))
    val m = Manifest(nextSnapshotId(prior), newBuckets, counters, numBuckets, newFiles)
    writeManifestAtomic(dir, m)
    // writeBucketed is the DESTRUCTIVE path (fresh build / invalidated-bucket
    // recompute wipes bucket dirs): drop history entries it made unreadable
    pruneHistoryExcept(dir, m.snapshotId)
    m
  }

  /** Append `df`'s rows to an already fully-committed bucketed table as a
    * NEW SNAPSHOT — the Iceberg append: new data files land in the bucket
    * dirs, and only the atomic manifest swap makes them (and their lineage
    * counts) visible. O(|df|) work — committed files are never rewritten or
    * even opened. `counters` are summed into the prior snapshot's. With no
    * committed snapshot yet, this is a fresh [[writeBucketed]]. */
  def appendBucketed(
      df: DataFrame,
      dir: String,
      bucketKey: org.apache.spark.sql.Column,
      counters: => Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets): Manifest =
    commitBuckets(df, dir, bucketKey, Set.empty, appendRest = true, counters, numBuckets)

  /** Rewrite the CONTENT of a committed bucket subset as a new snapshot —
    * the Iceberg overwrite: `df`'s rows in `buckets` replace those buckets'
    * rows, and rows hashing elsewhere are dropped. `df` may read the table
    * itself (the usual case: a small-delta update joined against the
    * current snapshot). An empty `buckets` commits nothing. */
  def rewriteBuckets(
      df: DataFrame,
      dir: String,
      bucketKey: org.apache.spark.sql.Column,
      buckets: Set[Int],
      addCounters: Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets,
      vacuum: Boolean = true): Manifest =
    commitBuckets(df, dir, bucketKey, buckets, appendRest = false, addCounters, numBuckets, vacuum)

  /** The one commit body behind [[appendBucketed]] and [[rewriteBuckets]]:
    * ONE write job and ONE manifest swap. `df`'s rows hashing into
    * `replace` become those buckets' whole content (a target may end up
    * empty); with `appendRest`, rows hashing into any other bucket are
    * appended to it as new files, otherwise they are dropped. So a merge
    * fallout rewrite and a batch append to the same table commit together.
    *
    * Crash-safe without any caller-side materialization: the new data files
    * are written FIRST, the manifest swap atomically points the table at
    * them, and only then are the replaced files deleted — at no instant is a
    * committed row only in memory. A crash before the swap leaves invisible
    * orphans, wiped (with any earlier crash's) before the next write; reads
    * resolve the manifest's file list eagerly, so a `df` reading the table
    * never sees this commit's own output. `counters` are summed into the
    * prior snapshot's; they are evaluated only at the swap. With
    * `vacuum=false` the replaced files stay on disk so the prior snapshot
    * stays time-travelable ([[readAt]]); [[expireSnapshots]] reclaims. */
  def commitBuckets(
      df: DataFrame,
      dir: String,
      bucketKey: org.apache.spark.sql.Column,
      replace: Set[Int],
      appendRest: Boolean,
      counters: => Map[String, Long],
      numBuckets: Int = NumBuckets,
      vacuum: Boolean = true): Manifest = {
    val prior0 = readManifest(dir) match {
      case Some(m) => m
      case None if appendRest && replace.isEmpty =>
        return writeBucketed(df, dir, bucketKey, counters, numBuckets)
      case None => throw new IllegalStateException(s"no committed snapshot at $dir")
    }
    require(prior0.numBuckets == numBuckets,
      s"bucket-count mismatch: table at $dir has ${prior0.numBuckets} buckets, " +
        s"this commit uses $numBuckets")
    require(replace.subsetOf(prior0.buckets.keySet),
      s"rewrite targets must be committed buckets; uncommitted: " +
        s"${replace -- prior0.buckets.keySet}")
    require(!appendRest || prior0.buckets.keySet == (0 until numBuckets).toSet,
      s"append to $dir requires a fully-committed snapshot; missing buckets " +
        s"${(0 until numBuckets).toSet -- prior0.buckets.keySet}")
    if (replace.isEmpty && !appendRest) return prior0
    val prior = backfillFiles(dir, prior0)
    // a legacy prior adopted its on-disk files just now — persist that BEFORE
    // any new data file can land, otherwise a crash mid-write leaves orphans
    // that the next retry's backfill would adopt as committed (visible rows
    // with no lineage count)
    if (prior0.files.isEmpty && prior.files.nonEmpty) writeManifestAtomic(dir, prior)
    // wipe orphans of a crashed previous write: on disk but claimed by NO
    // snapshot (the history union keeps retained-but-replaced files
    // time-travelable)
    val claimed = claimedFiles(dir, prior)
    (0 until numBuckets).foreach { b =>
      bucketFiles(dir, b).filterNot(claimed.getOrElse(b, Set.empty)).foreach { f =>
        Files.deleteIfExists(bucketFilePath(dir, b, f))
      }
    }
    val withBucket = df.withColumn("bucket",
      pmod(xxhash64(bucketKey), lit(numBuckets)).cast("int"))
    val kept =
      if (appendRest) withBucket else withBucket.filter(col("bucket").isin(replace.toSeq: _*))
    val keys = partKeys(numBuckets)
    kept.repartition(numBuckets, element_at(typedLit(keys.toSeq), col("bucket") + 1))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
    // this write's files: on disk, claimed by no snapshot (the orphans are
    // gone). A replaced bucket may legitimately end up EMPTY (all rows
    // deduped away), so every target gets an entry
    val fresh: Map[Int, (Long, Seq[String])] = (0 until numBuckets).flatMap { b =>
      val fs = bucketFiles(dir, b).filterNot(claimed.getOrElse(b, Set.empty))
      if (fs.isEmpty && !replace(b)) None
      else Some(b -> (fs.map(f => parquetRowCount(bucketFilePath(dir, b, f))).sum, fs))
    }.toMap
    val m = Manifest(
      nextSnapshotId(Some(prior)),
      prior.buckets ++ fresh.map { case (b, (n, _)) =>
        b -> (if (replace(b)) n else prior.buckets.getOrElse(b, 0L) + n) },
      sumCounters(prior.counters, counters),
      numBuckets,
      prior.files ++ fresh.map { case (b, (_, fs)) =>
        b -> (if (replace(b)) fs else prior.files.getOrElse(b, Seq.empty) ++ fs) })
    writeManifestAtomic(dir, m)
    if (vacuum && replace.nonEmpty) {
      // the replaced files are invisible to the head now — reclaim the space
      // (this dangles any history snapshot still referencing them: readAt
      // of such a snapshot fails loudly on the missing file; keep
      // vacuum=false + expireSnapshots for a time-travelable rewrite chain)
      replace.foreach { b =>
        prior.files.getOrElse(b, Seq.empty).foreach { f =>
          Files.deleteIfExists(bucketFilePath(dir, b, f))
        }
      }
      pruneHistoryExcept(dir, m.snapshotId)
    }
    m
  }

  /** Every data file any retained snapshot (head or history) claims. */
  private def claimedFiles(dir: String, head: Manifest): Map[Int, Set[String]] = {
    val all = (head +: snapshots(dir).flatMap(readManifestAt(dir, _)))
      .flatMap(_.files.toSeq)
    all.groupBy(_._1).map { case (b, fs) => b -> fs.flatMap(_._2).toSet }
  }

  /** Drop history entries [[readAt]] could no longer serve honestly — files
    * missing (vacuumed / destructively recomputed) or a legacy no-file-list
    * shape — keeping `snapshots()` an honest "what readAt can serve". */
  private def pruneHistoryExcept(dir: String, keepId: Long): Unit =
    snapshots(dir).filterNot(_ == keepId).foreach { sid =>
      readManifestAt(dir, sid).foreach { sm =>
        val readable = (sm.files.nonEmpty || sm.buckets.isEmpty) &&
          sm.files.forall { case (b, fs) =>
            fs.forall(f => Files.exists(bucketFilePath(dir, b, f)))
          }
        if (!readable)
          Files.deleteIfExists(Paths.get(dir, "_snapshots", s"$sid.json"))
      }
    }

  /** Retention: keep the head plus the most recent `keepLast` READABLE
    * history snapshots; everything older is dropped from the history and
    * any data file referenced only by dropped snapshots is deleted.
    * History entries are removed FIRST, so a crash mid-delete leaves
    * harmless orphan files (wiped by the next append/rewrite), never a
    * listed-but-unreadable snapshot. */
  def expireSnapshots(dir: String, keepLast: Int): Unit = {
    val head = readManifest(dir).getOrElse(return)
    // unreadable entries must not count against the retention budget
    pruneHistoryExcept(dir, head.snapshotId)
    val ids = snapshots(dir).filterNot(_ == head.snapshotId)
    val drop = ids.dropRight(math.max(keepLast, 0))
    if (drop.isEmpty) return
    drop.foreach(sid => Files.deleteIfExists(Paths.get(dir, "_snapshots", s"$sid.json")))
    val keep = claimedFiles(dir, head)
    (0 until head.numBuckets).foreach { b =>
      bucketFiles(dir, b).filterNot(keep.getOrElse(b, Set.empty)).foreach { f =>
        Files.deleteIfExists(bucketFilePath(dir, b, f))
      }
    }
  }

  /** Compact an append-fragmented table: every bucket holding more than
    * `maxFilesPerBucket` data files is rewritten into one file (the write is
    * one task per bucket), through the same commit-before-delete overwrite
    * as [[rewriteBuckets]] — crash-safe, readers never see a partial state.
    * Content is unchanged; only the file layout is. This is the steady-state
    * answer to append-heavy tables' small-files problem: scan cost tracks
    * file count, so periodic compaction keeps reads O(buckets), not
    * O(appends). Returns the compacted bucket set. */
  def compact(spark: SparkSession, dir: String,
              bucketKey: org.apache.spark.sql.Column,
              maxFilesPerBucket: Int = 1,
              numBuckets: Int = NumBuckets,
              vacuum: Boolean = true): Set[Int] = {
    val m0 = readManifest(dir).getOrElse(return Set.empty)
    val m = backfillFiles(dir, m0)
    val targets = m.files.filter(_._2.size > maxFilesPerBucket).keySet
      .intersect(m.buckets.keySet)
    if (targets.isEmpty) return Set.empty
    rewriteBuckets(read(spark, dir, Some(targets)), dir, bucketKey, targets,
      numBuckets = numBuckets, vacuum = vacuum)
    targets
  }

  private def bucketFilePath(dir: String, b: Int, name: String): Path =
    Paths.get(dir, "data", s"bucket=$b", name)

  private def bucketFiles(dir: String, b: Int): Seq[String] = {
    val bd = Paths.get(dir, "data", s"bucket=$b")
    if (!Files.exists(bd)) Seq.empty
    else {
      val ls = Files.list(bd)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally ls.close()
    }
  }

  /** Legacy snapshots carry no file lists — adopt every on-disk file of the
    * committed buckets (single-writer; committed dirs are stable). */
  private def backfillFiles(dir: String, m: Manifest): Manifest =
    if (m.files.nonEmpty || m.buckets.isEmpty) m
    else m.copy(files = m.buckets.keySet.map(b => b -> bucketFiles(dir, b)).toMap)

  /** For each bucket b in [0, n): an int whose Spark murmur3 (seed 42, the
    * HashPartitioning hash) lands in partition b of n — computed with
    * Spark's own Murmur3_x86_32 so repartition(n, key) places bucket b's
    * rows in exactly reduce task b (bijective, no empty/doubled writers). */
  private val partKeyCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  private[graft] def partKeys(n: Int): Array[Int] =
    partKeyCache.computeIfAbsent(n, { n =>
      val keys = new Array[Int](n)
      val found = new Array[Boolean](n)
      var i = 0
      var remaining = n
      while (remaining > 0) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(i, 42)
        val b = ((h % n) + n) % n
        if (!found(b)) { found(b) = true; keys(b) = i; remaining -= 1 }
        i += 1
      }
      keys
    })

  private def hasDataFiles(dir: String): Boolean = {
    val d = Paths.get(dir, "data")
    if (!Files.exists(d)) false
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala.exists(p =>
        Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
      finally ls.close()
    }
  }

  /** Read a committed table: only buckets listed in the manifest are visible.
    * An empty snapshot reads back as an empty frame with the stamped schema
    * (`_schema.json`; pre-round-3 tables stamped a parquet `_schema` dir —
    * still honored). */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, None)

  /** As [[read]], restricted to a bucket subset: with file-list manifests the
    * pruning happens driver-side (only the wanted buckets' files are even
    * listed to Spark); legacy tables fall back to partition-column pruning.
    * This is the key-restricted point read — callers that know which buckets
    * a key set hashes into (xxhash64 pmod, [[bucketsOfSpark]]) touch
    * O(wanted) files, not the table. */
  def read(spark: SparkSession, dir: String, onlyBuckets: Option[Set[Int]]): DataFrame = {
    val m = readManifest(dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $dir"))
    frameFor(spark, dir, m, onlyBuckets)
  }

  /** Time travel: read the table AS OF a history snapshot ([[snapshots]]
    * lists what is servable). Append chains keep every snapshot readable by
    * construction (committed files are never touched); a vacuuming rewrite
    * drops replaced snapshots from the history. */
  def readAt(spark: SparkSession, dir: String, snapshotId: Long): DataFrame = {
    val m = readManifestAt(dir, snapshotId).getOrElse(
      throw new IllegalStateException(s"no snapshot $snapshotId in $dir/_snapshots"))
    // a legacy (no-file-list) manifest can only be read as "whatever is in
    // the directory" — for the LIVE head that is exactly right (same
    // semantics as read()), but serving it as a HISTORICAL snapshot would
    // silently include rows appended later; refuse instead of lying
    val isLiveHead = readManifest(dir).exists(_.snapshotId == snapshotId)
    if (m.files.isEmpty && m.buckets.nonEmpty && !isLiveHead)
      throw new IllegalStateException(
        s"snapshot $snapshotId of $dir predates file-granular manifests — not time-travelable")
    frameFor(spark, dir, m, None)
  }

  private def frameFor(spark: SparkSession, dir: String, m: Manifest,
                       onlyBuckets: Option[Set[Int]]): DataFrame = {
    val visible = onlyBuckets match {
      case Some(bs) => m.buckets.keySet.intersect(bs)
      case None     => m.buckets.keySet
    }
    // snapshot-exact read: open ONLY the manifest-listed files, so data a
    // crashed append left on disk is invisible (legacy manifests without
    // file lists fall back to the whole-directory read)
    val listed: Seq[String] =
      m.files.toSeq.filter { case (b, _) => visible.contains(b) }
        .flatMap { case (b, fs) => fs.map(f => bucketFilePath(dir, b, f).toString) }
    // the stamped schema spares every read a parquet schema-inference job
    val stamped = stampedSchema(dir)
    val df =
      if (listed.nonEmpty)
        stamped.fold(spark.read)(spark.read.schema(_))
          .option("basePath", s"$dir/data").parquet(listed: _*)
      else if (m.files.isEmpty && hasDataFiles(dir)) spark.read.parquet(s"$dir/data")
      else stamped.fold(spark.read.parquet(s"$dir/_schema"))(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), _))
    df.filter(col("bucket").isin(visible.toSeq: _*)).drop("bucket")
  }

  /** The schema stamped on a table's first write (`_schema.json`), if any. */
  private def stampedSchema(dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val js = Paths.get(dir, "_schema.json")
    if (!Files.exists(js)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(new String(Files.readAllBytes(js), StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  // one Configuration for all footer reads — construction parses the
  // hadoop config XMLs (tens of ms), which would dominate a 32-file loop
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Row count from a parquet footer (driver-side, metadata-only). */
  private def parquetRowCount(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Buckets still missing from the snapshot (what a resume will compute). */
  def missingBuckets(dir: String, numBuckets: Int = NumBuckets): Set[Int] =
    (0 until numBuckets).toSet -- readManifest(dir).map(_.buckets.keySet).getOrElse(Set.empty)

  /** The bucket ids [[writeBucketed]] assigns for a set of keys (xxhash64
    * pmod) — ONE job for the whole changed-key set, used to map changed
    * urls/ids to the buckets to invalidate. */
  def bucketsOfSpark(spark: SparkSession, keys: Seq[String],
                     numBuckets: Int = NumBuckets): Map[String, Int] = {
    import spark.implicits._
    keys.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(numBuckets)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  def bucketOfSpark(spark: SparkSession, key: String, numBuckets: Int = NumBuckets): Int =
    bucketsOfSpark(spark, Seq(key), numBuckets)(key)

  /** Incremental invalidation (≙ joern's ArgumentTainter delta patching,
    * SURVEY.md G3): drop the given buckets from the snapshot — atomically,
    * manifest first — so the next [[writeBucketed]] recomputes exactly them.
    * This is the "overwrite partitions by predicate" primitive: when a
    * rule-set or page subset changes, invalidate the buckets its keys hash
    * to and re-run materialize; everything else is untouched. */
  def invalidateBuckets(dir: String, buckets: Set[Int]): Unit = {
    readManifest(dir).foreach { m =>
      // manifest shrinks FIRST (rows in dropped buckets become invisible
      // immediately); orphaned data dirs are cleared lazily by the next
      // writeBucketed, which always wipes uncommitted bucket dirs
      writeManifestAtomic(dir,
        m.copy(snapshotId = nextSnapshotId(Some(m)), buckets = m.buckets -- buckets))
      buckets.foreach(b => deleteRecursively(s"$dir/data/bucket=$b"))
    }
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close() // the stream holds directory handles
    }
  }
}
