package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style table IO emulated over Parquet + a JSON snapshot manifest
  * (SURVEY.md §7.4 — no Iceberg jars on the image, so the required semantics
  * — atomic snapshot commit, per-partition checkpoint resume, lineage and
  * counter metrics — live behind this small interface; a real catalog drops
  * in by reimplementing it).
  *
  * Layout:
  *   dir/data/bucket=K/part-*.parquet   (key-hash bucketed data files)
  *   dir/_manifest.json                 (atomic: committed buckets, their
  *                                       files, counters)
  *   dir/_schema.json                   (the schema of the first commit)
  *   dir/_snapshots/<id>.json           (history, for [[readAt]])
  *
  * A table changes only through [[commitBuckets]], and every change has the
  * same crash story — new files first, atomic manifest swap, then delete —
  * the analog of the reference's transaction batches
  * (`CSVImporter.java:91-98`). One write job puts the new data files in the
  * bucket dirs; a file becomes VISIBLE only when the manifest lists it, and
  * the manifest is replaced atomically (tmp + ATOMIC_MOVE); only then are
  * the files it replaced deleted. Files a crashed commit left behind are
  * claimed by no snapshot and wiped by the next commit. The public entries
  * are its cases: [[writeBucketed]] builds a table and resumes a crashed
  * build (only the missing buckets are written — ≙ joern's
  * ArgumentTainter delta patching, SURVEY.md G3), [[appendBucketed]]
  * appends, and [[rewriteBuckets]] replaces a bucket subset, or with every
  * bucket the whole table.
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
      // a crashed write left behind are invisible. Every committed bucket
      // has an entry, empty or not.
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

  /** Build `dir` from `df`, resuming from an existing manifest: the buckets
    * not committed yet are written (committed ones are skipped — their input
    * rows are not even read upstream if the caller pushes a bucket filter
    * down), and the manifest states `counters`. On a fully committed table
    * it writes nothing and only re-states the counters. `counters` is
    * by-name and evaluated at the swap, so a caller may pass an Await on a
    * concurrently-computing counter job (Pipeline.materialize) and the
    * counter scan overlaps the data write.
    *
    * `onlyBuckets`: test hook to simulate a mid-job crash (write a subset,
    * commit a partial manifest, die).
    */
  def writeBucketed(
      df: DataFrame,
      dir: String,
      bucketKey: Column,
      counters: => Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets,
      onlyBuckets: Option[Set[Int]] = None): Manifest =
    commitBuckets(df, dir, bucketKey, missingBuckets(dir, numBuckets).filter(b =>
      onlyBuckets.forall(_(b))), appendRest = false, _ => counters, numBuckets)

  /** Append `df`'s rows as a NEW SNAPSHOT — the Iceberg append: new data
    * files land in the bucket dirs, and only the atomic manifest swap makes
    * them (and their lineage counts) visible. O(|df|) work — committed files
    * are never rewritten or even opened. `counters` are summed into the
    * prior snapshot's. A missing table is created. */
  def appendBucketed(
      df: DataFrame,
      dir: String,
      bucketKey: Column,
      counters: => Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets): Manifest =
    commitBuckets(df, dir, bucketKey, Set.empty, appendRest = true,
      sumCounters(_, counters), numBuckets)

  /** Rewrite the CONTENT of a bucket subset as a new snapshot — the Iceberg
    * overwrite: `df`'s rows in `buckets` replace those buckets' rows, and
    * rows hashing elsewhere are dropped. With every bucket this is the
    * whole-table overwrite (of a missing table too). `df` may read the table
    * itself (the usual case: a small-delta update joined against the
    * current snapshot). `addCounters` are summed into the prior's. */
  def rewriteBuckets(
      df: DataFrame,
      dir: String,
      bucketKey: Column,
      buckets: Set[Int],
      addCounters: Map[String, Long] = Map.empty,
      numBuckets: Int = NumBuckets,
      vacuum: Boolean = true): Manifest =
    commitBuckets(df, dir, bucketKey, buckets, appendRest = false,
      sumCounters(_, addCounters), numBuckets, vacuum)

  /** The one commit body: every change to a table's data files or manifest
    * is ONE write job and ONE manifest swap. `df`'s rows hashing into
    * `replace` (any subset of [0, numBuckets)) become those buckets' whole
    * content (a target may end up empty); with `appendRest`, rows hashing
    * into any other bucket are appended to it as new files, otherwise they
    * are dropped. So a merge-fallout rewrite and a batch append to the same
    * table commit together. `counters` maps the prior snapshot's counters
    * (empty for a missing table) to the new snapshot's; it is evaluated
    * only at the swap. The first commit stamps `df`'s schema
    * (`_schema.json`); every later one must match it by column name and
    * type. Nothing to write and unchanged counters commit nothing.
    *
    * Crash-safe without any caller-side materialization: the new data files
    * are written FIRST, the manifest swap atomically points the table at
    * them, and only then are the replaced files deleted — at no instant is a
    * committed row only in memory. A crash before the swap leaves invisible
    * orphans, wiped (with any earlier crash's, and any task output Spark's
    * committer left under `_temporary`) before the next write. Reads
    * resolve the manifest's file list eagerly, so a `df` reading the table
    * sees the prior snapshot throughout the write; no frame may read the
    * replaced files after the commit returns. With `vacuum=false` the
    * replaced files stay on disk so the prior snapshot stays
    * time-travelable ([[readAt]]); [[expireSnapshots]] reclaims. */
  def commitBuckets(
      df: DataFrame,
      dir: String,
      bucketKey: Column,
      replace: Set[Int],
      appendRest: Boolean,
      counters: Map[String, Long] => Map[String, Long],
      numBuckets: Int = NumBuckets,
      vacuum: Boolean = true): Manifest = {
    val all = (0 until numBuckets).toSet
    val prior = readManifest(dir)
    prior.foreach(m => require(m.numBuckets == numBuckets,
      s"bucket-count mismatch: table at $dir was written with ${m.numBuckets} buckets, " +
        s"this commit uses $numBuckets — mixing moduli would duplicate rows"))
    require(replace.subsetOf(all), s"bucket ids outside [0, $numBuckets): ${replace -- all}")
    require(!appendRest || prior.forall(_.buckets.keySet == all),
      s"append to $dir requires a fully-committed snapshot; missing buckets " +
        s"${all -- prior.map(_.buckets.keySet).getOrElse(all)}")
    // an append to a missing table fills every bucket
    val targets = if (appendRest && prior.isEmpty) all else replace
    val base = prior.getOrElse(Manifest(0L, Map.empty, Map.empty, numBuckets))
    val withBucket = df.withColumn("bucket",
      pmod(xxhash64(bucketKey), lit(numBuckets)).cast("int"))
    if (prior.isEmpty) {
      // an empty table has no data file to take its schema from
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "_schema.json"),
        withBucket.schema.json.getBytes(StandardCharsets.UTF_8))
    } else {
      // catalogString carries no nullability
      def shape(s: StructType) = s.fields.filter(_.name != "bucket")
        .map(f => f.name -> f.dataType.catalogString).toMap
      val stamped = stampedSchema(dir)
      require(shape(withBucket.schema) == shape(stamped),
        s"frame ${df.schema.simpleString} does not match the schema stamped at $dir: " +
          stamped.simpleString)
    }
    // wipe orphans of a crashed previous write: on disk but claimed by NO
    // snapshot (the history union keeps retained-but-replaced files
    // time-travelable)
    val claimed = claimedFiles(dir, base)
    // Hadoop's FileOutputCommitter reuses `_temporary/0` across jobs: the
    // task output of a crashed write would be published by this job's commit
    deleteRecursively(s"$dir/data/_temporary")
    all.foreach { b =>
      bucketFiles(dir, b).filterNot(claimed.getOrElse(b, Set.empty)).foreach { f =>
        Files.deleteIfExists(bucketFilePath(dir, b, f))
      }
    }
    // repartition on the bucket key so each bucket is written by one task:
    // without this, every input partition writes a file into every bucket
    // directory (P × B small files — the write anti-scales with cores).
    // The partition key is REMAPPED (see partKeys) so the mapping is exactly
    // 1 bucket : 1 reduce task
    if (appendRest || targets.nonEmpty) {
      val kept =
        if (appendRest) withBucket else withBucket.filter(col("bucket").isin(targets.toSeq: _*))
      kept.repartition(numBuckets, element_at(typedLit(partKeys(numBuckets).toSeq), col("bucket") + 1))
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
    }
    // this write's files: on disk, claimed by no snapshot (the orphans are
    // gone). Every target gets an entry, empty or not. Row counts come from
    // the footers, read driver-side: a Spark scan would be one more job
    val fresh: Map[Int, (Long, Seq[String])] = all.toSeq.flatMap { b =>
      val fs = bucketFiles(dir, b).filterNot(claimed.getOrElse(b, Set.empty))
      if (fs.isEmpty && !targets(b)) None
      else Some(b -> (fs.map(f => parquetRowCount(bucketFilePath(dir, b, f))).sum, fs))
    }.toMap
    val next = counters(base.counters)
    if (fresh.isEmpty && prior.exists(_.counters == next)) return prior.get
    val m = Manifest(
      nextSnapshotId(prior),
      base.buckets ++ fresh.map { case (b, (n, _)) =>
        b -> (if (targets(b)) n else base.buckets.getOrElse(b, 0L) + n) },
      next,
      numBuckets,
      base.files ++ fresh.map { case (b, (_, fs)) =>
        b -> (if (targets(b)) fs else base.files.getOrElse(b, Seq.empty) ++ fs) })
    writeManifestAtomic(dir, m)
    if (vacuum && targets.nonEmpty) {
      // the replaced files are invisible to the head now — reclaim the space
      // and drop the history entries that still named them (vacuum=false +
      // expireSnapshots keeps a rewrite chain time-travelable)
      targets.foreach { b =>
        base.files.getOrElse(b, Seq.empty).foreach(f => Files.deleteIfExists(bucketFilePath(dir, b, f)))
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

  /** Drop history entries [[readAt]] could no longer serve honestly (a
    * file missing: vacuumed by a rewrite), keeping `snapshots()` an honest
    * "what readAt can serve". */
  private def pruneHistoryExcept(dir: String, keepId: Long): Unit =
    snapshots(dir).filterNot(_ == keepId).foreach { sid =>
      readManifestAt(dir, sid).foreach { sm =>
        val readable = sm.files.forall { case (b, fs) =>
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
              bucketKey: Column,
              maxFilesPerBucket: Int = 1,
              numBuckets: Int = NumBuckets,
              vacuum: Boolean = true): Set[Int] = {
    val m = readManifest(dir).getOrElse(return Set.empty)
    val targets = m.files.filter(_._2.size > maxFilesPerBucket).keySet
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

  /** Read a committed table: only buckets listed in the manifest are visible.
    * Every read takes the schema stamped on the table's first commit
    * (`_schema.json`), so an empty snapshot reads back as an empty frame of
    * that schema and no read runs a schema-inference job. */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, None)

  /** As [[read]], restricted to a bucket subset: the pruning happens
    * driver-side (only the wanted buckets' files are even listed to Spark).
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
    frameFor(spark, dir, m, None)
  }

  private def frameFor(spark: SparkSession, dir: String, m: Manifest,
                       onlyBuckets: Option[Set[Int]]): DataFrame = {
    val visible = onlyBuckets match {
      case Some(bs) => m.buckets.keySet.intersect(bs)
      case None     => m.buckets.keySet
    }
    // snapshot-exact read: open ONLY the manifest-listed files, so data a
    // crashed write left on disk is invisible
    val listed: Seq[String] =
      m.files.toSeq.filter { case (b, _) => visible.contains(b) }
        .flatMap { case (b, fs) => fs.map(f => bucketFilePath(dir, b, f).toString) }
    val stamped = stampedSchema(dir)
    val df =
      if (listed.nonEmpty)
        spark.read.schema(stamped).option("basePath", s"$dir/data").parquet(listed: _*)
      else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stamped)
    df.filter(col("bucket").isin(visible.toSeq: _*)).drop("bucket")
  }

  /** The schema stamped on a table's first commit (`_schema.json`). */
  private def stampedSchema(dir: String): StructType =
    DataType.fromJson(new String(Files.readAllBytes(Paths.get(dir, "_schema.json")),
      StandardCharsets.UTF_8)).asInstanceOf[StructType]

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

  /** The bucket ids a commit assigns for a set of keys (xxhash64 pmod) —
    * ONE job for the whole key set. */
  def bucketsOfSpark(spark: SparkSession, keys: Seq[String],
                     numBuckets: Int = NumBuckets): Map[String, Int] = {
    import spark.implicits._
    keys.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(numBuckets)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  def bucketOfSpark(spark: SparkSession, key: String, numBuckets: Int = NumBuckets): Int =
    bucketsOfSpark(spark, Seq(key), numBuckets)(key)

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close() // the stream holds directory handles
    }
  }
}
