package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.store.TableIO

class StoreSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def freshDir(): String =
    Files.createTempDirectory("graft-store").toString + "/tbl"

  private def sample() = {
    import spark.implicits._
    (0 until 1000).map(i => (s"k$i", i.toLong)).toDF("key", "value")
  }

  test("write + read round-trip with manifest") {
    val dir = freshDir()
    val m = TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    m.buckets.keySet shouldBe (0 until 8).toSet
    m.buckets.values.sum shouldBe 1000L
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1000L
    back.agg(sum("value")).collect()(0).getLong(0) shouldBe (0 until 1000).map(_.toLong).sum
  }

  test("manifest lineage counts: per-bucket footer sums equal actual rows") {
    // the counts are read driver-side from parquet footers — this pins them
    // to the ground truth a full scan computes, per bucket, so a footer-path
    // regression (or a parquet library change) fails loudly
    val dir = freshDir()
    val m = TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    val actual = spark.read.parquet(s"$dir/data")
      .groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    m.buckets shouldBe actual
  }

  test("resume after simulated crash: only missing buckets recomputed, no dupes") {
    val dir = freshDir()
    val df = sample()
    // crash after committing buckets {0,1,2}
    TableIO.writeBucketed(df, dir, col("key"), numBuckets = 8, onlyBuckets = Some(Set(0, 1, 2)))
    TableIO.readManifest(dir).get.buckets.keySet shouldBe Set(0, 1, 2)
    TableIO.missingBuckets(dir, 8) shouldBe Set(3, 4, 5, 6, 7)
    // resume: full write call skips committed buckets
    val m2 = TableIO.writeBucketed(df, dir, col("key"), numBuckets = 8)
    m2.buckets.keySet shouldBe (0 until 8).toSet
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1000L // identical final table, no duplicate work output
    back.select("key").distinct().count() shouldBe 1000L
  }

  test("uncommitted partial files are cleared on resume") {
    val dir = freshDir()
    val df = sample()
    // commit 0..2, then write orphan files into bucket 3 without manifest entry
    TableIO.writeBucketed(df, dir, col("key"), numBuckets = 8, onlyBuckets = Some(Set(0, 1, 2)))
    val orphan = new java.io.File(s"$dir/data/bucket=3")
    orphan.mkdirs()
    Files.write(orphan.toPath.resolve("part-orphan.parquet"), Array[Byte](1, 2, 3))
    val m2 = TableIO.writeBucketed(df, dir, col("key"), numBuckets = 8)
    TableIO.read(spark, dir).count() shouldBe 1000L
  }

  test("rewriteBuckets: G3 delta patching — re-derive only changed buckets") {
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    // "the rules changed for key k7": find its bucket, re-derive it with
    // UPDATED content for the affected rows (rows hashing elsewhere drop)
    val b = TableIO.bucketOfSpark(spark, "k7", 8)
    val updated = sample().withColumn("value",
      when(col("key") === "k7", lit(9999L)).otherwise(col("value")))
    val m = TableIO.rewriteBuckets(updated, dir, col("key"), Set(b), numBuckets = 8)
    m.counters shouldBe Map("rows" -> 1000L)
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1000L
    back.filter(col("key") === "k7").head().getLong(1) shouldBe 9999L
    // untouched buckets kept their original rows (no duplicate work / rows)
    back.dropDuplicates("key").count() shouldBe 1000L

    // a whole-table overwrite of a missing table equals a build
    val built = freshDir()
    val fresh = freshDir()
    val mb = TableIO.writeBucketed(updated, built, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    val mo = TableIO.rewriteBuckets(updated, fresh, col("key"), (0 until 8).toSet,
      Map("rows" -> 1000L), numBuckets = 8)
    mo.buckets shouldBe mb.buckets
    mo.counters shouldBe mb.counters
    TableIO.read(spark, fresh).schema shouldBe TableIO.read(spark, built).schema
    TableIO.read(spark, fresh).collect().map(_.toString).sorted shouldBe
      TableIO.read(spark, built).collect().map(_.toString).sorted
  }

  test("empty table: commit succeeds, read returns schema'd empty frame") {
    import spark.implicits._
    val dir = freshDir()
    val empty = Seq.empty[(String, Long)].toDF("key", "value")
    val m = TableIO.writeBucketed(empty, dir, col("key"), numBuckets = 8)
    m.buckets.values.sum shouldBe 0L
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 0L
    back.columns.toSeq shouldBe Seq("key", "value")
  }

  test("committed tables read with their stamped schema: no job, same schema as inferred") {
    val out = Files.createTempDirectory("graft-store-kg").toString
    val t = Pipeline.run(spark, graft.model.PageGen.pages(spark,
      graft.model.PageGen.Config(nPages = 60)), 200)
    try Pipeline.materialize(spark, t, out, numBuckets = 4)
    finally { t.flatEnc.unpersist(false); t.components.unpersist(false) }
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val tables = Seq("triples", "nodes", "edges", "components", "sameas_evidence",
      "entity_refcounts")
    try tables.foreach { tb =>
      val dir = s"$out/$tb"
      // what parquet schema inference reads off the committed files
      val inferred = spark.read.parquet(s"$dir/data").drop("bucket").schema
      sc.addSparkListener(listener)
      val got = try {
        org.apache.spark.graft.BusDrain(sc)
        jobs.set(0)
        val s0 = TableIO.read(spark, dir).schema
        TableIO.read(spark, dir, Some(Set(1))).schema shouldBe s0
        org.apache.spark.graft.BusDrain(sc)
        s0
      } finally sc.removeSparkListener(listener)
      withClue(s"$tb: ") {
        jobs.get shouldBe 0
        got shouldBe inferred
      }
    } finally TableIO.deleteRecursively(out)
  }

  test("bucket-count mismatch on resume is rejected, not silently mixed") {
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8,
      onlyBuckets = Some(Set(0, 1)))
    val e = intercept[IllegalArgumentException] {
      TableIO.writeBucketed(sample(), dir, col("key")) // default 32 != 8
    }
    e.getMessage should include("bucket-count mismatch")
    // resuming with the RIGHT count works
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    TableIO.read(spark, dir).count() shouldBe 1000L
  }

  test("appendBucketed: new snapshot sums counts and counters, never rewrites committed files") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    val before = TableIO.readManifest(dir).get
    before.files should not be empty
    val batch = (1000 until 1300).map(i => (s"k$i", i.toLong)).toDF("key", "value")
    val m2 = TableIO.appendBucketed(batch, dir, col("key"), Map("rows" -> 300L), numBuckets = 8)
    m2.buckets.values.sum shouldBe 1300L
    m2.counters("rows") shouldBe 1300L
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1300L
    back.select("key").distinct().count() shouldBe 1300L
    // Iceberg semantics: the prior snapshot's files are all still claimed
    before.files.foreach { case (b, fs) => m2.files(b) should contain allElementsOf fs }
  }

  test("crashed append is invisible and wiped by the retry") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    // simulate a crashed append: a REAL parquet data file on disk that no
    // manifest commit ever claimed (copy of a committed file, new name)
    val bd = java.nio.file.Paths.get(dir, "data", "bucket=0")
    val ls = Files.list(bd)
    val committedFile =
      try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    val orphan = bd.resolve("part-crashed-append.parquet")
    Files.copy(committedFile, orphan)
    // snapshot-exact read: the orphan's rows are NOT visible
    TableIO.read(spark, dir).count() shouldBe 1000L
    // the retry wipes the orphan before writing, so nothing double-counts
    val batch = (1000 until 1100).map(i => (s"k$i", i.toLong)).toDF("key", "value")
    TableIO.appendBucketed(batch, dir, col("key"), numBuckets = 8)
    Files.exists(orphan) shouldBe false
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1100L
    back.select("key").distinct().count() shouldBe 1100L
  }

  test("rewriteBuckets: bucket-subset overwrite, stale files dropped after commit") {
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    val b = TableIO.bucketOfSpark(spark, "k7", 8)
    val staleFiles = TableIO.readManifest(dir).get.files(b)
    // self-referential overwrite: the rewritten frame READS the live table
    val bucketExpr = pmod(xxhash64(col("key")), lit(8)).cast("int")
    val rewritten = TableIO.read(spark, dir).filter(bucketExpr === b)
      .withColumn("value", when(col("key") === "k7", lit(9999L)).otherwise(col("value")))
    val m = TableIO.rewriteBuckets(rewritten, dir, col("key"), Set(b),
      Map("rewrites" -> 1L), numBuckets = 8)
    m.counters("rows") shouldBe 1000L
    m.counters("rewrites") shouldBe 1L
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1000L
    back.filter(col("key") === "k7").head().getLong(1) shouldBe 9999L
    back.select("key").distinct().count() shouldBe 1000L
    // the replaced files are physically gone; the new ones differ
    val after = TableIO.readManifest(dir).get.files(b)
    after.toSet.intersect(staleFiles.toSet) shouldBe empty
    staleFiles.foreach { f =>
      Files.exists(java.nio.file.Paths.get(dir, "data", s"bucket=$b", f)) shouldBe false
    }
  }

  test("one commit replaces some buckets and appends to the rest; " +
      "a crash before the swap changes nothing") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    val prior = TableIO.readManifest(dir).get
    val before = TableIO.snapshots(dir)
    val bucketExpr = pmod(xxhash64(col("key")), lit(8)).cast("int")
    val targets = Set(TableIO.bucketOfSpark(spark, "k7", 8), TableIO.bucketOfSpark(spark, "k8", 8))
    targets.size should be < 8
    // the targets' rows negated (a rewrite reading the live table) plus 300
    // new keys, which land in targets and other buckets alike
    val batch = (1000 until 1300).map(i => (s"k$i", i.toLong)).toDF("key", "value")
    val rows = TableIO.read(spark, dir).filter(bucketExpr.isin(targets.toSeq: _*))
      .withColumn("value", -col("value")).unionByName(batch)
    def onDisk: Map[Int, Set[String]] = (0 until 8).map { b =>
      val ls = Files.list(java.nio.file.Paths.get(dir, "data", s"bucket=$b"))
      try b -> ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally ls.close()
    }.toMap

    // a crash after the data files are out, before the manifest swap (the
    // counters are evaluated at the swap): the head and history stand
    intercept[IllegalStateException] {
      TableIO.commitBuckets(rows, dir, col("key"), targets, appendRest = true,
        _ => throw new IllegalStateException("crash before the swap"), numBuckets = 8)
    }
    TableIO.readManifest(dir).get shouldBe prior
    TableIO.snapshots(dir) shouldBe before
    TableIO.read(spark, dir).count() shouldBe 1000L
    onDisk.values.map(_.size).sum should be > prior.files.values.map(_.size).sum

    // the next commit wipes those orphans and commits exactly one snapshot
    val m = TableIO.commitBuckets(rows, dir, col("key"), targets, appendRest = true,
      TableIO.sumCounters(_, Map("rows" -> 300L)), numBuckets = 8)
    TableIO.snapshots(dir).filterNot(before.toSet) shouldBe Seq(m.snapshotId)
    m.counters("rows") shouldBe 1300L
    onDisk shouldBe (0 until 8).map(b => b -> m.files(b).toSet).toMap
    // bucket counts are the footers' (every file on disk is the head's)
    m.buckets shouldBe spark.read.parquet(s"$dir/data").groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // targets got new files only; the other buckets kept theirs and gained some
    targets.foreach(b => m.files(b).toSet.intersect(prior.files(b).toSet) shouldBe empty)
    (0 until 8).filterNot(targets).foreach { b =>
      m.files(b) should contain allElementsOf prior.files(b)
    }
    val bucketOf = TableIO.bucketsOfSpark(spark, (0 until 1300).map(i => s"k$i"), 8)
    val want = (0 until 1300).map { i =>
      val k = s"k$i"
      (k, if (i < 1000 && targets(bucketOf(k))) -i.toLong else i.toLong)
    }.sorted
    TableIO.read(spark, dir).as[(String, Long)].collect().sorted.toSeq shouldBe want
  }

  test("compact: append-fragmented buckets collapse to one file, content unchanged") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), Map("rows" -> 1000L), numBuckets = 8)
    TableIO.appendBucketed((1000 until 1200).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), Map("rows" -> 200L), numBuckets = 8)
    TableIO.appendBucketed((1200 until 1400).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), Map("rows" -> 200L), numBuckets = 8)
    val frag = TableIO.readManifest(dir).get
    frag.files.values.map(_.size).max should be > 1
    val compacted = TableIO.compact(spark, dir, col("key"), numBuckets = 8)
    compacted should not be empty
    val m = TableIO.readManifest(dir).get
    m.files.values.foreach(_.size should be <= 1)
    m.buckets shouldBe frag.buckets // per-bucket lineage counts unchanged
    m.counters("rows") shouldBe 1400L
    val back = TableIO.read(spark, dir)
    back.count() shouldBe 1400L
    back.select("key").distinct().count() shouldBe 1400L
    // idempotent: nothing left over the threshold
    TableIO.compact(spark, dir, col("key"), numBuckets = 8) shouldBe empty
  }

  test("time travel: append chain keeps every snapshot readable; expire reclaims") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    TableIO.appendBucketed((1000 until 1200).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), numBuckets = 8)
    TableIO.appendBucketed((1200 until 1500).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), numBuckets = 8)
    val ids = TableIO.snapshots(dir)
    ids.size should be >= 3
    ids shouldBe ids.sorted
    // as-of reads see exactly the corpus at each commit
    TableIO.readAt(spark, dir, ids.head).count() shouldBe 1000L
    TableIO.readAt(spark, dir, ids.last).count() shouldBe 1500L
    ids.sliding(2).foreach { case Seq(a, b) =>
      TableIO.readAt(spark, dir, a).count() should be <= TableIO.readAt(spark, dir, b).count()
    }
    // retention: keep head only — older snapshots drop from the listing
    TableIO.expireSnapshots(dir, keepLast = 0)
    TableIO.snapshots(dir) shouldBe Seq(ids.last)
    TableIO.read(spark, dir).count() shouldBe 1500L
    TableIO.deleteRecursively(dir)
  }

  test("time travel across a rewrite: vacuum=false retains, vacuum prunes honestly") {
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    val s0 = TableIO.readManifest(dir).get.snapshotId
    val b = TableIO.bucketOfSpark(spark, "k7", 8)
    val bucketExpr = pmod(xxhash64(col("key")), lit(8)).cast("int")
    def bumpK7(v: Long) = TableIO.read(spark, dir).filter(bucketExpr === b)
      .withColumn("value", when(col("key") === "k7", lit(v)).otherwise(col("value")))
    // retained rewrite: the pre-rewrite snapshot stays servable
    val s1 = TableIO.rewriteBuckets(bumpK7(7777L), dir, col("key"), Set(b), numBuckets = 8,
      vacuum = false).snapshotId
    TableIO.readAt(spark, dir, s0).filter(col("key") === "k7").head().getLong(1) shouldBe 7L
    TableIO.read(spark, dir).filter(col("key") === "k7").head().getLong(1) shouldBe 7777L
    // vacuuming rewrite: it deletes exactly the files IT replaced (the 7777
    // generation) — that snapshot drops from the listing instead of
    // dangling, while s0 (whose files the retained rewrite kept) still
    // serves its original content
    TableIO.rewriteBuckets(bumpK7(9999L), dir, col("key"), Set(b), numBuckets = 8)
    val left = TableIO.snapshots(dir)
    left should not contain s1
    left should contain(s0)
    TableIO.readAt(spark, dir, s0).filter(col("key") === "k7").head().getLong(1) shouldBe 7L
    left.foreach { sid => noException should be thrownBy
      TableIO.readAt(spark, dir, sid).count() }
    TableIO.read(spark, dir).filter(col("key") === "k7").head().getLong(1) shouldBe 9999L
    TableIO.read(spark, dir).count() shouldBe 1000L
    TableIO.deleteRecursively(dir)
  }

  test("history heal: a head that lost its history entry is served and re-recorded") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    val h = TableIO.appendBucketed(
      (1000 until 1100).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), numBuckets = 8).snapshotId
    // simulate the crash window between head swap and history write
    Files.delete(java.nio.file.Paths.get(dir, "_snapshots", s"$h.json"))
    TableIO.snapshots(dir) should contain(h) // the live head is still listed
    TableIO.readAt(spark, dir, h).count() shouldBe 1100L // served via head fallback
    // the next commit heals the gap durably
    TableIO.appendBucketed(
      (1100 until 1150).map(i => (s"k$i", i.toLong)).toDF("key", "value"),
      dir, col("key"), numBuckets = 8)
    Files.exists(java.nio.file.Paths.get(dir, "_snapshots", s"$h.json")) shouldBe true
    TableIO.readAt(spark, dir, h).count() shouldBe 1100L
    TableIO.deleteRecursively(dir)
  }

  test("a commit whose frame does not match the stamped schema is rejected") {
    import spark.implicits._
    val dir = freshDir()
    TableIO.writeBucketed(sample(), dir, col("key"), numBuckets = 8)
    val before = TableIO.snapshots(dir)
    val renamed = (1000 until 1100).map(i => (s"k$i", i.toLong)).toDF("key", "amount")
    val e = intercept[IllegalArgumentException] {
      TableIO.appendBucketed(renamed, dir, col("key"), numBuckets = 8)
    }
    e.getMessage should include("does not match the schema stamped")
    TableIO.snapshots(dir) shouldBe before
    TableIO.read(spark, dir).count() shouldBe 1000L
    // nullability is not part of the match: a nullable frame of the same
    // columns appends
    val nullable = (1000 until 1100).map(i => (s"k$i", Option(i.toLong))).toDF("key", "value")
    TableIO.appendBucketed(nullable, dir, col("key"), numBuckets = 8)
    TableIO.read(spark, dir).count() shouldBe 1100L
  }

  test("partKeys places each bucket in exactly its own reduce task") {
    // the commit's 1-bucket-per-write-task mapping depends on Spark's
    // INTERNAL HashPartitioning hash (Murmur3_x86_32, seed 42): a Spark
    // upgrade that changes it would silently degrade the bijection back to
    // skewed/empty writers (perf, not correctness). This pin fails loudly
    // instead: after repartitioning on the remapped key, every row's
    // physical partition id must equal its bucket id, for both the default
    // bucket count and an odd one.
    import spark.implicits._
    for (n <- Seq(TableIO.NumBuckets, 7)) {
      val keys = TableIO.partKeys(n)
      keys.distinct.length shouldBe n
      val placed = (0 until n * 10).map(_ % n).toDF("bucket")
        .repartition(n, element_at(typedLit(keys.toSeq), col("bucket") + 1))
        .select(col("bucket"), spark_partition_id().as("pid"))
      placed.filter(col("bucket") =!= col("pid")).count() shouldBe 0L
    }
  }

  test("manifest json round-trips") {
    val m = TableIO.Manifest(123L, Map(0 -> 10L, 5 -> 2L), Map("pagesIn" -> 7L))
    val dir = freshDir()
    TableIO.writeBucketed(spark.range(1).toDF(), dir, col("id"), Map("pagesIn" -> 7L), numBuckets = 1)
    val back = TableIO.readManifest(dir).get
    back.counters("pagesIn") shouldBe 7L
  }
}
