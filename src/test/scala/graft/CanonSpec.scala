package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.canon.ConnectedComponents
import graft.model.Det

class CanonSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(spark, edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def ufOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val uf = new Oracle.UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.components
  }

  test("chain") {
    cc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
  }

  test("star with hub (skew shape)") {
    val edges = (1L to 200L).map(i => (0L, i))
    val got = cc(edges)
    got.values.toSet shouldBe Set(0L)
    got.size shouldBe 201
  }

  test("two separate components + self-loop dropped") {
    cc(Seq((1L, 2L), (5L, 6L), (6L, 7L), (9L, 9L))) shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L)
  }

  test("two near-merged clusters bridge correctly") {
    val c1 = (1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    val c2 = (101L to 120L).sliding(2).map(s => (s(0), s(1))).toSeq
    cc(c1 ++ c2 ++ Seq((20L, 101L))).values.toSet shouldBe Set(1L)
  }

  test("auto cutover: local and distributed paths produce identical output") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (0L, 1L), (0L, 10L))
    val local = ConnectedComponents.auto(spark, edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.auto(spark, edges.toDF("a", "b"), cutover = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    local shouldBe dist
    local shouldBe ufOracle(edges)
  }

  test("union-find survives a 100k-deep chain added worst-case (no stack overflow)") {
    val uf = new graft.canon.ConnectedComponents.LocalUnionFind
    // decreasing order builds the deepest parent chains without compression
    (100000 to 1 by -1).foreach(k => uf.union(k.toLong - 1, k.toLong))
    val comps = uf.components
    comps(100000L) shouldBe 0L
    comps(1L) shouldBe 0L
  }

  test("reliable-checkpoint interval: distributed CC output identical with option on") {
    import spark.implicits._
    val edges = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((40L, 200L), (300L, 301L))
    val plain = cc(edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.util.Materialize.IntervalKey, "2")
    try {
      ConnectedComponents.run(spark, edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe plain
      // reliable snapshots were ACTUALLY written: setCheckpointDir eagerly
      // creates an empty UUID subdir, so listing the top level is vacuous —
      // require checkpoint DATA files (rdd-*/part-*) somewhere below it
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .count()
      dataFiles should be > 0L
    } finally {
      spark.conf.set(graft.util.Materialize.IntervalKey, "0")
    }
  }

  test("Materialize interval: intermediate rounds keep recomputable lineage, Nth is reliable") {
    import graft.util.Materialize
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sem").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Materialize.IntervalKey, "3")
    try {
      def frame = spark.range(50).toDF("id")
        .withColumn("x", org.apache.spark.sql.functions.col("id") * 2)
      // iterations 0 and 1 (interval 3): eager persist, lineage KEPT — the
      // plan is still the original tree, NOT a lineage-severing LogicalRDD,
      // so a block lost with its executor is recomputable back to the last
      // reliable checkpoint by normal task retry
      val mid = Materialize.iterate(frame, 0)
      mid.storageLevel.useMemory shouldBe true
      mid.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] shouldBe false
      mid.unpersist(false)
      // iteration 2 (the Nth): reliable checkpoint — plan replaced by a
      // checkpoint-backed LogicalRDD AND data files on the checkpoint dir
      val nth = Materialize.iterate(frame, 2)
      nth.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] shouldBe true
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .count()
      dataFiles should be > 0L
      // pin: inputs the whole fixpoint depends on are reliable under the
      // interval (an executor loss must not take their only copy)
      val pins = new Materialize.Pins
      pins(frame).df.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] shouldBe true
      pins.releaseAll()
    } finally {
      spark.conf.set(Materialize.IntervalKey, "0")
    }
  }

  test("a pin costs one job and carries its row count and key buckets") {
    import graft.util.Materialize
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import spark.implicits._
    val df = (0 until 200).map(i => (if (i % 17 == 0) null else s"u$i", i.toLong * 7919))
      .toDF("url", "id")
    // the buckets TableIO writes a key into, null keys included
    def want(c: String): Set[Int] = df.select(pmod(xxhash64(col(c)), lit(8)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val pins = new Materialize.Pins(8)
    org.apache.spark.graft.BusDrain(sc)
    sc.addSparkListener(listener)
    val p = try { val p = pins(df, "url", "id"); org.apache.spark.graft.BusDrain(sc); p }
      finally sc.removeSparkListener(listener)
    jobs.get shouldBe 1
    p.count shouldBe 200L
    p.buckets shouldBe Map("url" -> want("url"), "id" -> want("id"))
    p.df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] shouldBe true
    p.df.collect().toSet shouldBe df.collect().toSet
    sc.getPersistentRDDs.size shouldBe before + 1
    pins.releaseAll()
    sc.getPersistentRDDs.size shouldBe before
    // the same one-job tally over an unpinned frame
    Materialize.count(df.filter(col("id") > 7919L)) shouldBe 198L
    Materialize.nonEmpty(df.filter(col("id") < 0L)) shouldBe false
    Materialize.nonEmpty(df) shouldBe true

    // under the interval the pin is a reliable checkpoint, tallied the same
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-pins").toString
    sc.setCheckpointDir(dir)
    spark.conf.set(Materialize.IntervalKey, "2")
    try {
      val r = pins(df, "id")
      r.count shouldBe 200L
      r.buckets shouldBe Map("id" -> want("id"))
      r.df.collect().toSet shouldBe df.collect().toSet
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-"))
        .count() should be > 0L
      pins.releaseAll()
    } finally spark.conf.set(Materialize.IntervalKey, "0")
  }

  test("property: CC equals union-find on random graphs; invariant under edge order") {
    (0 until 5).foreach { trial =>
      val e = (0 until 60).map { i =>
        (Det.nextInt(Det.rand(trial.toLong, i.toLong, 1), 41).toLong,
          Det.nextInt(Det.rand(trial.toLong, i.toLong, 2), 41).toLong)
      }.filter { case (a, b) => a != b }
      val got = cc(e)
      got shouldBe ufOracle(e)
      cc(e.reverse) shouldBe got
    }
  }
}
