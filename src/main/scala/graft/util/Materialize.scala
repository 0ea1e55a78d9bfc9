package graft.util

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one owner of pins: every checkpoint in src/main is made here
  * (EntryPointsSpec checks it), and every pin is released through
  * [[release]] or [[Pins.releaseAll]] — never `Dataset.unpersist`, which
  * frees nothing on a checkpointed frame.
  *
  * Callers: [[pin]] (a pin its caller owns — the graph kernels' results,
  * the nhash seed frames, the Dedup/CorpusOps/Similarity pins a lazy
  * result still reads, the stream entries' and KgCli's detached tables);
  * [[Pins]]/[[withPins]] (one operation's temporary pins — `Incremental`,
  * `ConnectedComponents.auto`, the GraphAnalytics kernels,
  * `Steps.selfReaching`, Dedup's index passes,
  * `RefCsvGraphSource.validated`); `iterate` (the fixpoint rounds of
  * ConnectedComponents, labelPropagation, kCore, hitsInt, selfReaching,
  * the nhash kernel and k-means); the RDD `pin` and `iterate` (PageRank
  * and the BFS closures behind `slice`, `path` and the SCC/bow-tie reach).
  * All of them apply the same policy.
  *
  * Default: eager `localCheckpoint` — cheapest way to truncate lineage
  * (without it every iteration doubles the plan), but the blocks are
  * executor-local and unreplicated. On a real cluster, losing one executor
  * mid-fixpoint is then unrecoverable: the truncated lineage cannot
  * recompute the lost blocks, and at 100-TB job lengths executor loss is
  * the common case, not the corner case.
  *
  * Cluster mode: set `spark.graft.reliableCheckpointInterval=N` (plus a
  * `SparkContext.setCheckpointDir` on durable storage) and every Nth
  * iteration is written as a RELIABLE checkpoint; the iterations BETWEEN
  * reliable checkpoints are materialized with a plain eager `persist` —
  * lineage kept, NOT truncated. That distinction is what makes executor
  * loss survivable: a lost persisted block is recomputed by Spark's own
  * stage retry, walking the (≤ N-round) lineage back to the last reliable
  * snapshot, whereas a lost `localCheckpoint` block has no lineage at all
  * and fails the job (verified by `tools/ClusterFaultProbe`, which kills an
  * executor JVM mid-fixpoint under local-cluster and asserts bit-identical
  * completion with the interval set, and job failure without it). The
  * interval amortizes the DFS write: reliable checkpoints cost a full
  * write+read round trip, so N trades fault-recovery/replay time against
  * steady-state throughput (N≈5 keeps the overhead to one DFS write per 5
  * shuffle rounds, and bounds both the replay depth and the logical-plan
  * growth between truncations).
  *
  * Local default unchanged (0 = never reliable), matching the reference's
  * single-process execution model where process loss kills the job anyway.
  */
object Materialize {
  val IntervalKey = "spark.graft.reliableCheckpointInterval"

  private def interval(spark: SparkSession): Int =
    spark.conf.get(IntervalKey, "0").toInt

  /** Pin an RDD in place: reliable checkpoint (kept cached too) under the
    * interval, localCheckpoint otherwise — as [[Pins]] pins a frame. The
    * RDD's partitioner survives. Returns its row count, the materializing
    * action's result. */
  def pin(spark: SparkSession, rdd: RDD[_]): Long = {
    if (interval(spark) > 0) { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
    else rdd.localCheckpoint()
    rdd.count()
  }

  /** Release a frame made by [[Pins]], `iterate` or any eager checkpoint. A
    * checkpointed frame is not registered with the cache manager, so
    * `Dataset.unpersist` leaves its blocks in place; this unpersists the
    * RDD under it. Any other frame is unpersisted the usual way. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** What one job over a frame's rows counts: the rows and, per requested
    * key column, the buckets its values hash into — `pmod(xxhash64(key),
    * numBuckets)`, TableIO's bucketing. */
  final case class Tally(count: Long, buckets: Map[String, Set[Int]])

  /** A frame pinned by [[pin]], with the tally of the job that filled it. */
  final case class Pinned(df: DataFrame, count: Long, buckets: Map[String, Set[Int]])

  /** Pin `df` in place and fill it with ONE job, a [[tally]] that also
    * returns its row count and the buckets of `keys`: a reliable checkpoint
    * under the interval — executor loss must not take the only copy of a
    * frame a whole fixpoint or increment depends on — and a localCheckpoint
    * otherwise. Neither keeps a partitioning a later join can use: under
    * AQE the pinned frame reports `UnknownPartitioning`, even after a
    * `repartition(col)`, so a join against it still plans its exchange
    * (kernels that need co-partitioned rounds pin an RDD instead). The
    * caller owns the pin: a result pin goes to its caller, a temporary one
    * into a [[Pins]] set. */
  def pin(df: DataFrame, numBuckets: Int = 0, keys: Seq[String] = Nil): Pinned = {
    val reliable = interval(df.sparkSession) > 0
    // lazy: under AQE this still runs the plan's exchanges and leaves the
    // final stage to the tally job, whose end fills the checkpoint (Spark
    // checkpoints the marked ancestors of a job's RDD when the job ends)
    val p = if (reliable) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)
    // a reliable checkpoint writes after the job: keep the blocks so the
    // write does not recompute them
    if (reliable) p.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val t = try tally(p, numBuckets, keys: _*) catch { case e: Throwable => release(p); throw e }
    Pinned(p, t.count, t.buckets)
  }

  /** One operation's temporary pins, released together once no job reads
    * them ([[withPins]] does so in a `finally`). Superseded rounds may go
    * earlier through [[release]]; releasing one twice is harmless.
    * Thread-safe: concurrent `Par` chains pin into one set. */
  final class Pins(numBuckets: Int = 0) {
    private val held = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private def hold(df: DataFrame): DataFrame = { held.add(df); df }
    /** [[pin]] with this set's bucket count, held by the set. */
    def apply(df: DataFrame, keys: String*): Pinned = {
      val p = pin(df, numBuckets, keys)
      hold(p.df)
      p
    }
    /** [[iterate]], held by the set. */
    def iterate(df: DataFrame, iter: Int): DataFrame = hold(Materialize.iterate(df, iter))
    def releaseAll(): Unit = {
      var p = held.poll()
      while (p != null) { release(p); p = held.poll() }
    }
  }

  /** `f` with a fresh [[Pins]] set, released when `f` returns or throws. A
    * frame `f` returns must not read the set's pins: a result pin comes
    * from [[pin]]. */
  def withPins[T](f: Pins => T): T = {
    val pins = new Pins()
    try f(pins) finally pins.releaseAll()
  }

  /** Row count of `df` and the buckets of `keys`, in ONE job (plus the
    * exchanges `df`'s own plan needs): each partition counts and sets bits,
    * and the driver sums. A Dataset `count()` pays a second job for its
    * exchange to one partition. */
  def tally(df: DataFrame, numBuckets: Int, keys: String*): Tally = {
    val ords = keys.map(df.schema.fieldIndex).toArray
    val types = ords.map(df.schema(_).dataType)
    require(ords.isEmpty || numBuckets > 0,
      s"bucket sets of ${keys.mkString(",")} need numBuckets > 0")
    val n = numBuckets
    val parts = perPartition(df, "tally") { it =>
      val sets = Array.fill(ords.length)(new java.util.BitSet(n))
      var rows = 0L
      it.foreach { row =>
        rows += 1
        var i = 0
        while (i < ords.length) {
          val h = if (row.isNullAt(ords(i))) XxHashSeed
            else XxHash64Function.hash(row.get(ords(i), types(i)), types(i), XxHashSeed)
          sets(i).set((((h % n) + n) % n).toInt)
          i += 1
        }
      }
      (rows, sets)
    }
    val sets = Array.fill(ords.length)(new java.util.BitSet(n))
    parts.foreach { case (_, ss) => ss.indices.foreach(i => sets(i).or(ss(i))) }
    Tally(parts.map(_._1).sum, keys.zip(sets.map(_.stream().toArray.toSet)).toMap)
  }

  /** Row count of `df` in one job (see [[tally]]). */
  def count(df: DataFrame): Long = tally(df, 0).count

  /** Whether `df` has a row, in one job: each partition stops at its first. */
  def nonEmpty(df: DataFrame): Boolean = perPartition(df, "nonEmpty")(_.hasNext).contains(true)

  /** `f` over each partition of `df`'s rows, as one job run under a SQL
    * execution of `df` (as any Dataset action is, so listeners attribute it
    * to the same plan and call site). */
  private def perPartition[R: ClassTag](df: DataFrame, name: String)(
      f: Iterator[InternalRow] => R): Array[R] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.execute().mapPartitions(it => Iterator.single(f(it))).collect()
    }
  }

  /** `xxhash64`'s default seed. */
  private val XxHashSeed = 42L

  /** Materialize iteration `iter`'s frame eagerly; reliable checkpoint on
    * every Nth iteration when the interval is configured, recomputable
    * persist on the iterations in between, lineage-severing localCheckpoint
    * only when no interval is set. */
  def iterate(df: DataFrame, iter: Int): DataFrame = {
    val n = interval(df.sparkSession)
    if (n <= 0) df.localCheckpoint(eager = true)
    else if (iter % n == n - 1) df.checkpoint(eager = true)
    else {
      // eager persist WITHOUT lineage truncation: the plan grows for at most
      // n-1 rounds (bounded), and a block lost with its executor is
      // re-derived from the last reliable checkpoint by normal task retry
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
  }

  /** RDD counterpart of `iterate(df, iter)`, in place, with the same
    * contract: no interval → localCheckpoint; interval N → persist, plus a
    * reliable checkpoint on every Nth iteration. The caller unpersists the
    * superseded round's RDD. Returns the row count, the materializing
    * action's result. */
  def iterate(spark: SparkSession, rdd: RDD[_], iter: Int): Long = {
    val n = interval(spark)
    if (n <= 0) rdd.localCheckpoint()
    else {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      if (iter % n == n - 1) rdd.checkpoint()
    }
    rdd.count()
  }
}
