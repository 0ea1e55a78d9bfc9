package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Iteration-materialization policy shared by the fixpoint operators
  * (ConnectedComponents, Steps.selfReaching, neighborhoodHashFeatures, the
  * GraphAnalytics kernels). The RDD query kernels (PageRank and the BFS
  * closures behind `slice`, `path` and the SCC/bow-tie reach) use the RDD
  * overloads of `pin` and `iterate`, which apply the same policy.
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

  /** Pin a fixpoint INPUT frame that every round re-reads: reliable
    * checkpoint under the interval — executor loss must not take the only
    * copy of a frame the whole fixpoint depends on — eager localCheckpoint
    * otherwise. Neither keeps a partitioning a later join can use: under
    * AQE the pinned frame reports `UnknownPartitioning`, even after a
    * `repartition(col)`, so a join against it still plans its exchange.
    * Kernels that need co-partitioned rounds pin an RDD instead. */
  def pin(df: DataFrame): DataFrame =
    if (interval(df.sparkSession) > 0) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** RDD counterpart of `pin(df)`, in place: reliable checkpoint (kept
    * cached too) under the interval, localCheckpoint otherwise. The RDD's
    * partitioner survives. Returns its row count, the materializing
    * action's result. */
  def pin(spark: SparkSession, rdd: RDD[_]): Long = {
    if (interval(spark) > 0) { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
    else rdd.localCheckpoint()
    rdd.count()
  }

  /** Release a frame made by `pin`/`iterate` or any eager checkpoint. A
    * checkpointed frame is not registered with the cache manager, so
    * `Dataset.unpersist` leaves its blocks in place; this unpersists the
    * RDD under it. Any other frame is unpersisted the usual way. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** One operation's eager localCheckpoints, released together once no job
    * reads them. Thread-safe: concurrent `Par` chains pin into one set. */
  final class Pins {
    private val held = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def apply(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(eager = true)
      held.add(p)
      p
    }
    def releaseAll(): Unit = {
      var p = held.poll()
      while (p != null) { release(p); p = held.poll() }
    }
  }

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
