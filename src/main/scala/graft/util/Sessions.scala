package graft.util

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its `SparkSession`.
  *
  * An in-process master (`local`, `local[…]`, spark-submit's `local[*]`
  * default) is always replaced by `local[cores]`, so a main's core-count
  * argument sets its parallelism on every path. A forked-executor master
  * (`local-cluster[…]` for the executor-framing probes, a real cluster) is
  * kept. `cores` also sizes the shuffle: it is the caller's core count,
  * passed in because `defaultParallelism` reads 0 until a cluster's
  * executors register.
  *
  * The columnar cache codec follows the deployment (BASELINE.md). In one
  * process compression only costs cache-build CPU: uncompressed, the build
  * fell 22 s → 15 s at 2 cores. Under executor framing the cache bytes
  * cross process boundaries, and compressing them raised 1 → 4 executor
  * efficiency 0.776 → 0.842 and won wall time at both sizes.
  */
object Sessions {
  private def inProcess(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** The session config over `base` (the submit-time conf): pure, so the
    * policy is testable without a session. */
  private[graft] def conf(base: SparkConf, app: String, cores: Int): SparkConf = {
    val c = base.clone().setAppName(app)
    if (inProcess(c.get("spark.master", "local"))) c.setMaster(s"local[$cores]")
    val master = c.get("spark.master")
    // executors on this host reach the driver by loopback; a real
    // cluster's must not be told the driver is on localhost
    if (master.startsWith("local")) c.set("spark.driver.host", "localhost")
    c.set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.inMemoryColumnarStorage.compressed", (!inProcess(master)).toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
  }

  def local(app: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder().config(conf(new SparkConf(), app, cores)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
