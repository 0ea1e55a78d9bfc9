package graft.util

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session policy as pure functions over a SparkConf: no session. */
class SessionsSpec extends AnyFunSuite with Matchers {
  private def conf(base: SparkConf = new SparkConf(false)) = Sessions.conf(base, "t", 4)
  private def compressed(master: String) =
    conf(new SparkConf(false).setMaster(master))
      .get("spark.sql.inMemoryColumnarStorage.compressed")

  test("an in-process master gets an uncompressed columnar cache") {
    Seq("local[4]", "local[*]", "local").foreach(compressed(_) shouldBe "false")
  }

  test("executor framing gets a compressed columnar cache") {
    Seq("local-cluster[1,2,1024]", "spark://h:7077").foreach(compressed(_) shouldBe "true")
  }

  test("without a submitted master the session runs at local[cores]") {
    val c = conf()
    c.get("spark.master") shouldBe "local[4]"
    c.get("spark.sql.shuffle.partitions") shouldBe "4"
    c.get("spark.sql.session.timeZone") shouldBe "UTC"
    c.get("spark.ui.enabled") shouldBe "false"
    c.get("spark.driver.host") shouldBe "localhost"
  }

  test("a submitted in-process master is pinned to local[cores]") {
    Seq("local[32]", "local[*]", "local").foreach { m =>
      val c = Sessions.conf(new SparkConf(false).setMaster(m), "t", 2)
      c.get("spark.master") shouldBe "local[2]"
      c.get("spark.sql.shuffle.partitions") shouldBe "2"
    }
  }

  test("a submitted forked-executor master is not overridden") {
    conf(new SparkConf(false).setMaster("local-cluster[1,2,1024]"))
      .get("spark.master") shouldBe "local-cluster[1,2,1024]"
    val c = conf(new SparkConf(false).setMaster("spark://h:7077"))
    c.get("spark.master") shouldBe "spark://h:7077"
    c.get("spark.sql.shuffle.partitions") shouldBe "4"
    // the driver of a real cluster must stay reachable from its executors
    c.contains("spark.driver.host") shouldBe false
  }
}
