package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class FingerprintSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", "target/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rows = {
    import spark.implicits._
    Seq((1L, "a", Map("k" -> "v")), (2L, "b", Map.empty[String, String]),
      (3L, null, Map("x" -> "1", "y" -> "2"))).toDF("id", "code", "props")
  }

  test("fingerprints ignore row order, partitioning and file layout") {
    val fp = Fingerprint.of(rows)
    fp should startWith("3:")
    Fingerprint.of(rows.orderBy(col("id").desc)) shouldBe fp
    Fingerprint.of(rows.repartition(3)) shouldBe fp
    val base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val dir = java.nio.file.Files.createTempDirectory(base, "fp").toString + "/t"
    rows.repartition(2).write.parquet(dir)
    Fingerprint.of(spark.read.parquet(dir)) shouldBe fp
  }

  test("fingerprints see a changed, missing or duplicated row") {
    val fp = Fingerprint.of(rows)
    Fingerprint.of(rows.withColumn("code", when(col("id") === 2L, lit("c"))
      .otherwise(col("code")))) should not be fp
    Fingerprint.of(rows.filter(col("id") =!= 3L)) should not be fp
    Fingerprint.of(rows.union(rows.filter(col("id") === 1L))) should not be fp
    Fingerprint.of(rows.withColumn("props", when(col("id") === 1L, map(lit("k"), lit("w")))
      .otherwise(col("props")))) should not be fp
  }

  test("folded refcounts compare a delta log with a snapshot") {
    import spark.implicits._
    val log = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, -1L), (3L, 4L)).toDF("id", "n")
    val snapshot = Seq((1L, 3L), (3L, 4L)).toDF("id", "n")
    Fingerprint.of(Fingerprint.foldRefcounts(log)) shouldBe Fingerprint.of(snapshot)
  }

  test("parameter digests depend on order") {
    Fingerprint.digest(Seq("a", "b")) should not be Fingerprint.digest(Seq("b", "a"))
    Fingerprint.digest(Seq("ab")) should not be Fingerprint.digest(Seq("a", "b"))
  }
}
