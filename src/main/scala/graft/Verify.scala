package graft
import java.nio.file.{Files, Paths}
import graft.util.{Json, Sessions}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    // Optional subset re-dump (comma-separated entry names): after an
    // oracle fix, re-verifying 2-3 entries at a large basis should not
    // cost a full 102-entry pass. oracle_sql.json is still written in
    // full, so a subsequent check run stays self-consistent.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // single-threaded oracle leaf dumps (the reference's
    // output-vs-in-memory-recompute test shape — see VerifyOracle); the
    // `{{ORA}}` placeholder in dump-backed oracle SQL resolves to wherever
    // THIS run wrote them, so the driver's DuckDB finds them regardless of
    // its outDir choice
    // Subset mode skips the (expensive, single-threaded) oracle leaf dump
    // unless a selected entry actually reads it via {{ORA}}.
    val needOra = only.forall(_.exists(n =>
      SparkEntry.oracleSql.get(n).exists(_.contains("{{ORA}}"))))
    if (needOra)
      try VerifyOracle.dump(spark, sfDir, outDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] oracle dump failed: ${e.getMessage}")
      }
    val oraDir = Paths.get(outDir).toAbsolutePath.normalize.toString + "/_oracle"
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v.replace("{{ORA}}", oraDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
