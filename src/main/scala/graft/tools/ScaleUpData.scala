package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Deterministic 10×-class scale-up of the driver's synthetic relational
  * tables (TESTDATA.md shape) — no external data, pure replication with
  * key shifts, so a `Verify` + DuckDB-oracle pass can run at an
  * sf1-class basis that does not exist on disk.
  *
  * Replica r (1..factor-1) shifts every primary/foreign key by
  * r·100,000,000 (far above any base key, and far above the +1,000,000
  * in-query shifts e3/d17 apply), keeping FK joins consistent within a
  * replica and disjoint across replicas. `region`/`nation` are dimension
  * constants and are copied as-is (FK targets unshifted). Text content is
  * kept verbatim (exact cross-replica duplicates are the realistic
  * corpus-growth shape and both engines see the same bytes); embeddings
  * are circularly ROTATED by r so cross-replica vectors decorrelate —
  * otherwise every vector gains 9 exact clones and the e-series top-k
  * fills with score ties while e3's all-pairs oracle output explodes.
  *
  * Output: one parquet FILE per table (<dst>/<t>.parquet), the layout the
  * DuckDB oracle reader expects.
  *
  *   sbt -batch "runMain graft.tools.ScaleUpData /root/testdata/sf0.1 /dev/shm/graft-sf1 10"
  */
object ScaleUpData {
  /** One-file-per-table is the DuckDB-oracle layout, but a coalesce(1)
    * write can emit a SINGLE row group (the 6M-row lineitem lands at
    * ~108 MB compressed < the 128 MB writer block), and a one-row-group
    * file is unsplittable — every scan of it runs one-task-serial no
    * matter the core count (the same trap ExecScaleProbe's corpus hit,
    * BASELINE.md "DRAM-attribution results"). A 4th CLI arg (row-group
    * MiB, default 16) caps the writer block so the single file stays
    * oracle-compatible AND splits ~8 ways at sf1. Pass 0 to restore the
    * writer default (the layout of the first sf1 artifacts). */
  private var rowGroupBytes: Long = 16L * 1024 * 1024

  private def writeOne(df: DataFrame, dst: String, name: String): Unit = {
    val tmp = s"$dst/_tmp_$name"
    val w = df.coalesce(1).write.mode("overwrite")
    (if (rowGroupBytes > 0) w.option("parquet.block.size", rowGroupBytes.toString)
     else w).parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for $name"))
    val target = java.nio.file.Paths.get(dst, s"$name.parquet")
    java.nio.file.Files.deleteIfExists(target)
    java.nio.file.Files.move(part.toPath, target)
    graft.store.TableIO.deleteRecursively(tmp)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/dev/shm/graft-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    if (args.length > 3) rowGroupBytes = args(3).toLong * 1024 * 1024
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local("graft-scaleup", cpus)
    import spark.implicits._

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val Off = 100000000L

    def scaled(name: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val reps = (0 until factor).map { r =>
        keyCols.foldLeft(base) { (d, c) =>
          d.withColumn(c, (col(c) + lit(Off * r)).cast("long"))
        }
      }
      writeOne(reps.reduce(_ unionByName _), dst, name)
      println(s"[scaleup] $name x$factor (shift ${keyCols.mkString(",")})")
    }

    Seq("region", "nation").foreach { name =>
      writeOne(spark.read.parquet(s"$src/$name.parquet"), dst, name)
      println(s"[scaleup] $name copied (dimension)")
    }
    scaled("customer", Seq("c_custkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("events", Seq("event_id", "user_id"))
    scaled("documents", Seq("doc_id"))

    // embeddings: shift vec_id AND rotate the vector by r — replicas must
    // not be exact clones (see scaladoc)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .as[(Long, Array[Float], Int)]
    val reps = (0 until factor).map { r =>
      emb.map { case (id, v, label) =>
        val rot = new Array[Float](v.length)
        var i = 0
        while (i < v.length) { rot(i) = v((i + r) % v.length); i += 1 }
        (id + Off * r, rot, label)
      }.toDF("vec_id", "embedding", "label")
    }
    writeOne(reps.reduce(_ unionByName _), dst, "embeddings")
    println(s"[scaleup] embeddings x$factor (rotated per replica)")
    spark.stop()
  }
}
