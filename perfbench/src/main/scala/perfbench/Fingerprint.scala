package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent table fingerprints: row count plus the exact sum of a
  * 64-bit hash of each row's JSON form. Map columns hash through
  * `to_json`, so two tables with the same rows in any order, partitioning or
  * file layout agree, and a changed, missing or duplicated row does not. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val row = to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))
    val r = df.agg(count(lit(1)), sum(xxhash64(row).cast("decimal(38,0)"))).head()
    val s = Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    s"${r.getLong(0)}:${s.toPlainString}"
  }

  /** The entity refcount table is a delta log, equal to a rebuild only
    * once folded: the sum per entity, zero sums dropped. */
  def foldRefcounts(df: DataFrame): DataFrame =
    df.groupBy("id").agg(sum("n").as("n")).filter(col("n") =!= 0L)

  /** Order-dependent digest of a parameter list (batch indices, query
    * arguments): the sequence itself is part of the workload. */
  def digest(items: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    items.foreach { s => md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
