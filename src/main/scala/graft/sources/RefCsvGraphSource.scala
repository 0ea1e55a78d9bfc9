package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Reader for the reference's nodes.csv / edges.csv TSV interchange format
  * (jpanlib `outputModules/csv/CSVWriterImpl.java:19-23,87-99`), mapped onto
  * graft's `nodes` / `edges` schema — the S5/S8 analog (SURVEY.md §2.1):
  * pre-parsed graph tables are a first-class source, so a joern export can
  * be loaded and queried with [[graft.query.Steps]] directly.
  *
  * Column mapping:
  *   key→id, type→kind, code→code, functionId→pageId, childNum→childNum;
  *   sparse attrs (location, isCFGNode, operator, baseType, completeType,
  *   identifier) fold into the `props` map, empties dropped.
  *   start→src, end→dst, type→kind, var→variable.
  *
  * Unlike the reference importer, dangling edges are COUNTED, not silently
  * dropped (`CSVImporter.java:209-222` logs at debug and skips) — the count
  * is the caller's data-quality metric.
  */
object RefCsvGraphSource {

  private def tsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // quoted fields may span lines (multi-line code values are normal in
      // reference exports, and writeNodes quotes embedded newlines the same
      // way) — without this a quoted '\n' splits the record mid-row
      .option("multiLine", "true")
      .csv(path)

  /** The fixed node columns (plus the importer's `command` directive — an
    * import instruction, not a property); everything else in the header is
    * a sparse property column (the reference's CSV header is dynamic —
    * CSVWriterImpl emits every property key present in the export, e.g.
    * location, isCFGNode, operator, baseType, completeType, identifier). */
  private val FixedNodeCols =
    Set("key", "type", "code", "functionId", "childNum", "command")

  /** Read a reference nodes.csv into the graft nodes shape
    * (id, kind, code, pageId, childNum, props). */
  def readNodes(spark: SparkSession, path: String): DataFrame = {
    val raw = tsv(spark, path)
    val present = raw.columns.filterNot(FixedNodeCols).sorted.toSeq
    val entries = present.flatMap(c => Seq(lit(c), col(c)))
    val propsCol =
      if (entries.isEmpty) map().cast("map<string,string>")
      else map_filter(map(entries: _*), (_, v) => v.isNotNull && v =!= "")
    raw.select(
      col("key").cast("long").as("id"),
      col("type").as("kind"),
      coalesce(col("code"), lit("")).as("code"),
      coalesce(col("functionId").cast("long"), lit(0L)).as("pageId"),
      coalesce(col("childNum").cast("int"), lit(0)).as("childNum"),
      propsCol.as("props"))
  }

  /** Read a reference edges.csv into the graft edges shape
    * (src, dst, kind, variable, label) — `flowLabel` is the reference's
    * True/False/except branch label on FLOWS_TO edges (CFGEdge.java:12-18). */
  def readEdges(spark: SparkSession, path: String): DataFrame = {
    val raw = tsv(spark, path)
    val varCol = if (raw.columns.contains("var")) col("var") else lit(null)
    val labelCol = if (raw.columns.contains("flowLabel")) col("flowLabel") else lit(null)
    raw.select(
      col("start").cast("long").as("src"),
      col("end").cast("long").as("dst"),
      col("type").as("kind"),
      varCol.cast("string").as("variable"),
      labelCol.cast("string").as("label"))
  }

  /** Write graft nodes in the reference's nodes.csv TSV shape — the export
    * half of the interchange loop (≙ CSVWriterImpl's dynamic header: the
    * fixed columns plus one column per property key present). Prop-key
    * vocabulary is collected driver-side (bounded: schema-sized, not
    * data-sized). */
  def writeNodes(nodes: DataFrame, path: String): Unit = {
    val keys = nodes.select(explode(map_keys(col("props"))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    // a props key named like a fixed column would emit a duplicate header
    // that the reader cannot disambiguate — refuse loudly
    val clash = keys.filter(FixedNodeCols)
    require(clash.isEmpty,
      s"writeNodes: props keys collide with fixed TSV columns: ${clash.mkString(",")}")
    val cols = Seq(col("id").as("key"), col("kind").as("type"), col("code"),
      col("pageId").as("functionId"), col("childNum")) ++
      keys.map(k => element_at(col("props"), k).as(k))
    nodes.select(cols: _*).write
      .option("sep", "\t").option("header", "true")
      .mode("overwrite").csv(path)
  }

  /** Write graft edges as the reference's edges.csv TSV. */
  def writeEdges(edges: DataFrame, path: String): Unit =
    edges.select(col("src").as("start"), col("dst").as("end"),
      col("kind").as("type"), col("variable").as("var"),
      col("label").as("flowLabel"))
      .write.option("sep", "\t").option("header", "true")
      .mode("overwrite").csv(path)

  /** FK validation (the S8 import check as a join, not per-row lookups):
    * returns (valid edges, dangling-edge count). */
  def validated(nodes: DataFrame, edges: DataFrame): (DataFrame, Long) = {
    val ids = nodes.select(col("id")).distinct()
    // pin the parsed edges once: the CSV would otherwise be re-parsed for
    // the valid set AND the total count; each pin's fill job counts it
    Materialize.withPins { pins =>
      val e = pins(edges)
      val valid = Materialize.pin(e.df
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
      (valid.df, e.count - valid.count)
    }
  }
}
