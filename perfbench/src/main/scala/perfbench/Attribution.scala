package perfbench

/** Maps a Spark SQL execution to the engine layer whose call ran it.
  *
  * An execution is tagged by the first rule that applies:
  *   1. the KG table it writes (`write:<table>`) or scans (`scan:<table>`),
  *      read from the physical plan text of its start event;
  *   2. the first engine (`graft.*`) frame of its call site
  *      (`site:<File.scala>`; a `graft.util` helper is named with its
  *      caller, `site:Materialize.scala@Pipeline.scala`).
  * Stage names are never used: under AQE every write stage is named after a
  * Spark-internal frame and the engine frame is lost.
  *
  * The layer then follows from the tag, the call site and the layer the
  * benchmark called into (the span's layer). */
object Attribution {
  val Layers: Seq[String] = Seq("extract", "canon", "pipeline", "store", "incremental", "query")
  val Other = "other"

  /** Table directories the engine writes; sidecars are folded into `side`. */
  val Tables: Seq[String] = Seq("triples", "nodes", "edges", "components",
    "sameas_evidence", "entity_refcounts", "canon_remap", "tags")

  private val tableAlt = Tables.mkString("|")
  // the formatted plan lists each node's details; a file write's arguments
  // start with its output path, a file scan names its root paths
  private val WriteRx = ("""Arguments: \w+:\S*/(""" + tableAlt +
    """)(?:\.new)?/data, (?:true|false),""").r
  private val ScanRx = ("""Location: \w+\s*(?:\(\d+ paths?\))?\s*\[\S*/(""" + tableAlt +
    """)(?:\.new)?/data""").r
  private val FrameRx = """^\s*(graft\.[\w.$]+)\.([^.(]+)\((\w+\.scala):\d+\)""".r

  /** An engine stack frame: its class (without the `$` suffix), method and
    * file. */
  final case class Frame(cls: String, method: String, file: String)

  def engineFrames(callSite: String): Seq[Frame] =
    callSite.split('\n').toSeq.flatMap { line =>
      FrameRx.findFirstMatchIn(line).map { m =>
        Frame(m.group(1).takeWhile(_ != '$'), m.group(2), m.group(3))
      }
    }

  /** Rule 1 then rule 2; `None` when neither applies. */
  def tag(planDescription: String, callSite: String): Option[String] =
    WriteRx.findFirstMatchIn(planDescription).map(m => s"write:${m.group(1)}")
      .orElse(ScanRx.findFirstMatchIn(planDescription).map(m => s"scan:${m.group(1)}"))
      .orElse(siteTag(engineFrames(callSite)))

  private def siteTag(frames: Seq[Frame]): Option[String] = frames match {
    case Seq(h, caller, _*) if isHelper(h) => Some(s"site:${h.file}@${caller.file}")
    case Seq(h, _*) => Some(s"site:${h.file}")
    case _ => None
  }

  private def isHelper(f: Frame): Boolean = f.cls.startsWith("graft.util.")

  /** Module of an engine class, `None` for classes outside the six layers
    * (model, functions, helpers). */
  def moduleOf(cls: String): Option[String] = cls match {
    case c if c.startsWith("graft.extract.") => Some("extract")
    case c if c.startsWith("graft.canon.") || c.startsWith("graft.link.") => Some("canon")
    case "graft.Pipeline" => Some("pipeline")
    case c if c.startsWith("graft.store.") => Some("store")
    case "graft.Incremental" => Some("incremental")
    case c if c.startsWith("graft.query.") || c == "graft.tools.KgCli" => Some("query")
    case _ => None
  }

  /** The layer that owns an execution:
    *   - a table write belongs to `store`;
    *   - otherwise the module of the first engine frame of the call site
    *     that lies in one of the six layers; a `graft.util` helper acts for
    *     its caller, except that `Materialize` pinning a frame for
    *     `Pipeline` runs the extraction into the flat cache (`extract`);
    *     `Pipeline.flatCounters` is `extract` too: inside `Incremental` the
    *     batch's extraction is lazy and runs when it first counts it;
    *   - otherwise a table scan belongs to the layer the benchmark called
    *     (a `KgCli` query is lazy, so no engine frame is on the stack when
    *     its result is collected);
    *   - anything else is `other`. */
  def layerOf(planDescription: String, callSite: String, spanLayer: String): String = {
    val t = tag(planDescription, callSite)
    if (t.exists(_.startsWith("write:"))) "store"
    else {
      val frames = engineFrames(callSite)
      val fromSite = frames match {
        case Seq(h, caller, _*) if h.cls == "graft.util.Materialize" &&
            caller.cls == "graft.Pipeline" => Some("extract")
        case Seq(Frame("graft.Pipeline", "flatCounters", _), _*) => Some("extract")
        case _ => frames.iterator.flatMap(f => moduleOf(f.cls)).nextOption()
      }
      fromSite.getOrElse(if (t.exists(_.startsWith("scan:"))) spanLayer else Other)
    }
  }

  /** Store sub-bucket of a write tag: triples, nodes, edges or side. */
  def writeKind(tag: String): Option[String] = tag match {
    case "write:triples" => Some("triples")
    case "write:nodes" => Some("nodes")
    case "write:edges" => Some("edges")
    case t if t.startsWith("write:") => Some("side")
    case _ => None
  }
}
