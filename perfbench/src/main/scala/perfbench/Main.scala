package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.store.TableIO

/** Runs one workload in this JVM and prints its metrics, then one JSON
  * result line: `{"correct", "attempted", "failed", "metrics"}`.
  *
  *   perfbench.Main --workload build|increment|query --seed N --seconds S
  *                  --trace 0|1 --work DIR --fingerprints FILE
  *                  [--cores N] [--record]
  *
  * One client thread calls the engine and waits for each call. With
  * `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * traces every round and reports the per-layer metrics and the tracing
  * overhead. */
object Main {
  /** Repetitions of the input generation; `setup_s` uses their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, fingerprints: String, cores: Int, record: Boolean)

  def parseArgs(a: Seq[String]): Args = {
    def opt(k: String): Option[String] = a.indexOf(k) match {
      case -1 => None
      case i => a.lift(i + 1)
    }
    def req(k: String) = opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--work"), req("--fingerprints"),
      opt("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      a.contains("--record"))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parseArgs(argv.toSeq)
    val w = Workloads.byName(args.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    Recorded.expected = Recorded.parse(
      new String(Files.readAllBytes(Paths.get(args.fingerprints)), "UTF-8"))
    Files.createDirectories(Paths.get(args.work))
    val code = try run(args, w) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: ${OpLog.describe(e)}")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(args: Args, w: Workload): Int = {
    val cpu0 = cpuTicks()
    val (spark, sessionS) = secondsOf(session(args.cores, args.work))
    val log = new OpLog
    val spans = new SpanLog
    val c = new Ctx(spark, args.work, args.seed, log, spans)
    try {
      val reps = (0 until SetupReps).map(_ => secondsOf(w.inputs(c))._2)
      val (_, baseS) = secondsOf(w.base(c))
      val (_, warmS) = secondsOf(w.warmUp(c))
      // untimed warm-up rounds: the JIT and Spark's caches settle before
      // timing; their outputs are still checked
      val (_, warmRoundsS) = secondsOf((0 until w.warmRounds).foreach { r =>
        log.round(t => w.round(c, t, r, traced = false).left.toOption, keep = false)
      })
      spans.clear()
      val setupS = sessionS + Stats.median(reps) + baseS + warmS + warmRoundsS
      println(f"[perfbench] setup: session $sessionS%.3f s, inputs " +
        reps.map(x => f"$x%.3f").mkString(" / ") + f" s, base $baseS%.3f s, warm-up $warmS%.3f s" +
        f" + ${w.warmRounds}%d round(s) $warmRoundsS%.3f s")

      val listener = new LayerListener
      if (args.trace) spark.sparkContext.addSparkListener(listener)
      val rates = mutable.ArrayBuffer.empty[Double]
      val extras = mutable.ArrayBuffer.empty[Map[String, Double]]
      var measured = 0.0
      var r = w.warmRounds
      while ((measured < args.seconds || r - w.warmRounds < w.minRounds) && r < w.maxRounds) {
        var opS = 0.0
        log.round { t =>
          val res = try w.round(c, t, r, args.trace) finally opS = t.pending.map(_._2).sum
          res match {
            case Right((units, ex)) =>
              rates += units / opS
              extras += ex
              None
            case Left(err) => Some(err)
          }
        }
        println(f"[perfbench] round $r%d: op a + op b $opS%.3f s")
        measured += opS
        r += 1
      }
      if (args.trace) {
        Trace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val traceReport = listener.resolve(spans.spans, w.spanLayer)
      w.finish(c)

      println(basisLine(args, w, spark, stealShare(cpu0, cpuTicks())))
      if (args.record) println("[perfbench] observed fingerprints " +
        Recorded.observed.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))
      log.errorMessages.foreach(e => println(s"[perfbench] FAILED $e"))
      val a = log.samplesOf("a")
      val b = log.samplesOf("b")
      if (a.isEmpty || b.isEmpty) {
        println("[perfbench] no round passed; no result")
        return 1
      }
      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) Seq(
          ("setup_s", setupS, "s"),
          ("op_a_p50_s", Stats.median(a), "s"),
          ("op_b_p50_s", Stats.median(b), "s"),
          ("work_per_s", Stats.median(rates.toSeq), "1/s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        else perLayer(c, args.cores, traceReport, spans.spans, extras.toSeq, listener.handlerS)
      Seq("a" -> a, "b" -> b).foreach { case (cls, xs) =>
        val s = Stats.summarize(xs)
        println(f"[perfbench] ${w.name} op $cls: n=${s.n} p50=${s.p50}%.3f s " +
          s.p90.fold("p90=n/a (fewer than 100 samples)")(p => f"p90=$p%.3f s") + f" max=${s.max}%.3f s")
      }
      metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-40s $v%.6g $u") }
      if (args.trace) traceReport.byTag.toSeq.sortBy(-_._2.taskMs).foreach { case (tag, ag) =>
        println(f"[perfbench] tag $tag%-48s task_s=${ag.taskS}%.3f tasks=${ag.tasks}")
      }
      val correct = log.failed == 0
      println(resultLine(correct, log.attempted, log.failed, metrics))
      0
    } finally {
      spark.stop()
    }
  }

  /** Every name the traced run reports, in order; a metric a workload has
    * no use for reads 0. */
  val LayerSpecific: Seq[(String, String)] = Seq(
    "extract.cache_bytes" -> "bytes", "extract.rows_per_page" -> "count",
    "canon.sameas_pairs" -> "count", "canon.components" -> "count",
    "store.write_triples_task_s" -> "s", "store.write_nodes_task_s" -> "s",
    "store.write_edges_task_s" -> "s", "store.write_side_task_s" -> "s",
    "store.files_written" -> "count", "store.bytes_per_triple" -> "bytes",
    "store.files_per_bucket" -> "count",
    "incremental.buckets_rewritten" -> "count", "incremental.rewrite_amplification" -> "ratio",
    "incremental.remapped_ids" -> "count", "incremental.dead_pairs" -> "count",
    "query.rows_out" -> "count", "query.scan_rows_per_row_out" -> "ratio")
  val SpanNames: Seq[String] = Seq("op", "op_a", "op_b")

  def perLayerNames: Seq[(String, String)] = {
    val unitOf = new Agg().metrics.map(m => m._1 -> m._3).toMap
    Attribution.Layers.flatMap(l => Agg.MetricNames.map(m => s"$l.$m" -> unitOf(m))) ++
      Seq("other.task_s" -> "s") ++
      SpanNames.flatMap(s => Seq(s"span.$s.wall_s" -> "s", s"span.$s.self_s" -> "s",
        s"span.$s.busy_ratio" -> "ratio")) ++
      LayerSpecific ++
      Seq("trace.overhead_ratio" -> "ratio", "op_a.samples" -> "count", "op_b.samples" -> "count")
  }

  /** Per-layer metrics, as means per traced round. */
  def perLayer(c: Ctx, cores: Int, rep: Trace.Report, spans: Seq[Span],
               tracedExtras: Seq[Map[String, Double]], handlerS: Double)
      : Seq[(String, Double, String)] = {
    val n = math.max(1, spans.count(_.name == "op")).toDouble
    val v = mutable.Map.empty[String, Double]
    Attribution.Layers.foreach { l =>
      rep.byLayer.get(l).foreach(_.metrics.foreach { case (m, x, _) => v(s"$l.$m") = x / n })
    }
    v("other.task_s") = rep.byLayer.get(Attribution.Other).map(_.taskS).getOrElse(0.0) / n
    val self = SpanLog.selfTimes(spans)
    val children = spans.groupBy(_.parent)
    def taskUnder(s: Span): Double =
      rep.bySpan.get(s.id).map(_.taskS).getOrElse(0.0) +
        children.getOrElse(Some(s.id), Nil).map(taskUnder).sum
    SpanNames.foreach { name =>
      val ss = spans.filter(_.name == name)
      val wall = ss.map(_.wallS).sum
      v(s"span.$name.wall_s") = wall / n
      v(s"span.$name.self_s") = ss.map(s => self(s.id)).sum / n
      v(s"span.$name.busy_ratio") = if (wall > 0) ss.map(taskUnder).sum / (wall * cores) else 0.0
    }
    Seq("triples", "nodes", "edges", "side").foreach { k =>
      v(s"store.write_${k}_task_s") = rep.byTag.collect {
        case (t, a) if Attribution.writeKind(t).contains(k) => a.taskS
      }.sum / n
    }
    val ex = tracedExtras.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val ne = math.max(1, tracedExtras.size).toDouble
    ex.foreach { case (k, x) => if (k != "incremental.changed_rows") v(k) = x / ne }
    ex.get("incremental.changed_rows").foreach { changed =>
      val written = rep.byLayer.get("store").map(_.outputRecords).getOrElse(0L)
      v("incremental.rewrite_amplification") = written / math.max(1.0, changed)
    }
    ex.get("query.rows_out").foreach { rows =>
      val scanned = rep.byLayer.values.map(_.inputRecords).sum
      v("query.scan_rows_per_row_out") = scanned / math.max(1.0, rows)
    }
    canonExtras(c).foreach { case (k, x) => v(k) = x }
    // the listener's own handler time as a share of the traced wall time
    val wall = spans.filter(_.name == "op").map(_.wallS).sum
    v("trace.overhead_ratio") = if (wall > 0) handlerS / wall else 0.0
    v("op_a.samples") = c.log.samplesOf("a").size
    v("op_b.samples") = c.log.samplesOf("b").size
    perLayerNames.map { case (name, unit) => (name, v.getOrElse(name, 0.0), unit) }
  }

  /** Same-as pair and component counts of the run's final KG. */
  private def canonExtras(c: Ctx): Map[String, Double] = {
    val kg = c.dir("kg")
    if (TableIO.readManifest(s"$kg/components").isEmpty) Map.empty
    else Map(
      "canon.sameas_pairs" -> TableIO.read(c.spark, s"$kg/sameas_evidence")
        .select("a", "b").distinct().count().toDouble,
      "canon.components" -> TableIO.read(c.spark, s"$kg/components")
        .select("component").distinct().count().toDouble)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${jsonStr(n)}: {\"value\": ${numStr(v)}, \"unit\": ${jsonStr(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** A finite JSON number with all its digits. */
  def numStr(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  /** The host's aggregate CPU ticks from /proc/stat: (steal, total). */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Share of the host's CPU time taken by other tenants (steal) between two
    * readings. A run with a high share measured a slowed host, not the
    * engine. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else (to._1 - from._1).toDouble / total
  }

  def basisLine(args: Args, w: Workload, spark: SparkSession, steal: Double): String = {
    val memTotal = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1) + " kB").getOrElse("?")
    val b = Map(
      "workload" -> w.name, "seed" -> args.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> args.cores.toString, "mem_total" -> memTotal,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "num_buckets" -> Workloads.Buckets.toString,
      "output_fs" -> fsTypeOf(args.work),
      "source" -> sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown"),
      "layout" -> layoutTag(spark),
      "setup_reps" -> SetupReps.toString, "run_seconds" -> args.seconds.toString,
      "cpu_steal_share" -> f"$steal%.3f") ++
      w.basis
    "[perfbench] basis " + b.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ", ", "}")
  }

  /** The table layout the numbers were measured on. */
  def layoutTag(spark: SparkSession): String = {
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    val cache = if (spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "true")
      "compressed" else "plain"
    s"bucketed${Workloads.Buckets}-parquet-$codec-cache-$cache"
  }

  /** File-system type of the mount holding `dir` (tmpfs or a disk). */
  def fsTypeOf(dir: String): String = {
    val path = Paths.get(dir).toAbsolutePath.normalize.toString
    scala.io.Source.fromFile("/proc/mounts").getLines().map(_.split(" "))
      .filter(f => f.length > 2 && (path == f(1) || path.startsWith(f(1).stripSuffix("/") + "/")))
      .toSeq.sortBy(-_(1).length).headOption.map(_(2)).getOrElse("?")
  }
}
