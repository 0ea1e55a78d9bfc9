package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The entry-point surface, read from the sources: one session builder and
  * an explicit list of mains, so a new probe main cannot land unseen. */
class EntryPointsSpec extends AnyFunSuite with Matchers {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[String, String] = {
    require(Files.isDirectory(root), s"run from the repository root (no $root)")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }

  private val Mains = Set(
    "graft.Bench", "graft.Verify", "graft.tools.KgCli",
    "graft.tools.AppendProbe", "graft.tools.CcBench", "graft.tools.ClusterFaultProbe",
    "graft.tools.CorpusSkewProbe", "graft.tools.DedupSkewProbe",
    "graft.tools.ExecScaleProbe", "graft.tools.GraphSkewProbe",
    "graft.tools.IngestFaultProbe", "graft.tools.ScaleUpData",
    "graft.tools.StreamBench", "graft.tools.TakedownScaleProbe")

  test("exactly one source file builds a SparkSession") {
    sources.collect { case (f, text) if text.contains("SparkSession.builder") => f }
      .toSet shouldBe Set("graft/util/Sessions.scala")
  }

  test("only TripleExtractor builds the extraction set-up") {
    // the metrics and the encoded extractor belong to TripleExtractor.flat:
    // a caller that builds its own would be a second extraction path
    val setUp = """new\s+(graft\.extract\.)?ExtractMetrics\b|extractFlatEnc\s*\(""".r
    sources.collect { case (f, text) if setUp.findFirstIn(text).isDefined => f }
      .toSet shouldBe Set("graft/extract/TripleExtractor.scala")
  }

  test("only Materialize checkpoints, so every pin follows its policy") {
    // a raw checkpoint bypasses the reliable-checkpoint interval and the
    // one release path
    sources.collect {
      case (f, text) if text.contains("localCheckpoint(") || text.contains(".checkpoint(") => f
    }.toSet shouldBe Set("graft/util/Materialize.scala")
  }

  test("only TableIO renames files, so every table change is a manifest commit") {
    // a rename swap of a table directory is a second overwrite protocol
    // with its own crash windows; ScaleUpData renames a generated part file
    sources.collect { case (f, text) if text.contains("Files.move(") => f }
      .toSet shouldBe Set("graft/store/TableIO.scala", "graft/tools/ScaleUpData.scala")
  }

  test("the objects defining main are exactly the allowlist") {
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mainDecl = """def main\s*\(""".r
    val found = sources.values.flatMap { text =>
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text).map(_.group(1)).get
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainDecl.findAllMatchIn(text).map { m =>
        val owner = objects.takeWhile(_._1 < m.start).lastOption.map(_._2)
        s"$pkg.${owner.getOrElse("<no object>")}"
      }
    }.toSeq
    found.sorted shouldBe Mains.toSeq.sorted
  }
}
