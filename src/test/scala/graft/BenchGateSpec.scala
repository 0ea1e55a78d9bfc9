package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.util.Json

/** The bench's fail-closed decisions, without running a bench. */
class BenchGateSpec extends AnyFunSuite with Matchers {
  private val armed = Bench.SentinelReport(0.3, 0.1, 1, q1Max = 0.62, q19Max = 0.30, armed = true)

  test("a headline query that throws is an error, not a timing, and rejects the artifact") {
    val (timings, errors) = Bench.timeQueries(Seq(
      "q1_agg" -> (() => ()),
      "kg_triples" -> (() => throw new IllegalStateException("lost executor"))))
    timings.map(_._1) shouldBe Seq("q1_agg")
    errors should have size 1
    errors.head should startWith("kg_triples: ")
    errors.head should include("lost executor")
    Bench.artifactPath(rejected = errors.nonEmpty, canonicalBasis = true, Map.empty) shouldBe
      "BENCH_REJECTED.json"
    Bench.artifactPath(rejected = false, canonicalBasis = true, Map.empty) shouldBe
      "BENCH_LATEST.json"
    Bench.artifactPath(rejected = false, canonicalBasis = false, Map.empty) shouldBe
      "BENCH_NONCANONICAL.json"
  }

  test("a missing sentinel reading is out of band") {
    armed.inBand(Seq("q1_agg" -> 0.3, "q19_running_sum" -> 0.1)) shouldBe true
    armed.inBand(Seq("q1_agg" -> 0.3)) shouldBe false
    armed.inBand(Seq("q19_running_sum" -> 0.1)) shouldBe false
    armed.inBand(Seq("q1_agg" -> 0.9, "q19_running_sum" -> 0.1)) shouldBe false
    // a disarmed gate passes everything; a failed query still rejects the
    // artifact through the error list
    armed.copy(armed = false).inBand(Nil) shouldBe true
  }

  test("the basis is the sf directory's basename, so sf10 is not sf1") {
    Bench.basisOf("/data/sf1") shouldBe "sf1"
    Bench.basisOf("/data/sf1/") shouldBe "sf1"
    Bench.basisOf("/data/sf10") shouldBe "sf10"
    Bench.basisOf("/data/sf0.1") shouldBe "sf0.1"
    Bench.basisOf("/data/sf0.10") shouldBe "sf0.10"
    Bench.basisOf("sf1") shouldBe "sf1"
    Bench.basisOf("/dev/shm/graft-sf1") shouldBe "graft-sf1"
  }

  test("the sf1-class basis at 32 cpus arms the sf1 band; sf10 and other core counts do not") {
    Seq("/dev/shm/graft-sf1", "/data/sf1").foreach { dir =>
      withClue(dir) {
        val g = Bench.sentinelGate(dir, 32, Map.empty)
        g.armed shouldBe true
        (g.q1Max, g.q19Max) shouldBe ((1.80, 0.40))
      }
    }
    val canonical = Bench.sentinelGate("/data/sf0.1", 32, Map.empty)
    canonical.armed shouldBe true
    (canonical.q1Max, canonical.q19Max) shouldBe ((0.62, 0.30))
    Bench.sentinelGate("/dev/shm/graft-sf1", 8, Map.empty).armed shouldBe false
    val sf10 = Bench.sentinelGate("/data/sf10", 32, Map.empty)
    sf10.armed shouldBe false
    (sf10.q1Max, sf10.q19Max) shouldBe ((0.62, 0.30))
    Bench.sentinelGate("/dev/shm/graft-sf1", 32,
      Map("SPARK_GRAFT_SENTINEL_DISABLE" -> "1")).armed shouldBe false
    Bench.sentinelGate("/data/sf10", 32,
      Map("SPARK_GRAFT_SENTINEL_Q1_MAX" -> "2.5")).q1Max shouldBe 2.5
  }

  test("the core ladder has distinct ascending levels ending at the host's cores") {
    Bench.ladder(4) shouldBe Seq(1, 2, 4)
    Bench.ladder(32) shouldBe Seq(2, 8, 32)
    Bench.ladder(8) shouldBe Seq(1, 2, 8)
    Bench.ladder(2) shouldBe Seq(1, 2)
    Bench.ladder(1) shouldBe Seq(1)
    (1 to 64).foreach { n =>
      val l = Bench.ladder(n)
      withClue(n) {
        l shouldBe l.distinct.sorted
        l.last shouldBe n
        l.size shouldBe math.min(n, 3)
      }
    }
  }

  test("an error message is a valid JSON string") {
    Json.quote("q: \"x\"\tat a\\b\n\u0001") shouldBe
      "\"q: \\\"x\\\"\\tat a\\\\b\\n\\u0001\""
  }
}
