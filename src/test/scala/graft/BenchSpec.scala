package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench harness's targeted re-run allocation (Bench.rerunOrder /
  * Bench.bestOf) — pure logic, no SparkSession. Round-5 advice: queries
  * that end the main passes with no clean measurement must outrank the
  * >3x-standing tier, or a stall-heavy host ships a query with zero perf
  * evidence (q5_nation_revenue in BENCH_r05).
  */
class BenchSpec extends AnyFunSuite with Matchers {

  private val clean = true
  private val dirty = false

  test("bestOf prefers the clean minimum, falls back to the overall minimum") {
    Bench.bestOf(List((2.0, clean), (1.0, dirty), (3.0, clean))) shouldBe 2.0
    Bench.bestOf(List((9.0, dirty), (8.0, dirty))) shouldBe 8.0
    Bench.bestOf(Nil) shouldBe -1.0
  }

  test("no-clean queries come before 3x-standing queries, in name order") {
    val names = Seq("a_fast", "b_noclean", "c_slow", "d_noruns", "e_fast")
    val meas = Map(
      "a_fast" -> List((0.5, clean)),          // clean and within standing
      "b_noclean" -> List((9.0, dirty)),       // measured, never clean
      "c_slow" -> List((10.0, clean)),         // clean but > 3x standing
      "d_noruns" -> Nil,                       // never ran at all
      "e_fast" -> List((0.2, clean)))
    val baseline = Map(
      "a_fast" -> 0.5, "b_noclean" -> 1.0, "c_slow" -> 1.0, "e_fast" -> 0.2)
    Bench.rerunOrder(names, meas, baseline) shouldBe
      Seq("b_noclean", "d_noruns", "c_slow")
  }

  test("a query absent from the standing table only re-runs when no-clean") {
    val names = Seq("a_new_slow", "b_new_noclean")
    val meas = Map(
      "a_new_slow" -> List((100.0, clean)), // slow, but nothing to compare to
      "b_new_noclean" -> List((1.0, dirty)))
    Bench.rerunOrder(names, meas, Map.empty) shouldBe Seq("b_new_noclean")
  }

  test("the 3x tier goes round-robin: each suspect once per sweep, MaxSlowTries sweeps") {
    // the six sf0.1 suspects of a uniformly slow host: the first sweep
    // re-measures every one of them before any gets a second try
    val slow = Seq("d9", "g5", "g7", "g7b", "g7bx", "g7x")
    Bench.sweepOrder(slow).take(slow.size).toSeq shouldBe slow
    val order = Bench.sweepOrder(Seq("g5", "g7bx")).toSeq
    order.take(4) shouldBe Seq("g5", "g7bx", "g5", "g7bx")
    order.count(_ == "g5") shouldBe Bench.MaxSlowTries
    order.count(_ == "g7bx") shouldBe Bench.MaxSlowTries
    Bench.sweepOrder(Nil).isEmpty shouldBe true
  }

  test("the 3x trigger carries the 50 ms jitter slack") {
    val names = Seq("q")
    val base = Map("q" -> 0.02)
    // 3x standing = 0.06; +0.05 slack puts the threshold at 0.11
    Bench.rerunOrder(names, Map("q" -> List((0.10, clean))), base) shouldBe Nil
    Bench.rerunOrder(names, Map("q" -> List((0.12, clean))), base) shouldBe Seq("q")
  }

  test("stdout line + sbt success trailer fit the driver's 2000-char window") {
    // worst realistic widths: every query 2+ digits before the decimal
    val entries = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 12.345)
    val line = Bench.fitStdoutLine(entries, entries.size * 12.345, "sf0.1")
    assert(line.length <= 1600, s"line is ${line.length} chars")
    // the driver keeps the LAST 2000 stdout chars; after the line only
    // sbt's success trailer prints (outputStrategy=StdoutOutput strips the
    // old "[info] " prefix and keeps forked stderr off stdout). Worst-case
    // trailer observed: ~90 chars; pin 200 of margin on top of the budget.
    val trailer = "[success] Total time: 1833 s (30:33), completed Aug 18, 2026, 11:47:50 PM\n"
    assert(line.length + 1 + trailer.length + 200 <= 2000,
      s"line ${line.length} + trailer leaves no margin in the 2000-char window")
    // it must still parse as the driver's contract shape
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith(""","sf":"sf0.1"}"""))
    // queries survive (possibly minus omitted cheapest; here all equal-cost
    // so any subset works) and an omitted count appears iff entries dropped
    val kept = "\"([a-z0-9_]+)\":12\\.3".r.findAllMatchIn(line).size
    if (kept < entries.size) assert(line.contains("\"omitted\":"))
  }

  test("stdout line keeps every entry when the set is small, at 2-decimal precision") {
    val line = Bench.fitStdoutLine(Seq("q1" -> 0.123, "q2" -> 4.567), 4.69, "sf0.01")
    line shouldBe
      """{"metric":"total","value":4.7,"unit":"sec","queries":{"q1":0.12,"q2":4.6},"sf":"sf0.01"}"""
  }

  test("vs-standing report flags at 2x (+slack), even though re-runs fire at 3x") {
    val base = Map("a" -> 1.0, "b" -> 0.5, "c" -> 2.0)
    val results = Seq(
      "a" -> 2.62,  // 2.62x standing: flagged (the g2 drift class)
      "b" -> 1.04,  // 2.08x but within +50 ms slack path? 2*0.5+0.05=1.05 -> NOT flagged
      "c" -> 3.9,   // 1.95x: not flagged
      "d" -> 99.0,  // no standing entry: compared-count excludes it
      "e" -> -1.0)  // never ran: excluded
    val (compared, flagged) = Bench.vsStanding(results, base)
    compared shouldBe 3
    flagged shouldBe Seq("a" -> 2.62)
    // a breach just past the slack IS flagged, with the rounded ratio
    Bench.vsStanding(Seq("b" -> 1.06), base)._2 shouldBe Seq("b" -> 2.12)
  }

  test("warm floor excludes the cold (first chronological) rep and dirty reps") {
    // meas stores newest-first: chronological order is the REVERSE
    val newestFirst = List((2.0, true), (3.0, false), (9.0, true))
    // chronological: 9.0 (cold, excluded), 3.0 (dirty, excluded), 2.0
    Bench.warmFloor(newestFirst) shouldBe 2.0
    // only the cold rep exists -> no warm floor
    Bench.warmFloor(List((9.0, true))) shouldBe -1.0
    // cold rep is NOT excluded by cleanliness — position alone drops it
    Bench.warmFloor(List((4.0, true), (0.1, true))) shouldBe 4.0
    Bench.warmFloor(Nil) shouldBe -1.0
    // all warm reps dirty -> no warm floor (a stall epoch is not a floor)
    Bench.warmFloor(List((2.0, false), (9.0, true))) shouldBe -1.0
  }
}
