package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Events

class EventsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.sfDir

  test("windowed, session, attribution, top-k, enrichment and dedup gates: non-empty, invariants hold") {
    val gates = Seq("e1_hourly_by_type", "e2_sessionization", "e6_attribution_join",
      "e9_hopping_counts", "e12_top_types", "e15_enriched_hourly",
      "e16_session_windows", "e20_attribution_gaps", "e30_stream_dedup")
    val rows = gates.map(g => g -> Events.defs(g)(spark, sfDir).collect()).toMap
    for (g <- gates) assert(rows(g).nonEmpty, s"$g returned no rows")
    val events = Tables.events(spark, sfDir)
    // every event lands in exactly two 1h/30m hopping windows
    assert(rows("e9_hopping_counts").map(_.getLong(2)).sum === 2 * events.count())
    // the gap report exercises both row classes: NULL-click and matched
    val gaps = rows("e20_attribution_gaps")
    assert(gaps.exists(_.isNullAt(1)) && gaps.exists(!_.isNullAt(1)))
    // the doubled log collapses to one row per event_id
    assert(rows("e30_stream_dedup").map(_.getLong(1)).sum ===
      events.select("event_id").distinct().count())
  }
}
