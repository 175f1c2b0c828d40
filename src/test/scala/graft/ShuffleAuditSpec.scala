package graft

/** ShuffleAudit's byte accounting is load-bearing: a map-only query must
  * audit at zero shuffle bytes, and a genuinely shuffling aggregate must
  * not — so the artifact can be trusted when it says a plan moves (or
  * does not move) data.
  */
class ShuffleAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("map-only query audits at zero shuffle bytes; shuffling aggregate does not") {
    // q_mm_enriched_filter: broadcast join + filter, exchanges:0 in the
    // plan digest — nothing may cross the wire
    val (r0, w0, _, in0) = Harness.bytes(spark) {
      SparkEntry.queries("q_mm_enriched_filter")(spark, dir).count()
    }
    assert(r0 == 0 && w0 == 0, s"map-only query shuffled: read=$r0 write=$w0")
    assert(in0 > 0, "it must still have read its input")

    // s_agg_salted: two-phase salted aggregate — the partial results
    // must actually cross the wire
    val (r1, w1, _, _) = Harness.bytes(spark) {
      SparkEntry.queries("s_agg_salted")(spark, dir).count()
    }
    assert(r1 > 0 && w1 > 0, s"salted aggregate reported no shuffle: read=$r1 write=$w1")
  }
}
