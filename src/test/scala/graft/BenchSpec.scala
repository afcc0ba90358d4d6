package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  // an 8-core corpus run (in-run seconds) against its predecessor: every
  // entry here is a ≥1 s, ≥2× spike, so a cap of 6 must choose by size
  private val prev = Map(
    "q141_strip_markup" -> 0.25, "q142_pmi_collocations" -> 0.60,
    "q144_embed_znorm" -> 0.49, "q148_novel_against" -> 0.40,
    "q149_hashed_bow" -> 0.69, "q153_cross_near_dup" -> 2.15,
    "q154_robust_mad" -> 0.87, "q155_join_reorder" -> 0.92,
    "q159_window_distinct" -> 0.47, "q186_session_paths" -> 0.75,
    "q187_funnel_delays" -> 0.24, "q1_agg" -> 0.50)
  private val inRun = Seq(
    "q141_strip_markup" -> 1.50, "q142_pmi_collocations" -> 3.58,
    "q144_embed_znorm" -> 2.35, "q148_novel_against" -> 1.73,
    "q149_hashed_bow" -> 3.67, "q153_cross_near_dup" -> 10.37,
    "q154_robust_mad" -> 4.82, "q155_join_reorder" -> 6.23,
    "q159_window_distinct" -> 2.10, "q186_session_paths" -> 3.13,
    "q187_funnel_delays" -> 3.48, "q1_agg" -> 0.90)

  test("retime cap keeps the largest spikes, ranked by ratio") {
    val chosen = Bench.retimeCandidates(inRun, prev, 6)
    assert(chosen == Seq("q187_funnel_delays", "q155_join_reorder",
      "q141_strip_markup", "q142_pmi_collocations", "q154_robust_mad",
      "q149_hashed_bow"))
    // the name-order selection would have spent the cap on q141–q153
    assert(!chosen.contains("q144_embed_znorm"))
    assert(!chosen.contains("q153_cross_near_dup"))
  }

  test("retime candidates: thresholds, tie-break by excess, cap 0") {
    val all = Bench.retimeCandidates(inRun, prev, 100)
    assert(all.size == 11)
    assert(!all.contains("q1_agg")) // under 1 s
    assert(Bench.retimeCandidates(inRun, prev, 0).isEmpty)
    // equal ratios: the larger absolute excess goes first
    val tie = Bench.retimeCandidates(
      Seq("a" -> 2.0, "b" -> 4.0, "c" -> 3.0, "d" -> 1.9),
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 2.0, "d" -> 0.5), 10)
    assert(tie == Seq("d", "b", "a"))
    // no previous time, or a zero one, never flags
    assert(Bench.retimeCandidates(Seq("x" -> 5.0, "y" -> 5.0),
      Map("y" -> 0.0), 10).isEmpty)
  }

  test("retime guard parses at startup and rejects bad values") {
    assert(Bench.parseRetimeGuard(None) == 2700.0)
    assert(Bench.parseRetimeGuard(Some(" 600 ")) == 600.0)
    assert(Bench.parseRetimeGuard(Some("0")) == 0.0)
    Seq("27OO", "", "-1", "NaN", "Infinity").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Bench.parseRetimeGuard(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_RETIME_GUARD"), v)
    }
  }
}
