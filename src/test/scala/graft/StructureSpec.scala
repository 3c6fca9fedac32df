package graft

import org.scalatest.funsuite.AnyFunSuite

/** STRUCTURAL COST PINS for the heavy-query family beyond CC (whose pin
  * lives next to its operator in DedupSpec): jobs/stages/shuffles/tasks
  * per run are exact, deterministic scheduler facts — the round-10
  * protocol's replacement for VM wall-clock targets, extended to the
  * other four heavies the r10 ladder measured. Counts come from
  * [[CcStructure.measureRun]] (job-group-scoped listener, so a
  * concurrent suite on the shared context cannot pollute them) and are
  * only asserted under the baselined geometry (local[4],
  * shuffle.partitions=4, AQE on). Re-baseline via
  * `Test/runMain graft.HeavyStructProbe` ONLY on a legitimate
  * plan-shape change. */
class StructureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // (query, sf0.001 counts, sf0.01 counts) — probe-measured twice per
  // scale, identical across runs (HeavyStructProbe, round 11;
  // pagerank re-baselined round 13 by PagerankFlakeProbe, 30/30 at
  // sf0.01 + 10/10 at sf0.001 UNDER the concurrent load that flipped
  // the old shape — the r12 flake was AQE's broadcast-stage reuse
  // racing on the five-iteration-shared `deg` subtree, removed by the
  // one-time adjacency materialization). The 100 TB story in the
  // numbers: minhash/simhash/pagerank cost ZERO additional
  // jobs/stages/shuffles on 10x data (per-task data grows instead —
  // the property that survives a 1000-executor scale-up); BFS adds
  // rounds only because the corpus graph's reachable depth grows
  // (29->35 jobs), never because the plan degraded.
  // r19 re-baseline (HeavyStructProbe, two identical runs per SF):
  // minhash and simhash each gained the materializeOnce of the frame
  // their self-join reads on both sides — the eager count job (plus its
  // AQE query-stage sub-jobs) that REMOVED the duplicated md5/vote-
  // aggregate pass; minhash then folded the signature and token-set
  // hash passes into ONE materialized base (one scan+tokenize instead
  // of two, -1 job/stage/shuffle vs the intermediate shape); bfs and
  // pagerank are untouched.
  // Table reads declare their footer schema (Tables.parquet), so no
  // read runs a one-job/one-stage/one-task inference: the re-baseline
  // moved each tuple by exactly (-k, -k, 0, -k), k = the run's reads —
  // minhash 1 (documents), simhash 2 (documents twice), bfs 3 (part,
  // lineitem, edges), pagerank 5 (bfs's 3 + deg + adj).
  private val pins = Seq(
    ("minhash", (10, 10, 5, 28), (10, 10, 5, 28)),
    ("simhash", (10, 10, 5, 25), (10, 10, 5, 25)),
    ("bfs", (26, 26, 12, 35), (32, 32, 15, 46)),
    ("pagerank", (18, 18, 9, 23), (18, 18, 9, 23)))

  test("heavy-query STRUCTURAL COST PINS: jobs/stages/shuffles/tasks " +
    "are exact at sf0.001 and sf0.01 for minhash LSH, scale-aware " +
    "simhash, BFS and pagerank (plan regressions fail deterministically; " +
    "wall-clock stays an observation)") {
    assume(CcStructure.baselineGeometry(spark),
      "pins are baselined for local[4]/partitions=4 — skipped under " +
        s"${spark.sparkContext.master}")
    val runs = HeavyStructProbe.Heavies.toMap
    for ((name, want001, want01) <- pins;
         (dir, want) <- Seq(TestSpark.Sf0001 -> want001,
           "/root/testdata/sf0.01" -> want01)) {
      val got = CcStructure.measureRun(spark, name)(
        require(runs(name)(spark, dir) > 0, s"$name empty at $dir"))
      assert(got == want,
        s"$name @ $dir structural cost (jobs, stages, shuffles, tasks): " +
          s"got $got, pinned $want — a drift here is a real plan-shape " +
          "change, not load noise; re-probe (HeavyStructProbe) before " +
          "re-baselining")
    }
  }

  // the perfbench `analytics` workload's queries: their construct
  // phase is table reads only, and each read declares its footer
  // schema (graft.sources.Tables.parquet), so building the frame is
  // pure driver work
  private val analytics = Seq(
    "q_team_view", "q_pricing_summary", "q_join3", "q_argmax_joinback",
    "q_argmax_window", "q_latest_order", "q_canonical_name",
    "q_filter_cast", "q_rollup", "q_window_funcs", "q_shuffle_hash_join",
    "q_topk_revenue", "q_skew_join", "q_asof_sql", "q_knn_dot")

  test("CONSTRUCT JOB PIN: building each analytics query's DataFrame " +
    "(SparkEntry.queries alone, no action) launches no Spark job at " +
    "sf0.001") {
    for (q <- analytics) {
      val got = CcStructure.measureRun(spark, q)(
        SparkEntry.queries(q)(spark, TestSpark.Sf0001))
      assert(got == ((0, 0, 0, 0)),
        s"$q construct (jobs, stages, shuffles, tasks): got $got — " +
          "constructing the frame ran a job (a schema-less read, or an " +
          "eager action before the query returns)")
    }
  }
}
