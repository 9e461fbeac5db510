package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * The A/B tool's shipped behavior (VERDICT r19 #4): CLAUDE.md tells
 * the next builder to trust `runMain graft.RunOne q_a,q_b [sfDir]
 * [reps]`, so its arg validation and output format get the same
 * seam-level pinning as FsckMain.cli — `RunOne.parse` is the ONLY
 * path main takes to a session, and `RunOne.line` is the only
 * renderer, so these cases drive the shipped verb body.
 */
class RunOneSpec extends AnyFunSuite {

  private val SfDir = "/root/testdata/sf0.001"
  private val known = SparkEntry.queries.keys.toSeq.sorted

  test("a typo'd query name fails loudly WITH the known-names list") {
    val got = RunOne.parse(Array("q_cdc_lwww"))
    assert(got.isLeft)
    val msg = got.left.toOption.get
    assert(msg.contains("unknown query: q_cdc_lwww"), msg)
    // the catalog is in the message — a typo is correctable from the
    // error alone, without opening SparkEntry
    assert(known.forall(msg.contains), "error must list every known name")
  }

  test("a mixed list names ONLY the unknown entries") {
    val got = RunOne.parse(Array("q_cdc_lww,q_nope,q_dedup_exact,q_also_no"))
    val msg = got.left.toOption.get
    assert(msg.contains("unknown queries: q_nope, q_also_no"), msg)
  }

  test("a nonexistent sfDir is refused before any session spins up") {
    val got = RunOne.parse(Array("q_cdc_lww", "/root/testdata/sf0.00z"))
    assert(got == Left("sfDir is not a directory: /root/testdata/sf0.00z"))
  }

  test("reps must be a positive int") {
    assert(RunOne.parse(Array("q_cdc_lww", SfDir, "0")).isLeft)
    assert(RunOne.parse(Array("q_cdc_lww", SfDir, "-2")).isLeft)
    assert(RunOne.parse(Array("q_cdc_lww", SfDir, "three")).isLeft)
  }

  test("no args / empty list / extra args -> usage") {
    assert(RunOne.parse(Array.empty[String]) == Left(RunOne.usage))
    assert(RunOne.parse(Array(",")) == Left(RunOne.usage))
    assert(RunOne.parse(Array("q_cdc_lww", SfDir, "1", "x")) ==
      Left(RunOne.usage))
  }

  test("valid args parse with defaults; names keep list order") {
    assert(RunOne.parse(Array("q_cdc_lww , q_dedup_exact")) ==
      Right((Seq("q_cdc_lww", "q_dedup_exact"), "/root/testdata/sf0.1", 1)))
    assert(RunOne.parse(Array("q_cdc_lww", SfDir, "5")) ==
      Right((Seq("q_cdc_lww"), SfDir, 5)))
  }

  test("output row format is pinned and locale-proof") {
    // the triage habit greps these columns — pin the shape once so a
    // refactor can't silently change what the habit parses
    assert(RunOne.line("q_cdc_lww", 2,
      CpuMeter.Run(42L, 1.2345, 0.678, 5L, 120L, 0L, 1L)) ==
      "[runone] q_cdc_lww                    rep2   1.23 s  cpu   0.68 s  " +
        "rows=42  jobs=5  shuffle_records=120  jobs_outside_sql=1")
    // and a comma-decimal default locale must not leak into the row
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.FRANCE)
    try {
      val l = RunOne.line("q_x", 1, CpuMeter.Run(1L, 0.5, 0.25, 0L, 0L, 0L, 0L))
      assert(!l.contains(","), s"comma-decimal leaked: $l")
      assert(l.contains("0.50 s"), l)
    } finally java.util.Locale.setDefault(prev)
  }
}
