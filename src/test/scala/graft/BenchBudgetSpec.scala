package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench budget-degrade policy (r9 VERDICT #2): sample counts shed
  * monotonically as the elapsed clock runs hot against the budget, and a
  * run with no budget never degrades. Also: the sf1 heavy list that the
  * bench times is the one `tools/sf1check.sh` hash-checks. No Spark needed.
  */
class BenchBudgetSpec extends AnyFunSuite {

  test("no budget: full sample count at any elapsed time") {
    for (t <- Seq(0.0, 100.0, 1e6))
      assert(Bench.samplesFor(5, t, None) == 5)
  }

  test("budget thresholds: full below 60%, 3 to 85%, 1 beyond") {
    val b = Some(1000.0)
    assert(Bench.samplesFor(5, 0.0, b) == 5)
    assert(Bench.samplesFor(5, 599.0, b) == 5)
    assert(Bench.samplesFor(5, 601.0, b) == 3)
    assert(Bench.samplesFor(5, 849.0, b) == 3)
    assert(Bench.samplesFor(5, 851.0, b) == 1)
    assert(Bench.samplesFor(5, 5000.0, b) == 1) // far past budget: still 1
  }

  test("degrade never raises the sample count above the configured N") {
    val b = Some(1000.0)
    // a best-of-1 run stays best-of-1 in the middle band (min(3, n))
    assert(Bench.samplesFor(1, 700.0, b) == 1)
    assert(Bench.samplesFor(2, 700.0, b) == 2)
    // monotone non-increasing in elapsed time
    val pts = Seq(0.0, 300.0, 650.0, 800.0, 900.0, 2000.0)
      .map(t => Bench.samplesFor(5, t, b))
    assert(pts == pts.sorted.reverse)
  }

  test("the sf1 heavy list is the one tools/sf1check.sh hash-checks") {
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/sf1check.sh")), "UTF-8")
    val heavy = """(?m)^HEAVY="([^"]*)"""".r.findFirstMatchIn(script)
      .map(_.group(1).split(",").toSeq).getOrElse(fail("no HEAVY= line"))
    assert(heavy.distinct.length == heavy.length && heavy.toSet == Bench.Sf1Heavies.toSet,
      s"only in sf1check.sh: ${heavy.diff(Bench.Sf1Heavies)}; only in Bench: ${Bench.Sf1Heavies.diff(heavy)}")
  }
}
