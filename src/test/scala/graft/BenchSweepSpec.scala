package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for [[Bench.sweep]]'s contention handling (r10 VERDICT item 2:
  * a co-tenant active for one stretch of the driver's sweep forged seven
  * phantom 3–5× per-query regressions that all collapsed on a quiet
  * re-run — the artifact must either heal those numbers or name them).
  *
  * The synthetic box: a mutable load factor scales both the fake
  * queries' sleeps and the probe's, exactly the way a CPU co-tenant
  * slows every timed thing on the machine at once. The load schedule is
  * event-driven (flipped by designated query invocations), so each
  * scenario is deterministic without real background threads.
  */
class BenchSweepSpec extends AnyFunSuite {

  private val BaseQ = 15L // quiet per-pass query sleep, ms
  private val BaseP = 10L // quiet probe sleep, ms

  /** Build a synthetic sweep: `n` queries sleeping BaseQ×load ms, probe
    * sleeping BaseP×load ms, plus hooks fired at given (query, call#)
    * points to reshape the load mid-sweep. */
  private class Box {
    var load = 1L
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var hooks: Map[(String, Int), () => Unit] = Map.empty
    def query(name: String): () => Unit = () => {
      calls(name) += 1
      hooks.get((name, calls(name))).foreach(_())
      Thread.sleep(BaseQ * load)
    }
    def probe(): Double = { Thread.sleep(BaseP * load); BaseP * load / 1000.0 }
  }

  private def names(n: Int) = (0 until n).map(i => f"q$i%02d")

  test("hot early span is re-timed at sweep end; numbers heal, nothing suspect") {
    val box = new Box
    box.load = 4 // co-tenant present from the start...
    // ...and leaves when query 6 first runs
    box.hooks = Map(("q06", 1) -> (() => box.load = 1))
    val qs = names(12).map(n => n -> box.query(n))
    val res = Bench.sweep(qs, () => box.probe(), () => (), probeEvery = 4)

    assert(res.failed.isEmpty)
    assert(res.probes.map(_._1) == Seq(0, 4, 8, 12), "probe cadence")
    assert(res.contended, "hot probes must flag the sweep")
    // spans bounded by a hot probe (probes 0 and 4 ran hot): q0..q7
    assert(res.retimed.toSet == names(8).toSet,
      s"hot-span queries re-timed, got ${res.retimed}")
    assert(res.suspect.isEmpty, "re-times ran quiet — nothing stays suspect")
    // every recorded min must reflect the quiet box (~15 ms), not the
    // contended passes (~60 ms)
    res.timings.foreach { case (n, t) =>
      assert(t < 0.045, f"$n recorded $t%.3f s — contended pass survived")
    }
  }

  test("contention through the re-time phase names the still-inflated queries") {
    val box = new Box
    box.load = 4
    box.hooks = Map(
      ("q06", 1) -> (() => box.load = 1), // co-tenant leaves mid-sweep...
      ("q00", 5) -> (() => box.load = 4)) // ...and returns when re-times start
    // (call 5 of q00 = warm + three timed passes + the end-of-sweep re-time)
    val qs = names(12).map(n => n -> box.query(n))
    val res = Bench.sweep(qs, () => box.probe(), () => (), probeEvery = 4)

    assert(res.contended)
    assert(res.retimed.toSet == names(8).toSet)
    // the re-time probes ran hot, so the hot-span queries stay NAMED —
    // a reader discards exactly these numbers
    assert(res.suspect.toSet == names(8).toSet,
      s"expected all hot-span queries suspect, got ${res.suspect}")
    // the quiet-span queries' numbers are still trustworthy
    res.timings.drop(8).foreach { case (n, t) =>
      assert(t < 0.045, f"quiet-span $n recorded $t%.3f s")
    }
  }

  test("a quiet sweep re-times nothing and marks nothing") {
    val box = new Box
    val qs = names(8).map(n => n -> box.query(n))
    val res = Bench.sweep(qs, () => box.probe(), () => (), probeEvery = 4)
    assert(!res.contended && res.retimed.isEmpty && res.suspect.isEmpty)
    assert(res.timings.size == 8 && res.failed.isEmpty)
  }

  test("a throwing query lands in failed with no timing; sweep continues") {
    val box = new Box
    val qs = Seq(
      "ok1" -> box.query("ok1"),
      "boom" -> (() => throw new RuntimeException("synthetic failure")),
      "ok2" -> box.query("ok2"))
    val res = Bench.sweep(qs, () => box.probe(), () => (), probeEvery = 4)
    assert(res.timings.map(_._1) == Seq("ok1", "ok2"))
    assert(res.failed.keySet == Set("boom"))
    assert(res.failed("boom").contains("synthetic failure"))
  }
}
