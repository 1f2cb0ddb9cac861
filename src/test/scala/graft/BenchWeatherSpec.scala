package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench weather index (r15 advisory #2) on simulated windows: a calm
  * window stays under the degraded threshold, a storm-grade window (the
  * r15 shape — the MIDDLE of the wall distribution inflated, not a few
  * movers) breaches it, and a few genuine plan regressions cannot breach
  * it on their own — that is the property separating "a few entries
  * moved" from "stamp the battery and fall back to cpu_s". Also the one
  * take rule every entry is published under, and the baseline selection.
  */
class BenchWeatherSpec extends AnyFunSuite {
  private val floorS = 0.5

  private def battery(n: Int, wall: Int => Double): Seq[(String, Double)] =
    (1 to n).map(i => f"q$i%03d" -> wall(i))

  test("calm window: jittered walls read ~1.0 and stay under the threshold") {
    val prev = battery(250, _ => 1.0).toMap
    // ±10% deterministic jitter, centered: the calm-round shape
    val now = battery(250, i => 1.0 + (if (i % 2 == 0) 0.1 else -0.1))
    val idx = Bench.weatherIndex(prev, now, floorS)
    assert(idx.isDefined)
    assert(idx.get <= 1.1, s"calm median read ${idx.get}")
    assert(idx.get < Bench.WeatherDegradedThreshold)
  }

  test("storm window: a uniform 1.4x host-steal inflation breaches the threshold") {
    val prev = battery(250, _ => 1.0).toMap
    val now = battery(250, _ => 1.4) // r15 read 1.31 battery-wide
    val idx = Bench.weatherIndex(prev, now, floorS)
    assert(idx.exists(_ > Bench.WeatherDegradedThreshold),
      s"storm median read $idx — the degraded stamp would not fire")
  }

  test("a handful of genuine regressions cannot fake a storm: median is mover-robust") {
    val prev = battery(250, _ => 1.0).toMap
    // 20 real 5x regressions (more than r14's full mover set) on a calm host
    val now = battery(250, i => if (i <= 20) 5.0 else 1.0)
    val idx = Bench.weatherIndex(prev, now, floorS)
    assert(idx.isDefined)
    assert(idx.get < Bench.WeatherDegradedThreshold,
      s"20/250 movers breached the battery-level stamp: ${idx.get}")
  }

  test("sub-floor entries are excluded: jitter on 0.1 s queries cannot move the index") {
    // 200 sub-floor entries tripling (0.1 -> 0.3 s: pure scheduler noise)
    // plus 30 above-floor flat entries: the median must read the flat set
    val prev = (battery(200, _ => 0.1) ++
      (201 to 230).map(i => f"q$i%03d" -> 2.0)).toMap
    val now = battery(200, _ => 0.3) ++ (201 to 230).map(i => f"q$i%03d" -> 2.0)
    val idx = Bench.weatherIndex(prev, now, floorS)
    assert(idx.contains(1.0), s"sub-floor noise leaked into the index: $idx")
  }

  test("even-count ratio lists average the two middle elements (r16 advice: no upper-median bias)") {
    // exactly WeatherMinCommon entries, half at ratio 1.0 and half at 1.5:
    // the upper-median pick would read 1.5; the true median reads 1.25
    val n = Bench.WeatherMinCommon
    val prev = battery(n, _ => 1.0).toMap
    val now = battery(n, i => if (i * 2 <= n) 1.0 else 1.5)
    val idx = Bench.weatherIndex(prev, now, floorS)
    assert(idx.contains(1.25), s"even-count median must average the middle pair, got $idx")
  }

  test("entries requalified last round are excluded: fresh-JVM prev walls cannot inflate the index") {
    // 30 entries whose prev walls were requalified fresh-JVM takes (so
    // this round's raw in-bench walls read 2x against them) + 220 flat
    // entries: with the exclusion the index reads the flat set
    val requalified = (1 to 30).map(i => f"q$i%03d").toSet
    val prev = battery(250, _ => 1.0).toMap
    val now = battery(250, i => if (i <= 30) 2.0 else 1.0)
    val withExcl = Bench.weatherIndex(prev, now, floorS, exclude = requalified)
    assert(withExcl.contains(1.0), s"excluded entries leaked into the index: $withExcl")
    // and the exclusion cannot fake a pass when the storm is real
    val storm = battery(250, _ => 1.4)
    assert(Bench.weatherIndex(prev, storm, floorS, exclude = requalified)
      .exists(_ > Bench.WeatherDegradedThreshold))
  }

  test("no comparable prior (or too few common entries) reports None, never a fake index") {
    assert(Bench.weatherIndex(Map.empty, battery(250, _ => 1.0), floorS).isEmpty)
    val few = battery(Bench.WeatherMinCommon - 1, _ => 2.0)
    assert(Bench.weatherIndex(few.toMap, few, floorS).isEmpty)
    val enough = battery(Bench.WeatherMinCommon, _ => 2.0)
    assert(Bench.weatherIndex(enough.toMap, enough, floorS).isDefined)
  }

  // --- the one take rule ---

  private def take(wall: Double, cpu: Double, ok: Boolean = true) =
    GraftSession.Take(wall, 0.0, cpu, cpu, Seq.empty,
      if (ok) None else Some(new RuntimeException("take failed")))

  test("take rule: a failed take never wins wall or cpu") {
    // the crash is faster and cheaper than the good take on both metrics
    for (ts <- Seq(Seq(take(0.1, 0.01, ok = false), take(2.0, 1.5)),
                   Seq(take(2.0, 1.5), take(0.1, 0.01, ok = false))))
      assert(Bench.publish(ts) == Bench.Published(2.0, 1.5, error = true), ts)
  }

  test("take rule: both takes failed publish the max wall, 0.0 cpu, and an error") {
    val p = Bench.publish(Seq(take(0.3, 0.2, ok = false), take(0.7, 0.1, ok = false)))
    assert(p == Bench.Published(0.7, 0.0, error = true))
  }

  test("take rule: two good takes publish each metric's own minimum") {
    // the faster take burned more cpu: wall and cpu come from different takes
    val p = Bench.publish(Seq(take(1.0, 3.0), take(2.0, 2.5)))
    assert(p == Bench.Published(1.0, 2.5, error = false))
  }

  // --- baseline-selection rule (r17 advisory #1 / r18 ask #1) ---

  test("baseline: the highest-round stamped snapshot wins over the mutable detail") {
    val files = Seq("BENCH_DETAIL.json", "BENCH_DETAIL_r16.json",
      "BENCH_DETAIL_r17.json", "BENCH_r17.json", "BENCH_CANONICAL_r17.json")
    // BENCH_DETAIL.json (the builder's same-round calm take in the driver
    // window — the r17 aliasing) must NOT be picked while any stamped
    // round snapshot exists; among snapshots the newest round wins
    assert(Bench.selectBaseline(files).contains("BENCH_DETAIL_r17.json"))
    // non-baseline bench artifacts (BENCH_r17, canonical copies) never match
    assert(Bench.selectBaseline(
      Seq("BENCH_r17.json", "BENCH_CANONICAL_r17.json")).isEmpty)
  }

  test("baseline: with no stamped snapshot the legacy mutable detail is the fallback") {
    assert(Bench.selectBaseline(Seq("BENCH_DETAIL.json", "README.md"))
      .contains("BENCH_DETAIL.json"))
    assert(Bench.selectBaseline(Seq("README.md")).isEmpty)
  }

  test("code-cache summary reports reserved size, CodeHeap pools, and full_count") {
    val s = Bench.codeCacheSummary()
    // in-force reserved flag or 'unset', at least one CodeHeap pool on a
    // segmented-cache JDK 17, and a parseable full_count field
    assert(s.contains("full_count="), s)
    assert(s.contains("CodeHeap") || s.contains("Code_Cache"), s)
  }
}
