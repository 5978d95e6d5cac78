package graft

import org.scalatest.funsuite.AnyFunSuite

/** prevTimes parses per-query seconds out of a previous round's BENCH
  * wrapper file. Two hazards, both observed in round-2 artifacts:
  * the wrapper's `tail` may repeat query names in diagnostic objects
  * (medians, delta RATIOS) after the min-times object, and the tail is
  * a bounded suffix so the `"queries":{` marker itself may be cut off.
  */
class BenchSpec extends AnyFunSuite {

  private val names = Set("q1_agg", "q20_set_ops", "e1_sessionize")

  test("prevTimes scopes to the queries object; later diagnostic repeats are ignored") {
    // escaped-quote form, as embedded in the driver wrapper's tail
    val text =
      raw"""{"tail":"{\"metric\":\"total\",\"queries\":{\"q1_agg\":1.2000,\"q20_set_ops\":6.9600},""" +
      raw"""\"queries_median\":{\"q1_agg\":1.5000,\"q20_set_ops\":7.1000},""" +
      raw"""\"delta_vs_prev\":{\"q1_agg\":0.819,\"q20_set_ops\":0.027},\"sf\":\"x\"}\n"}"""
    val t = Bench.prevTimes(text, names)
    assert(t == Map("q1_agg" -> 1.2, "q20_set_ops" -> 6.96))
  }

  test("prevTimes handles unescaped plain-JSON bench lines too") {
    val text = """{"metric":"total","queries":{"q1_agg":0.5000},"failed":[],"sf":"x"}"""
    assert(Bench.prevTimes(text, names) == Map("q1_agg" -> 0.5))
  }

  test("prevTimes falls back to first-occurrence-wins when truncation cut the marker") {
    // round-2 shape: tail begins mid-queries-object, then medians repeat names
    val text =
      raw"""1155,\"q20_set_ops\":0.2066},\"queries_median\":{\"q1_agg\":1.4000,\"q20_set_ops\":0.3000},\"median_total\":33.5}"""
    val t = Bench.prevTimes(text, names)
    assert(t("q20_set_ops") == 0.2066) // the min survives; the median repeat does not override
    assert(t("q1_agg") == 1.4) // only occurrence available
  }

  test("prevTimes drops failed (-1) entries and unknown names") {
    val text = """{"queries":{"q1_agg":-1.0,"nope":2.0,"e1_sessionize":0.9}}"""
    assert(Bench.prevTimes(text, names) == Map("e1_sessionize" -> 0.9))
  }

  test("contractLines sizes the final line under the driver's tail window") {
    // 140 synthetic queries at ~25 B each would blow a 2000-char tail —
    // the exact r9/r10 failure (driver recorded parsed:null)
    val mins = (0 until 140).map(i => (f"q${i}%03d_synthetic_name", 0.01 * (140 - i)))
    val (full, line) = Bench.contractLines(mins, 12.3456, Seq("qbad"), "/sf", "docs/D.json", 32)
    assert(line.length <= Bench.LineBudget, s"line is ${line.length} B")
    // the effective core count rides the fixed tail (scaling-probe contract)
    assert(line.contains("\"cpus\":32"))
    assert(full.isDefined)
    // the line is valid JSON head-to-tail (the whole point of the fix)
    assert(line.startsWith("{\"metric\":\"total\"") && line.endsWith("}"))
    // the most expensive queries are always included
    assert(line.contains("\"q000_synthetic_name\":1.4000"))
    assert(line.contains("\"queries_omitted\":"))
    assert(line.contains("\"detail\":\"docs/D.json\""))
    // the full-map line carries every query for archaeology
    assert(mins.forall { case (k, _) => full.get.contains("\"" + k + "\":") })
  }

  test("contractLines with a small suite emits one complete line, nothing omitted") {
    val mins = Seq(("q1_agg", 0.5), ("e1_sessionize", 1.25))
    val (full, line) = Bench.contractLines(mins, 1.75, Seq(), "/sf", "docs/D.json")
    assert(full.isEmpty)
    assert(line.contains("\"queries_omitted\":0"))
    assert(line.contains("\"q1_agg\":0.5000") && line.contains("\"e1_sessionize\":1.2500"))
  }

  test("prevTimes recovers the union of the full-map fragment and the contract line") {
    // the new two-line stdout, truncated the way the driver's tail cuts it:
    // a suffix of the queries_full line, then the complete contract line
    val text =
      raw""":0.9000,"q20_set_ops":6.9600}}""" + "\n" +
      raw"""{"metric":"total","value":8.0,"unit":"sec","queries":{"q20_set_ops":6.9600,"q1_agg":1.2000},"queries_omitted":1,"failed":[],"sf":"x","detail":"docs/D.json"}"""
    val t = Bench.prevTimes(text, names)
    // the fragment's cut-off name (only ":0.9000" survived) is ignored;
    // its complete pair and the contract line's pairs are all recovered
    assert(t == Map("q20_set_ops" -> 6.96, "q1_agg" -> 1.2))
    val text2 =
      raw"""{"queries_full":{"e1_sessionize":0.9000,"q20_set_ops":6.9600}}""" + "\n" +
      raw"""{"metric":"total","queries":{"q20_set_ops":6.9600},"queries_omitted":1,"sf":"x"}"""
    val t2 = Bench.prevTimes(text2, names)
    assert(t2 == Map("e1_sessionize" -> 0.9, "q20_set_ops" -> 6.96))
  }

  test("baselineTimes parses markdown table rows, ignoring prose and unknown names") {
    val text =
      """# BASELINE — numeric per-query gate
        |Produced as the per-query MIN across rounds (min-of-5 each).
        || query | baseline_sec |
        ||---|---|
        || q1_agg | 0.1234 |
        || nope_query | 1.0000 |
        || e1_sessionize | 0.6800 |
        |""".stripMargin
    assert(Bench.baselineTimes(text, names) ==
      Map("q1_agg" -> 0.1234, "e1_sessionize" -> 0.68))
  }

  test("baselineTimes against the committed BASELINE.md covers the registered set") {
    val f = new java.io.File("BASELINE.md")
    assume(f.exists())
    val t = Bench.baselineTimes(
      new String(java.nio.file.Files.readAllBytes(f.toPath)), SparkEntry.queries.keySet)
    // every baseline row names a registered query (no drifted keys)...
    assert(t.nonEmpty)
    // ...and at most the queries added after the baseline snapshot lack a row
    val missing = SparkEntry.queries.keySet -- t.keySet
    assert(missing.isEmpty, s"unexpected baseline gaps: $missing")
  }

  test("the committed BASELINE.md pins the sweep-protocol calibration row") {
    // the epoch gate's numerator is the sweep-median calibration (sampled
    // inside the interleaved round-robin); its denominator must share the
    // estimator — the round-11 ADVICE item: dividing a sweep median by the
    // quiet min-of-5 pin deflated every calibrated ratio 1.2-2.6x
    val f = new java.io.File("BASELINE.md")
    assume(f.exists())
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
    val pins = Bench.baselineTimes(text,
      Set(Bench.CalibrationKey, Bench.SweepCalibrationKey))
    assert(pins.get(Bench.SweepCalibrationKey).exists(_ > 0),
      "missing _calibration_sweep row")
    // the sweep protocol is systematically costlier than the quiet one;
    // a sweep pin at or below the quiet pin would recreate the deflation
    assert(pins(Bench.SweepCalibrationKey) > pins(Bench.CalibrationKey))
  }

  test("the committed BASELINE.md pins a calibration row; history rows never parse") {
    val f = new java.io.File("BASELINE.md")
    assume(f.exists())
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
    // the machine-epoch calibration pin is present and positive
    val cal = Bench.baselineTimes(text, Set(Bench.CalibrationKey))
    assert(cal.get(Bench.CalibrationKey).exists(_ > 0), "missing _calibration row")
    // retired-epoch history rows are struck through -> invisible to the
    // parser even when their names are offered (d7's retired 1.4225 row
    // must not shadow its re-pinned value)
    val t = Bench.baselineTimes(text, Set("d7_dup_clusters"))
    assert(t("d7_dup_clusters") < 1.0, s"history row leaked into the gate: $t")
  }

  test("a round snapshot at another scale factor is never overwritten") {
    val sf01 = """{"min_total":185.5,"failed":[],"sf":"testdata/sf0.1"}"""
    assert(Bench.snapshotSfClash(sf01, "testdata/sf0.01").contains("testdata/sf0.1"))
    assert(Bench.snapshotSfClash(sf01, "testdata/sf0.1").isEmpty)
    assert(Bench.snapshotSfClash(sf01, "/data/sf0.1").isEmpty)
    assert(Bench.snapshotSfClash("{}", "testdata/sf0.01").isEmpty)
  }
}
