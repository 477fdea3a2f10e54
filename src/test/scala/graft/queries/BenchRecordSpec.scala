package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Canonical-number rule, mechanized (round 20, replacing Bench's
  * removed `git add` side effect): the committed `BENCH_LOCAL.json` IS
  * the cross-round record, so a commit that registers a query without
  * refreshing the record must fail the suite — the recurring
  * r17/r18/r19 close-out violation. The assert is set equality between
  * the record's per-query keys and `SparkEntry.queries`; a stale file
  * (missing new queries or carrying deleted ones) fails loudly with
  * the exact drift listed.
  */
class BenchRecordSpec extends AnyFunSuite {

  test("BENCH_LOCAL.json covers exactly SparkEntry.queries") {
    val path = java.nio.file.Paths.get("BENCH_LOCAL.json")
    assert(java.nio.file.Files.exists(path),
      "BENCH_LOCAL.json missing — run graft.Bench and commit the record")
    val json = java.nio.file.Files.readString(path)
    val start = json.indexOf("\"queries\":{")
    assert(start >= 0, "no queries object in BENCH_LOCAL.json")
    val body = json.substring(start + "\"queries\":{".length,
      json.indexOf('}', start))
    val recorded = "\"([A-Za-z0-9_]+)\":".r
      .findAllMatchIn(body).map(_.group(1)).toSet
    val declared = graft.SparkEntry.queries.keySet
    val missing = declared -- recorded
    val stale = recorded -- declared
    assert(missing.isEmpty && stale.isEmpty,
      s"BENCH_LOCAL.json drifted from SparkEntry.queries — " +
        s"unrecorded: ${missing.toSeq.sorted.mkString(", ")}; " +
        s"stale: ${stale.toSeq.sorted.mkString(", ")}. " +
        "Re-run graft.Bench on a quiet machine and commit the refresh " +
        "in the same commit that changes the query set.")
  }

  /** Record QUALITY, mechanized (round-21 verdict item 1: rounds 20 and
    * 21 both closed on records captured under external load, making the
    * round-over-round tables noise). Bench refuses to write the
    * canonical file when the pre-launch load1 exceeds the bound unless
    * forced; this test keeps a forced or hand-copied contended record
    * from surviving in the repo. The bound matches Bench's default
    * (pre-LAUNCH load only — pass-boundary samples measure the bench's
    * own 32-way work and legitimately reach ~6 on a quiet machine). */
  test("BENCH_LOCAL.json was recorded on a quiet machine") {
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"))
    // the whole number token, exponent included: a near-idle host's
    // load average can print as 4.8828125E-4, which [0-9.]+ would cut
    // to 4.88
    def prelaunch(s: String): Option[Double] =
      """"load1_prelaunch":(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)""".r
        .findFirstMatchIn(s).map(_.group(1).toDouble)
    assert(prelaunch(""""load1_prelaunch":4.8828125E-4,""").exists(_ <= 1.5))
    val m = prelaunch(json)
    assert(m.isDefined,
      "BENCH_LOCAL.json predates the load1_prelaunch field — re-run " +
        "graft.Bench on a quiet machine and commit the refresh")
    val pre = m.get
    assert(pre < 0 || pre <= 1.5,
      f"BENCH_LOCAL.json was recorded with pre-launch load1 $pre%.2f > 1.5 " +
        "— a contended machine; its numbers are not a usable cross-round " +
        "record. Re-run graft.Bench on a quiet machine and commit that.")
  }
}
