package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's artifacts: the median it reports, the ledger line's
  * shape and escaping, the tracked ledger's history, and that the stdout
  * line is length-bounded and parseable on pathological inputs.
  * Pure-function tests — the passes themselves run inside Bench.main
  * against the live session.
  */
class BenchSpec extends AnyFunSuite {

  private def parseJson(line: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("medianOf: true median — matches Python statistics.median on even counts (ADVICE r17)") {
    // Even counts (a flaky query with two surviving passes, the control
    // samples) take the mean of the two middle values, not the upper one.
    assert(Bench.medianOf(Nil) == 0.0)
    assert(Bench.medianOf(Seq(0.5)) == 0.5)
    assert(math.abs(Bench.medianOf(Seq(0.1, 0.2)) - 0.15) < 1e-12)
    assert(Bench.medianOf(Seq(0.1, 0.2, 0.4)) == 0.2)
    assert(math.abs(Bench.medianOf(Seq(0.1, 0.2, 0.3, 0.5)) - 0.25) < 1e-12)
  }

  test("ledger line: one parseable JSON line with the pinned compact fields (VERDICT r17 #2)") {
    val line = Bench.composeLedgerLine(
      ts = "2026-08-16T19:21:03Z", total = 137.144, cpus = 4, hostCpus = 32,
      ctlMed = 0.101, stgMed = 0.148, gcSec = 4.0, sf = "/root/testdata/sf0.1")
    assert(!line.contains("\n"), "a ledger entry is exactly one line")
    val node = parseJson(line)
    // The pinned shape: exactly these nine fields, no per-query map — the
    // ledger is the durable compact history, not a second detail file.
    import scala.jdk.CollectionConverters._
    assert(node.properties().asScala.map(_.getKey).toSet == Set(
      "ts", "total", "passes", "control_med", "control_staged_med", "gc_sec", "sf",
      "cpus", "host_cpus"))
    assert(node.get("ts").asText() == "2026-08-16T19:21:03Z")
    assert(node.get("total").asDouble() == 137.144)
    assert(node.get("passes").asInt() == 3)
    assert(node.get("control_med").asDouble() == 0.101)
    assert(node.get("control_staged_med").asDouble() == 0.148)
    assert(node.get("gc_sec").asDouble() == 4.0)
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("cpus").asInt() == 4)
    assert(node.get("host_cpus").asInt() == 32)
  }

  test("ledger line: string fields are JSON-escaped and doubles locale-stable (ADVICE r18)") {
    // A quote/backslash in the caller-provided sf path must not produce an
    // unparseable ledger line, and the doubles must render with '.' even
    // under a comma-decimal default locale (composeLedgerLine is pure and
    // may run before main() pins Locale.ROOT — e.g. from this test).
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.composeLedgerLine(
        ts = "2026-08-16T19:21:03Z", total = 137.144, cpus = 4, hostCpus = 32,
        ctlMed = 0.101, stgMed = 0.148, gcSec = 4.0, sf = "/tmp/sf \"odd\\path\"\n")
      val node = parseJson(line)
      assert(node.get("total").asDouble() == 137.144, "decimal point, not comma")
      assert(node.get("sf").asText() == "/tmp/sf \"odd\\path\"\n")
      assert(!line.contains("\n"), "escaped control chars keep the entry one line")
    } finally java.util.Locale.setDefault(prev)
  }

  test("ledger file: every line parses, fields pinned, ts monotone per sf (VERDICT r18 #5)") {
    // The tracked bench_ledger.jsonl is the durable history — keep the
    // backfilled + live-appended lines self-verifying as the file grows.
    // Older min-of-2 lines carry more keys (and backfilled nulls); every
    // line carries at least these.
    import scala.jdk.CollectionConverters._
    val required = Set("ts", "total", "control_med", "control_staged_med", "gc_sec", "sf")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("bench_ledger.jsonl")).asScala.filter(_.nonEmpty)
    assert(lines.nonEmpty, "the ledger exists and is non-empty")
    val rows = lines.map { l =>
      val node = parseJson(l)   // throws on an unparseable line
      assert(required.subsetOf(node.properties().asScala.map(_.getKey).toSet),
        s"required fields on: $l")
      def text(k: String) = { val n = node.get(k); if (n.isTextual) Some(n.asText) else None }
      (text("sf"), text("ts"))
    }
    rows.groupBy(_._1).foreach { case (sf, rs) =>
      val ts = rs.flatMap(_._2)
      assert(ts == ts.sorted, s"ts monotone non-decreasing within sf=$sf")
    }
  }

  test("stdout line: bounded and parseable on a typical full-gate run") {
    val byCost = (1 to 256).map(i => f"query_name_$i%03d" -> (3.0 - i * 0.01))
      .sortBy { case (n, t) => (-t, n) }
    val line = Bench.composeStdoutLine(
      total = byCost.map(_._2).sum, byCost = byCost, nQueries = 256,
      sfDir = "/root/testdata/sf0.1",
      ctlMed = 0.108, ctlMax = 0.308, stgMed = 0.160, stgMax = 0.481,
      failed = Nil, flaky = Nil, gcSec = 3.5)
    assert(line.length <= Bench.LineBudget, s"line ${line.length} > budget")
    val node = parseJson(line)
    import scala.jdk.CollectionConverters._
    assert(node.properties().asScala.map(_.getKey).toSet == Set(
      "metric", "value", "unit", "queries", "queries_omitted", "omitted_sec", "n_queries", "sf",
      "passes", "interleaved", "control_med", "control_max", "control_staged_med",
      "control_staged_max", "failed", "failed_n", "flaky", "flaky_n", "gc_sec", "detail"))
    assert(node.get("n_queries").asInt() == 256)
    assert(node.get("passes").asInt() == 3)
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    // value == sum(kept) + omitted_sec (nothing silently dropped).
    val keptSum = node.get("queries").properties().asScala.map(_.getValue.asDouble()).sum
    assert(math.abs(
      node.get("value").asDouble() - keptSum - node.get("omitted_sec").asDouble()) < 0.05)
  }

  test("stdout line: bounded and parseable on a pathological run") {
    // Long names, 80 failed or flaky queries, and an sf path with a quote
    // and a backslash in its shown tail.
    val byCost = (1 to 256)
      .map(i => f"extremely_long_query_name_for_overflow_testing_$i%03d" -> (5.0 - i * 0.01))
      .sortBy { case (n, t) => (-t, n) }
    val failed = byCost.slice(30, 70).map(_._1)
    val flaky = byCost.slice(70, 110).map(_._1)
    val sfDir = "/an/extremely/long/env/supplied/scale/factor/directory/path/that/would/alone/blow/a/fixed/\"estimate\"\\sf0.1"
    val line = Bench.composeStdoutLine(
      total = byCost.map(_._2).sum, byCost = byCost, nQueries = 256, sfDir = sfDir,
      ctlMed = 0.308, ctlMax = 1.308, stgMed = 0.660, stgMax = 1.481,
      failed = failed, flaky = flaky, gcSec = 33.5)
    assert(line.length <= Bench.LineBudget, s"line ${line.length} > budget")
    val node = parseJson(line)
    assert(node.get("sf").asText() == "..." + sfDir.takeRight(57))
    // Compact mode engaged: lists collapsed, counts preserved.
    assert(node.get("failed").size() == 0 && node.get("flaky").size() == 0)
    assert(node.get("failed_n").asInt() == 40)
    assert(node.get("flaky_n").asInt() == 40)
    assert(node.get("queries").size() >= 1, "even compact mode reports the top queries")
  }
}
