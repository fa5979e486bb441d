package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's contract line: the consumer keeps only the
  * tail of Bench's stdout, so the line is printed LAST and must fit in
  * 2000 characters on the real inventory — including the run where
  * every row fails and `failed` lists them all — and must parse as JSON
  * whatever the default locale. Also pins the BASELINE.md pin parser and
  * the ledger's per-row ratio to the pin.
  */
class BenchLineSpec extends AnyFunSuite {

  private val inventory = SparkEntry.queries.keys.toSeq.sorted
  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  test("contract line on the real inventory with every row failed: under 2000 chars, parses") {
    val line = Bench.renderLine(inventory.map(_ -> -1.0), buildSec = 171.751,
      sfDir = "/data/testdata/sf0.1")
    assert(line.length < 2000, s"contract line too long: ${line.length}")
    val j = parse(line)
    assert(j.get("metric").asText == "total")
    assert(j.get("value").asDouble == -1.0,
      "a run with failures must not report a partial total as the value")
    assert(!j.get("valid").asBoolean)
    assert(j.get("failed").size == 88)
    assert(j.get("queries").size == 88)
    assert(j.get("queries").get("a01").asDouble == -1.0)
  }

  test("verdict fields survive a 2000-char tail capture on a passing run") {
    val line = Bench.renderLine(inventory.map(_ -> 12.345), buildSec = 85.0,
      sfDir = "/data/testdata/sf0.1")
    assert(line.length < 2000, s"contract line too long: ${line.length}")
    val j = parse(line.takeRight(2000))
    assert(j.get("valid").asBoolean)
    assert(math.abs(j.get("value").asDouble - 88 * 12.345) < 1e-6)
    assert(j.get("failed").size == 0)
    assert(j.get("build_sec").asDouble == 85.0)
    assert(j.get("queries").get("q01").asDouble == 12.345)
  }

  test("scalar verdict fields are the LAST fields, after any failed list") {
    // worst case: every row fails — the failed array is long, but
    // value/valid sit after it so even a tiny tail capture has them
    val line = Bench.renderLine(inventory.map(_ -> -1.0), buildSec = 85.0,
      sfDir = "/x/sf0.1")
    assert(line.indexOf("\"failed\":") < line.indexOf("\"value\":"), line)
    assert(line.takeRight(60).contains("\"value\":-1.000"), line)
    assert(line.takeRight(60).contains("\"valid\":false"), line)
    assert(line.endsWith("\"valid\":false}"), line)
  }

  test("contract line falls back to full names on short-name collision") {
    // "q01_warm" and "q01_cold" share the short key "q01" — short keys
    // would emit duplicate JSON keys (later shadows earlier in most
    // parsers)
    val line = Bench.renderLine(
      Seq("q01_warm" -> 0.25, "q01_cold" -> -1.0), buildSec = 1.0, sfDir = "/x")
    assert(line.contains("\"q01_warm\":0.250") &&
      line.contains("\"q01_cold\":-1.000"), line)
    assert(line.contains("\"failed\":[\"q01_cold\"]"), line)
    assert(!line.contains("\"q01\":"), line)
    // collision-free inventories keep the compact short keys
    val ok = Bench.renderLine(
      Seq("q01_warm" -> 0.25, "q02_cold" -> 0.75), buildSec = 1.0, sfDir = "/x")
    assert(ok.contains("\"q01\":0.250") && ok.contains("\"q02\":0.750"), ok)
  }

  test("contract line is JSON under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.renderLine(Seq("a01_x" -> 1.114, "a02_y" -> 0.5),
        buildSec = 2.25, sfDir = "/x")
      assert(line.contains("\"a01\":1.114"), line)
      val j = parse(line)
      assert(j.get("value").asDouble == 1.614)
      assert(j.get("build_sec").asDouble == 2.25)
    } finally java.util.Locale.setDefault(saved)
  }

  test("parsePins reads the anchored per-query reference block") {
    // pin block in BASELINE.md's shape, including a historical mention
    // AFTER the canonical value (first occurrence must win) and prose
    // numbers that must not parse as pins
    val pins = Bench.parsePins(
      """Per-query reference (sec, warm):
        |q01 0.50, q02 1.00, q03 2.0, s03 1.7 (s03 is a streaming row;
        |q03 4.00 → 2.0 was the r5 re-pin; r4 47.1 total; sift10M 7530)
        |""".stripMargin)
    assert(pins == Map("q01" -> 0.50, "q02" -> 1.00, "q03" -> 2.0, "s03" -> 1.7))
    // prose ABOVE the header must not shadow a pin (parsing is anchored)
    val shadowed = Bench.parsePins(
      """In r4 q01 9.99 was a contended reading, since re-pinned.
        |Per-query reference (sec, warm):
        |q01 0.50, q02 1.00
        |""".stripMargin)
    assert(shadowed == Map("q01" -> 0.50, "q02" -> 1.00))
    // ... and a MID-LINE prose mention of the header phrase above the
    // real header must not become the anchor either (line-start match)
    val midline = Bench.parsePins(
      """see the Per-query reference table below; q01 9.99 was contended.
        |Per-query reference (sec, warm):
        |q01 0.50, q02 1.00
        |""".stripMargin)
    assert(midline == Map("q01" -> 0.50, "q02" -> 1.00))
    // a markdown-heading reformat of the header must keep anchoring
    // (previously fell back to a whole-document scan → shadowing), and
    // a prose line that merely BEGINS with the phrase must not anchor
    val heading = Bench.parsePins(
      """Per-query reference values from r4 are retired; q01 9.99 there.
        |## Per-query reference (sec, warm):
        |q01 0.50, q02 1.00
        |""".stripMargin)
    assert(heading == Map("q01" -> 0.50, "q02" -> 1.00))
  }

  test("ledger: each pass's ratio to its row's pin, null without a pin or on failure") {
    val walls = Map(("a01_x", 0) -> 3.0, ("a01_x", 1) -> 0.4,
      ("a01_x", 2) -> -1.0, ("q02_y", 0) -> 1.0, ("q02_y", 1) -> 0.3,
      ("q02_y", 2) -> 0.2)
    val j = parse(new Bench.Ledger().render(Seq("a01_x", "q02_y"), walls,
      Map("a01" -> 0.8), sfDir = "/x", passes = 2))
    val a01 = j.get("rows").get("a01_x")
    assert(a01.get("pin").asDouble == 0.8)
    assert(a01.get("passes").size == 2)
    assert(a01.get("passes").get(0).get("wall_sec").asDouble == 0.4)
    assert(a01.get("passes").get(0).get("ratio_to_pin").asDouble == 0.5)
    assert(a01.get("passes").get(1).get("ratio_to_pin").isNull)
    assert(a01.get("build").get("wall_sec").asDouble == 3.0)
    assert(j.get("rows").get("q02_y").get("passes").get(0)
      .get("ratio_to_pin").isNull)
    assert(j.get("unattributed").get("jobs").asInt == 0)
  }
}
