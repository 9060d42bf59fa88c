package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The board codec against every committed board: each must round-trip
  * byte for byte, and its parsed queries must equal what Bench's
  * outlier gate read from it before the codec existed. */
class BoardSpec extends AnyFunSuite {

  // Bench's canonical-map parse from before Harness.Board: the reference
  // the codec's queries map is checked against
  private def legacyCanonical(s: String): Map[String, Double] = {
    val qStart = s.indexOf("\"queries\":{")
    val body = s.substring(qStart + 11, s.indexOf("}", qStart))
    """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  for (file <- Seq("bench_full.json", "bench_builder.json",
    "bench_builder_c32.json", "bench_sf1.json")) {
    test(s"$file: render(parse(s)) == s, queries == the legacy canonical parse") {
      val s = Files.readString(Paths.get(file))
      val board = Harness.Board.parse(s)
      assert(board.render == s)
      assert(board.queries.nonEmpty)
      assert(board.queries.toMap == legacyCanonical(s))
    }
  }

  test("a board without the later fields parses them as -1 / empty") {
    val board = Harness.Board.parse(
      """{"metric":"total","value":1.500,"unit":"sec","queries":{"q01_pricing_summary":1.500},"sf":"d","action":"noop"}""")
    assert(board.queries == Seq("q01_pricing_summary" -> 1.5))
    assert(board.sf == "d" && board.action == "noop")
    assert(board.prebuildSec == -1.0 && board.rerunNames.isEmpty && board.segments.isEmpty)
  }
}
