package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r9 #1: the round-9 driver correctness artifact shipped EMPTY and
  * the round had no hard correctness signal. These tests make that failure
  * mode turn the suite red: the committed builder-produced
  * CORRECTNESS_LOCAL.json must exist, cover exactly SparkEntry.queries, and
  * be all-green — plus red-team cases planting each corruption the gate
  * must catch. */
class CorrectnessGateSpec extends AnyFunSuite {

  private def artifact(entries: (String, String)*): String =
    entries.map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"n_fail":0,"n_pass":2,"queries":{""", ",", """},"sf":"x"}""")

  private val green =
    """{"rows_match":true,"schema_match":true,"values_match":true}"""

  test("committed CORRECTNESS_LOCAL.json is present, complete, and all-green") {
    val expected = graft.SparkEntry.queries.keySet
    CorrectnessGate.checkFile("CORRECTNESS_LOCAL.json", expected) match {
      case Right(()) => ()
      case Left(reason) => fail(
        s"round correctness artifact is not shippable: $reason — run " +
        "graft.Verify at sf0.01 then scripts/selfcheck.py <sf> <out> " +
        "CORRECTNESS_LOCAL.json and commit the result")
    }
  }

  test("the r9 failure mode — an empty {} artifact — is red, not silent") {
    assert(CorrectnessGate.check("{}", Set("a")).isLeft)
    assert(CorrectnessGate.check("", Set("a")).isLeft)
    assert(CorrectnessGate.check("""{"queries":{}}""", Set("a")).isLeft)
  }

  test("a missing registered query is red") {
    val json = artifact("a" -> green)
    assert(CorrectnessGate.check(json, Set("a")).isRight)
    val r = CorrectnessGate.check(json, Set("a", "b"))
    assert(r.isLeft && r.swap.toOption.get.contains("b"))
  }

  test("a stale artifact naming an unregistered query is red") {
    val r = CorrectnessGate.check(artifact("a" -> green, "zz_gone" -> green),
      Set("a"))
    assert(r.isLeft && r.swap.toOption.get.contains("zz_gone"))
  }

  test("any false boolean is red; rows_gt_zero-only entries are green") {
    val bad = """{"rows_match":true,"schema_match":false,"values_match":true}"""
    val r = CorrectnessGate.check(artifact("a" -> green, "b" -> bad),
      Set("a", "b"))
    assert(r.isLeft && r.swap.toOption.get.contains("b"))
    assert(CorrectnessGate.check(
      artifact("a" -> green, "c" -> """{"rows_gt_zero":true}"""),
      Set("a", "c")).isRight)
    assert(CorrectnessGate.check(
      artifact("a" -> green, "c" -> """{"rows_gt_zero":false}"""),
      Set("a", "c")).isLeft)
  }

  test("malformed artifacts are red with a reason, never a throw") {
    Seq("""{"queries":{"a":{"rows_match":tr""", "[1]", "null", """{"queries":[1]}""",
      """{"queries":{"a":1}}""", """{"queries":{"a":{"rows_match":"yes"}}}""",
      """{"queries":{"a":{"rows_match":1}}}""", """{"queries":{"a":{"rows_match":null}}}"""
    ).foreach(json => assert(CorrectnessGate.check(json, Set("a")).isLeft, json))
  }

  test("jsonEscape survives control characters in builder-authored SQL (red-team)") {
    // plant the exact corruption class Verify.scala:30-33 anticipates: a
    // tab, CR, and a raw 0x01 inside an oracle string
    val hostile = "SELECT\t1 AS a,\r\n'x\u0001y' AS b"
    val esc = graft.Verify.jsonEscape(hostile)
    assert(!esc.exists(_ < ' '), "no raw control chars may survive escaping")
    assert(esc.contains("\\t") && esc.contains("\\r") && esc.contains("\\n")
      && esc.contains("\\u0001"))
    // and the REAL oracle corpus: the emitted oracle_sql.json body is
    // entirely control-char-free after escaping (the mm CTEs are the
    // newest, most escape-prone strings)
    graft.SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(!graft.Verify.jsonEscape(v).exists(_ < ' '), s"oracle $k")
    }
  }
}
