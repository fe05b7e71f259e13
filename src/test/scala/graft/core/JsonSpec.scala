package graft.core

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** The artifact codec round-trips what graft writes and reads the
  * committed artifacts into their case classes. Pure: no SparkSession. */
class JsonSpec extends AnyFunSuite {

  test("the whole oracle SQL map round-trips") {
    val oracle = graft.SparkEntry.oracleSql
    assert(Json.read[Map[String, String]](Json.write(oracle)) == oracle)
  }

  test("committed artifacts read into their case classes and round-trip") {
    def committed[T](read: String => T, path: String): T = {
      val first = read(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      assert(read(Json.write(first)) == first, path)
      first
    }
    val bench = committed(Json.read[BenchRecord], "BENCH_LOCAL.json")
    assert(bench.queries.size >= 80 && bench.sf.exists(_.endsWith("sf0.1")))
    val verdict = committed(Json.read[Verdict], "BENCH_VERDICT.json")
    assert(verdict.trailer == "verdict" && verdict.slowest.nonEmpty)
    val correctness = committed(Json.read[CorrectnessRecord], "CORRECTNESS_LOCAL.json")
    assert(correctness.queries.exists(_.size == correctness.nPass + correctness.nFail))
  }

  test("Bench writes its record and trailer with the committed artifacts' keys, in order") {
    def keys(json: String) = Json.read[ListMap[String, Any]](json).keys.toSeq
    val run = graft.Bench.Run(graft.Bench.DefaultSfDir, 4,
      Seq(graft.Bench.QueryRun("q1_pricing_summary", 1.0, 5L, 1)), 0.9, 1.0, 1.0)
    val d = graft.Bench.decide(run, None, force = false, Set.empty, Set.empty, drift = 1.0)
    def committed(path: String) =
      keys(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(keys(Json.write(d.record)) == committed("BENCH_LOCAL.json"))
    assert(keys(d.verdict) == committed("BENCH_VERDICT.json"))
  }
}
