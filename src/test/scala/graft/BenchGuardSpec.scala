package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's summary and map fold (no Spark session needed). */
class BenchGuardSpec extends AnyFunSuite {
  import Bench._

  private val host = Host("sf0.01", 4, 4096)
  private def pass(secs: Double) = Some((secs, Layers.map(_ -> secs).toMap))

  test("a failed entry is listed under failed and kept out of every number") {
    val m = summarize(host, Map(
      "ok" -> Seq(pass(5.0), pass(2.0), pass(3.0), pass(4.0)),
      "broken" -> Seq(pass(5.0), None, pass(0.1))))
    assert(m.failed == Seq("broken"))
    assert(m.entries.keySet == Set("ok"))
    // pass 0 is the cold pass: it feeds neither the min nor the median
    val ok = m.entries("ok")
    assert(ok("cold_s") == 5.0 && ok("min_s") == 2.0 && ok("median_s") == 3.0)
    assert(Layers.forall(f => ok(f) == 3.0))
  }

  test("a same-shape map folds as a min of steady mins; this run's other fields win") {
    def entry(cold: Double, min: Double, median: Double) =
      Map("cold_s" -> cold, "min_s" -> min, "median_s" -> median) ++ Layers.map(_ -> 0.0)
    val old = toJson(BenchMap(host, Map("a" -> entry(9.0, 1.0, 1.5), "b" -> entry(9.0, 4.0, 5.0),
      "gone" -> entry(1.0, 1.0, 1.0)), Nil))
    val run = summarize(host, Map("a" -> Seq(pass(3.0), pass(2.0), pass(2.0)),
      "b" -> Seq(pass(3.0), pass(3.0), pass(3.0))))
    val folded = fold(prior(Some(old), host).toOption.get, run).entries
    assert(folded("a")("min_s") == 1.0 && folded("a")("median_s") == 2.0 && folded("a")("cold_s") == 3.0)
    assert(folded("b")("min_s") == 3.0)
    assert(folded("gone")("min_s") == 1.0)
    assert(prior(None, host) == Right(None))
  }

  test("a map of another host shape, or an untagged legacy map, is refused") {
    val other = toJson(BenchMap(host.copy(cores = 32), Map.empty, Nil))
    assert(prior(Some(other), host).left.exists(_.contains("Host(sf0.01,32,4096)")))
    assert(prior(Some(toJson(BenchMap(host.copy(sf = "sf0.1"), Map.empty, Nil))), host).isLeft)
    val legacy = """{"sf":"sf0.01","cold_reads":false,"best":{"q1_agg":0.5}}"""
    assert(prior(Some(legacy), host) == Left("the map has no host tag"))
  }
}
