package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` reads the recorded artifact it compares a run against. */
class BenchPriorSpec extends AnyFunSuite {

  test("parsePrior reads total, n_queries, sf, calibration and the " +
      "query map of BENCH_solo.json") {
    val prior = Bench.parsePrior(java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_solo.json")))
    assert(prior.isDefined)
    val p = prior.get
    // the map also holds the informational .build/.probe breakdown;
    // the timed queries alone sum to the total
    val timed = p.queries.filter { case (k, _) =>
      !k.endsWith(".build") && !k.endsWith(".probe") }
    assert(p.nQueries == timed.size && p.nQueries > 0)
    assert(math.abs(timed.values.sum - p.total) < 1e-6)
    assert(p.mean == p.total / p.nQueries)
    assert(p.sf.exists(_.nonEmpty))
    assert(p.calibration.exists(_ > 0))
  }

  test("parsePrior pins every field of an artifact line") {
    val line = """{"metric":"total","value":3.5,"unit":"sec",""" +
      """"n_queries":2,"calibration":0.18,"probes":[0.13],""" +
      """"queries":{"q01_a":1.25,"d17_b":2.25,"d17_b.build":1.0},""" +
      """"failed":[],"sf":"/data/sf0.1"}"""
    assert(Bench.parsePrior(line).contains(Bench.Prior(3.5, 2,
      Some("/data/sf0.1"), Some(0.18),
      Map("q01_a" -> 1.25, "d17_b" -> 2.25, "d17_b.build" -> 1.0))))
    // no n_queries (or none timed): not a usable record
    assert(Bench.parsePrior(line.replace("\"n_queries\":2,", "")).isEmpty)
    assert(Bench.parsePrior(line.replace("\"n_queries\":2", "\"n_queries\":0"))
      .isEmpty)
    assert(Bench.parsePrior("not json").isEmpty)
  }
}
