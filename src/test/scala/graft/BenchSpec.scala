package graft

/** `Bench` reports a thrown query instead of dropping it. */
class BenchSpec extends SparkSpec {

  test("a throwing query is reported in `failed` and left out of the total") {
    val named: Seq[(String, Bench.Query)] = Seq(
      "good" -> ((s, _) => s.range(10).toDF()),
      "bad" -> ((_, _) => throw new IllegalStateException("injected")))
    val run = Bench.measure(spark, "unused", named, nPasses = 2, warmupPasses = 1)
    assert(run.failed == Seq("bad" -> "java.lang.IllegalStateException"))
    val best = run.best.toMap
    assert(best("bad") == -1.0 && best("good") > 0)
    assert(run.total == best("good"))
    val json = run.json("unused")
    assert(json.contains(""""failed":{"bad":"java.lang.IllegalStateException"}"""), json)
    assert(json.contains(s""""value":${best("good")},"""), json)
  }
}
