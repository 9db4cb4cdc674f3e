package graft

/** Bench's timed sweeps: a query that throws gets no time and is named,
  * so a broken query can never read as a fast one. */
class BenchSpec extends SparkSpec {

  test("sweeps: a throwing face is named in failed with no time; the others keep their times") {
    val ok: Bench.Query = (s, _) => s.range(10).toDF("id")
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    // builds fine, throws only once a job runs
    val execBoom: Bench.Query =
      (s, _) => s.range(10).where("raise_error('exec boom') IS NULL").toDF()
    // clean in the first sweep, throws in the second
    var calls = 0
    val flaky: Bench.Query = (s, d) => { calls += 1; if (calls > 1) boom(s, d) else ok(s, d) }
    val qs = Seq("a_ok" -> ok, "b_boom" -> boom, "c_ok" -> ok,
      "d_exec" -> execBoom, "e_flaky" -> flaky)
    val (times, failed) = Bench.sweeps(qs, spark, Sf)
    assert(failed === Seq("b_boom", "d_exec", "e_flaky"))
    assert(times.map(_._1) === Seq("a_ok", "c_ok"))
    times.foreach { case (n, t) => assert(t >= 0 && t < Double.MaxValue, n) }
  }
}
