package graft

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** Bench reports a query that fails as failed, never as a timing. */
class BenchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val good = QuerySpec("good", None, (s, _) => s.range(10).toDF())
  private val throws = QuerySpec("bad_fn", None,
    (_, _) => throw new IllegalStateException("query construction failed"))
  private val execFails = QuerySpec("bad_exec", None, (s, _) =>
    s.range(10).select(when(col("id") >= 0, raise_error(lit("row failed"))).as("x")))

  test("a query that throws or fails at execution lands in failed, not in the timings") {
    val res = Bench.run(spark, dir, Seq(throws, good, execFails), reps = 2)
    assert(res.failed === Seq("bad_fn", "bad_exec"))
    assert(res.times.map(_._1) === Seq("good"))
    val line = Bench.line(res, Nil, dir)
    assert(line.contains(""""queries":{"good":""" + res.times.head._2 + "}"))
    assert(line.contains(""""failed":["bad_fn","bad_exec"]"""))
    assert(line.contains(s""""value":${res.times.head._2},"""))
  }

  test("a green run's line has no failed field") {
    val res = Bench.run(spark, dir, Seq(good), reps = 1)
    assert(res.failed.isEmpty)
    assert(Bench.line(res, Seq("a" -> 1.5), dir) ===
      s"""{"metric":"total","value":${res.times.head._2},"unit":"sec","queries":{"good":${res.times.head._2}},"artifacts":{"a":1.5},"sf":"$dir"}""")
  }
}
