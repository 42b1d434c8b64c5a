package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import scala.util.control.NonFatal

object Bench {

  /** Min-of-reps seconds per timed query, and the queries that failed. */
  final case class Results(times: Seq[(String, Double)], failed: Seq[String])

  /** Time each spec as the min of `reps` runs. A spec that throws on
    * any rep — building its DataFrame or executing it — goes into
    * `failed` with its stack trace on stderr, never into `times`.
    *
    * The timed action is a noop-format write, not count(): under count()
    * Catalyst's EliminateSorts legally drops a top-level ORDER BY, so
    * final sorts would be excluded from the timing. The noop sink runs
    * the full plan users actually execute and discards rows executor-side.
    * Each spec runs with its own AQE flag (aqe=false only where two full
    * A/B pairs showed the adaptive re-optimization latency is pure floor
    * for that plan — see QuerySpec.aqe). */
  def run(spark: SparkSession, sfDir: String, specs: Seq[QuerySpec], reps: Int): Results = {
    val outcomes = specs.map { sp =>
      spark.conf.set("spark.sql.adaptive.enabled", sp.aqe.toString)
      try {
        val times = (1 to reps).map { r =>
          // each timed run pays its own persists: CacheManager matches
          // canonicalized plans, so without this a second run would
          // silently reuse the first run's cached intermediates
          spark.catalog.clearCache()
          // name-tag the SQL execution so event-log tooling (sortaudit)
          // can pair executions to queries by NAME instead of by sorted
          // order, which silently shifted every pairing after a failed
          // query or with reps > 1 (r13 ADVICE)
          spark.sparkContext.setJobDescription(s"graft-bench:${sp.name}:rep$r")
          val t0 = System.nanoTime()
          try sp.withConfs(spark) {
            sp.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          finally spark.sparkContext.setJobDescription(null)
          (System.nanoTime() - t0) / 1e9
        }
        Right(sp.name -> times.min)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${sp.name} failed:")
        e.printStackTrace()
        Left(sp.name)
      }
    }
    Results(outcomes.collect { case Right(t) => t }, outcomes.collect { case Left(n) => n })
  }

  /** The bench JSON line. `"failed"` appears only when a query failed,
    * so a green run's line keeps its historical shape. */
  def line(res: Results, artifacts: Seq[(String, Double)], sfDir: String): String = {
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failed =
      if (res.failed.isEmpty) ""
      else res.failed.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
    s"""{"metric":"total","value":${res.times.map(_._2).sum},"unit":"sec","queries":${obj(res.times)}$failed,"artifacts":${obj(artifacts)},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores)
    // replica-scale sweeps size partitions to their shuffle bytes
    sys.env.get("SPARK_GRAFT_PARTS").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/codegen/shuffle/parquet machinery once so the first
    // timed query doesn't absorb session startup.
    spark.range(1000000L).agg(sum("id")).collect()
    Tables.all.foreach { t =>
      // events needs its typed loader (parquet TIMESTAMP(NANOS) — the
      // generic reader throws before the nanosAsLong conf is ever set,
      // leaving events the one cold table in every timed first run)
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, t)
        df.limit(1).collect()
      } catch { case _: Throwable => () }
    }
    // best-of-3 per query: the VM host shows heavy transient steal-time
    // noise (observed 2x swings between identical runs); min-of-N is the
    // standard way to report the machine's actual capability.
    // SPARK_GRAFT_BENCH_REPS: dev knob for long sweeps (100× replica
    // runs don't need min-of-3 — the heavy kernels dwarf host noise)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional args = query-name filter (dev tool: time a subset)
    val wanted = args.toSet
    val res = run(spark, sfDir,
      QueryCatalog.all.sortBy(_.name).filter(sp => wanted.isEmpty || wanted.contains(sp.name)),
      reps)
    // Per-artifact build seconds (additive field, round 15): the
    // standing-artifact layer builds inside the FIRST rep of the first
    // consumer, which min-of-N reporting discards — this keeps that
    // one-time cost visible next to the warm per-query numbers.
    // SPARK_GRAFT_NO_ARTIFACTS=1 benches the inline forms instead
    // (then this map is empty and every consumer pays its own build).
    val out = line(res, graft.operators.Artifacts.buildSeconds.toSeq.sortBy(_._1), sfDir)
    // the full-surface line is ~7 KB and harness stdout captures have
    // truncated it (BENCH_r08.json "parsed": null) — ALSO write it to a
    // file the driver can read whole, and print it LAST (after
    // spark.stop()) so no shutdown logging trails the parseable line
    // relative default (resolves under the launch cwd) — a hardcoded
    // absolute path wrote outside the working tree on foreign checkouts
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (out + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    println(out)
    if (res.failed.nonEmpty) sys.exit(1)
  }
}
