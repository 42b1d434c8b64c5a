package perfbench

import graft.QuerySpec
import graft.battle.BattleFixtures
import graft.sources.RestBattleSource

/** The JVM half of `run.py --self-test`: checks the generator's
  * determinism and the open-loop client's timing, and injects failing
  * ops that must come out as failed, never as timings. */
object SelfTest {

  def run(rec: Recorder, a: Harness.Args): Map[String, Any] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def expect(name: String, ok: Boolean, detail: => String): Unit =
      results += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

    // generator: byte-identical for a seed, whatever the thread; differs across seeds
    val g1 = LadderGen(7L, 50, 30, 0.01)
    val g2 = LadderGen(7L, 50, 30, 0.01)
    val g3 = LadderGen(8L, 50, 30, 0.01)
    val bodies1 = g1.tags.map(g1.battlelog(_)._1)
    val bodies2 = g2.tags.par2(g2.battlelog(_)._1)
    expect("generator: same seed, same leaderboard", g1.leaderboardBody(50) == g2.leaderboardBody(50), "differs")
    expect("generator: same seed, same battle logs (parallel)", bodies1 == bodies2, "differs")
    expect("generator: other seed, other leaderboard", g1.leaderboardBody(50) != g3.leaderboardBody(50), "equal")
    expect("generator: other seed, other battle logs",
      g1.tags.map(g3.battlelog(_)._1) != bodies1, "equal")
    val truth = g1.tags.map(g1.battlelog(_)._2)
    expect("generator: the filters drop some battles and keep most",
      truth.map(_.kept).sum > truth.map(_.generated).sum / 2 && truth.exists(t => t.kept < t.generated),
      truth.take(3).toString)

    // open loop: a 300 ms stall on request 0 is charged to request 1,
    // which was due 10 ms after it
    val stalled = OpenLoop.run(5, 100.0, 1, () => System.nanoTime()) { i =>
      if (i == 0) Thread.sleep(300); ""
    }
    val lat1 = stalled(1).latencyNs / 1e6
    expect("open loop: latency counts from the due time", lat1 >= 250.0, f"request 1 latency $lat1%.1f ms")
    expect("open loop: the generator itself ran on time",
      stalled.map(_.lateNs).max < 50000000L, s"late ${stalled.map(_.lateNs / 1e6)} ms")
    val failing = OpenLoop.run(3, 1000.0, 2, () => System.nanoTime()) { i =>
      if (i == 1) throw new RuntimeException("boom") else ""
    }
    expect("open loop: a throwing request is an error",
      failing(1).error.contains("boom") && failing(0).error.isEmpty, failing.toString)

    // injected failures: a catalog op that throws while planning, one that
    // fails while executing, and a battle-log fetch for one failing tag
    val throwing = QuerySpec("selftest_throws", None, (_, _) => throw new RuntimeException("injected"))
    val failsLate = QuerySpec("selftest_fails_in_task", None,
      (s, _) => s.range(10).selectExpr("assert_true(id < 5) AS ok"))
    Seq(throwing, failsLate).foreach { sp =>
      val op = rec.newOp("query", sp.name, "SelfTest", "timed")
      Workloads.execute(rec, op, sp, a.data)(Workloads.noop)
      expect(s"injected ${sp.name} is failed", op.status == "failed", s"status ${op.status}")
    }
    val gen = LadderGen(a.seed, 20, 30, 0.01)
    val client = new LadderClient(gen, failTag = Some(gen.tags(3)))
    Seq(gen.tags(2), gen.tags(3)).foreach { tag =>
      val (op, _) = rec.op("user", tag, "battle", "timed") {
        RestBattleSource.fetchBattles(rec.spark, client, Seq(tag)).collect()
      }
      val want = if (tag == gen.tags(3)) "failed" else "ok"
      expect(s"battle-log fetch for ${if (want == "ok") "a good" else "the failing"} tag is $want",
        op.status == want, s"status ${op.status} ${op.error}")
    }
    expect("card metadata fixture loads", BattleFixtures.cardMetaDf(rec.spark).count() == 28, "count")
    Map("selftest" -> results.toSeq)
  }

  private implicit class ParMap[A](xs: IndexedSeq[A]) {
    /** Map on two threads, results in input order. */
    def par2[B](f: A => B): IndexedSeq[B] = {
      val (l, r) = xs.splitAt(xs.size / 2)
      var right: IndexedSeq[B] = null
      val t = new Thread(() => right = r.map(f))
      t.start()
      val left = l.map(f)
      t.join()
      left ++ right
    }
  }
}
