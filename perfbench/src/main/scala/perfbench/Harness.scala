package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process runs one workload against the
  * program's public entry points and writes every op, check and (in a
  * traced run) span and listener counter to a JSON file. `run.py`
  * launches it, checks outputs and turns the file into metrics.
  *
  *   perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <table dir> --work <dir> --out <file>
  *     --launch-ms <epoch ms of process launch>
  *
  * Workloads: surface-cold, relational-warm, battle-ladder, and the
  * benchmark's own self-test.
  */
object Harness {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      data: String,
      work: String,
      out: String,
      launchMs: Long)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("data", ""), need("work"), need("out"),
      kv.get("launch-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  /** The pinned session every workload runs in: local[nproc], shuffle
    * partitions min(nproc, 8) as graft.Bench sizes them, the graft
    * extension installed, UTC, scratch space inside the work dir. */
  def session(work: String): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.min(nproc, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the extension is ready once its functions resolve in the session
    require(spark.catalog.functionExists("graft_dot"), "graft extension not installed")
    spark
  }

  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(path: String, value: Any): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp, json.writeValueAsBytes(value))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** High-water resident set of this process in MB (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Committed heap in MB. The heap is pinned and pre-touched, so all of
    * it is resident and VmHWM minus this is the non-heap high-water. */
  def heapCommittedMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t) / 1e9
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "fingerprint" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "data_dir" -> a.data))
    try {
      val rec = new Recorder(spark, a.trace)
      val extra: Map[String, Any] = a.workload match {
        case "surface-cold" => Workloads.surfaceCold(rec, a)
        case "relational-warm" => Workloads.relationalWarm(rec, a)
        case "battle-ladder" => Workloads.battleLadder(rec, a)
        case "self-test" => SelfTest.run(rec, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.drain()
      out ++= extra
      out("ops") = rec.allOps.map(o => opJson(o, rec.listener.flatMap(_.get(o.id))))
      if (a.trace) out("spans") = rec.allSpans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
      out("live_heap_mb") = rec.peakLiveHeapMb
      out("jvm_rss_mb") = peakRssMb
      out("heap_committed_mb") = heapCommittedMb
    } catch {
      case e: Throwable => out("error") = e.toString; throw e
    } finally {
      write(a.out, out)
      spark.stop()
    }
  }

  private def opJson(o: Op, c: Option[OpCounters]): Map[String, Any] = {
    val base = Map[String, Any](
      "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "group" -> o.group, "phase" -> o.phase,
      "status" -> o.status, "error" -> o.error,
      "start_ms" -> o.startNs / 1e6, "wall_ms" -> o.wallNs / 1e6,
      "fn_ms" -> o.fnNs / 1e6, "artifact_s" -> o.artifactS, "artifacts_built" -> o.artifactsBuilt)
    c.fold(base) { c =>
      base ++ Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1e6, "gc_ms" -> c.gcMs,
        "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "spill_bytes" -> c.spillBytes, "peak_exec_mem_bytes" -> c.peakExecMem,
        "busy_ms" -> c.busyMs, "analysis_ms" -> c.analysisMs,
        "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
        "kernel_executions" -> c.kernelExecutions)
    }
  }
}
