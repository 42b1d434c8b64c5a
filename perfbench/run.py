#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, in perfbench/) and generates the tables;
later runs reuse both. Each run prints every end-to-end metric of its
workload by name and unit, checks the program's outputs, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones. A failed or wrong op makes
the command exit 1; a dev knob in the environment makes it refuse (2);
missing program sources make it exit 3. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402
from check import Checker  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ["surface-cold", "relational-warm", "battle-ladder"]
# each silently changes the measured plans, so none may be set
DEV_KNOBS = ["SPARK_GRAFT_AQE", "SPARK_GRAFT_CONF", "SPARK_GRAFT_PARTS",
             "SPARK_GRAFT_NO_ARTIFACTS", "SPARK_GRAFT_ARTIFACT_STORE",
             "SPARK_GRAFT_WIDE_DIGEST", "SPARK_GRAFT_BENCH_REPS"]
# the registered end-to-end metrics (BENCHMARK.json); each run prints
# its workload's latency medians and tails as well
E2E = [("setup_s", "s"), ("work_s", "s"), ("peak_rss_mb", "MB")]
TAIL_WANT = {"surface-cold": 90, "relational-warm": 95, "battle-ladder": 99}
FAMILIES = ["RelationalQueries", "TextQueries", "DedupQueries", "SimilarityQueries",
            "EventQueries", "ExtendedQueries", "IvfQueries", "WindowSkewQueries",
            "ProfilingQueries", "TypedQueries", "MultimodalQueries", "CorpusQueries",
            "MiningQueries", "PipelineQueries", "BpeQueries", "SelectionQueries",
            "RetrievalQueries", "PqQueries", "ClassifierQueries"]
DATA_SF, DATA_SEED = 0.1, 42
NAN = float("nan")
HEAP = "2g"
RUN_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class Refused(Exception):
    """A condition under which the benchmark must not produce a result."""

    def __init__(self, code, message):
        super().__init__(message)
        self.code = code


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ set-up

def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def check_knobs(env):
    found = [k for k in DEV_KNOBS if k in env]
    if found:
        raise Refused(2, f"refusing to run with dev knobs set: {', '.join(found)}")


def source_files():
    files = []
    for base in (SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    if not os.path.isdir(os.path.join(SRC, "graft")):
        raise Refused(3, "program sources (src/main/scala/graft) not found next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(hashlib.sha256(read(f, "rb")).digest())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build(digest):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and read(stamp) == digest and os.path.isdir(classes_dir()):
        return
    os.makedirs(WORK, exist_ok=True)
    log("building program + harness (sbt compile in perfbench/)")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        raise Refused(1, f"build failed (rc {rc}); see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")


def data_dir():
    """The catalog's tables, generated once per checkout (fixed seed)."""
    d = os.path.join(WORK, "data", f"sf{DATA_SF}")
    gen = os.path.join(HERE, "datagen.py")
    stamp = hashlib.sha256(read(gen, "rb") + f"{DATA_SF}:{DATA_SEED}".encode()).hexdigest()
    p = os.path.join(d, "STAMP")
    if not (os.path.exists(p) and read(p) == stamp):
        import datagen
        log(f"generating tables (sf {DATA_SF}, seed {DATA_SEED})")
        datagen.generate(d, DATA_SF, DATA_SEED)
        with open(p, "w") as f:
            f.write(stamp)
    return d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise Refused(1, "SPARK_HOME is not set")
    return os.path.join(home, "jars", "*")


def launch(workload, seed, seconds, trace, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM once; return its result JSON."""
    run_dir = os.path.join(WORK, "run")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, f"{workload}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # pinned and pre-touched: the whole heap is resident from the start,
    # so RSS minus the heap is the non-heap memory (see program_memory_mb)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classes_dir() + os.pathsep + spark_jars(), "perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data_dir(), "--work", run_dir,
            "--out", out, "--launch-ms", str(int(time.time() * 1000))]
    env = {k: v for k, v in os.environ.items() if k != "JDK_JAVA_OPTIONS"}
    with open(os.path.join(WORK, "jvm.log"), "a") as logf:
        logf.write(f"\n==== {' '.join(cmd[-18:])}\n")
        logf.flush()
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            raise Refused(1, f"{workload} run exceeded {timeout} s")
    if not os.path.exists(out):
        raise Refused(1, f"{workload} run wrote no result (rc {rc}); see {os.path.join(WORK, 'jvm.log')}")
    with open(out) as f:
        result = json.load(f)
    if "ops" not in result:
        raise Refused(1, f"{workload} run failed: {result.get('error', 'no ops recorded')}")
    return result


# ------------------------------------------------------------ checks

def apply_catalog_checks(result):
    """Mark each catalog check op wrong when its captured output differs
    from the reference. Returns the names left unchecked."""
    checker = Checker(result["fingerprint"]["data_dir"], os.path.join(WORK, "oracle"))
    oracle = result.get("oracle", {})
    unchecked = []
    for op in result["ops"]:
        if op["kind"] != "check" or op["group"] == "battle" or op["status"] != "ok":
            continue
        status, detail = checker.check(os.path.join(WORK, "run", "results", op["name"]),
                                       oracle.get(op["name"]))
        if status == "wrong":
            op["status"], op["error"] = "wrong", detail
        elif status == "unchecked":
            unchecked.append(op["name"])
    return unchecked


def fold_checks(result):
    """Charge each failed or wrong check op to the timed ops whose output
    it checked (same group and name), so a wrong answer is never a
    timing. A check with no timed op is kept as an op of its own."""
    timed = {}
    for o in result["ops"]:
        if o["phase"] == "timed":
            timed.setdefault((o["group"], o["name"]), []).append(o)
    for c in result["ops"]:
        if c["phase"] != "check" or c["status"] == "ok":
            continue
        targets = timed.get((c["group"], c["name"]), [])
        for o in targets:
            if o["status"] == "ok":
                o["status"], o["error"] = "wrong", f"check {c['status']}: {c['error']}"
        if targets:
            c["folded"] = True


def counted(result):
    """The ops a run attempted: every timed op, plus any failed check
    that could not be charged to one. Each query counts once."""
    return [o for o in result["ops"] if o["phase"] == "timed"
            or (o["status"] != "ok" and not o.get("folded"))]


# ------------------------------------------------------------ metrics

def program_memory_mb(result):
    """The program's memory high-water: the largest heap still in use
    after a full collection at the workload's phase boundaries, plus the
    JVM's resident memory outside the (pinned, pre-touched) heap."""
    native = max(0.0, result["jvm_rss_mb"] - result["heap_committed_mb"])
    return result["live_heap_mb"] + native, result["live_heap_mb"], native


def _timed_ok(result, kind=None):
    return [o for o in result["ops"] if o["phase"] == "timed" and o["status"] == "ok"
            and (kind is None or o["kind"] == kind)]


def summarize(workload, result):
    """End-to-end metrics of one untraced run.

    Returns (e2e, named): `e2e` holds the generic metrics every workload
    reports (BENCHMARK.json); `named` the workload's own metrics as
    (name, value, unit, note) rows."""
    ops = counted(result)
    bad = [o for o in ops if o["status"] != "ok"]
    setup = result["setup_s"]
    rss, live, native = program_memory_mb(result)
    named = [("setup_s", setup, "s", "process launch to session ready"),
             ("error_rate", len(bad) / max(1, len(ops)), "fraction", f"{len(bad)} of {len(ops)} ops"),
             ("peak_rss_mb", rss, "MB", f"live heap {live:.0f} + non-heap {native:.0f}; "
              f"JVM RSS {result['jvm_rss_mb']:.0f} with a pinned heap")]
    want = TAIL_WANT[workload]

    def lat(samples, name, unit):
        """A latency's median and tail, as named rows."""
        tv, tp, n = stats.tail(samples, want)
        named.append((f"{name}_p50_{unit}", stats.median(samples), unit, f"n={n}"))
        named.append((f"{name}_p{want}_{unit}", tv, unit, f"as p{tp} (>=10 beyond), n={n}"))

    if workload == "surface-cold":
        q = [o["wall_ms"] / 1000.0 for o in _timed_ok(result, "query")]
        work = sum(q)
        named.append(("surface_cold_s", work, "s", f"{len(q)} first executions"))
        lat(q, "surface", "s")
    elif workload == "relational-warm":
        q = [o["wall_ms"] for o in _timed_ok(result, "query")]
        named.append(("rel_qps", len(q) / result["timed_s"], "queries/s", f"{result['passes']} passes"))
        lat(q, "rel", "ms")
        work = result["timed_s"] / result["passes"]
    else:
        by = {o["name"]: o["wall_ms"] / 1000.0 for o in _timed_ok(result, "phase")}
        users = [o["wall_ms"] / 1000.0 for o in _timed_ok(result, "user")]
        b = result["battle"]
        p0, p2 = by.get("phase0", NAN), by.get("phase2_build", NAN)
        named += [("phase0_s", p0, "s", f"{b['loops']} loops, {b['generated']} battles generated"),
                  ("phase1_s", sum(users), "s", f"{len(users)} users"),
                  ("phase1_user_p50_s", stats.median(users) if users else NAN, "s", ""),
                  ("phase2_build_s", p2, "s", "")]
        reqs = [o["wall_ms"] for o in _timed_ok(result, "request")]
        if reqs:
            lat(reqs, "qna", "ms")
        work = p0 + sum(users) + p2
    e2e = {"setup_s": setup, "work_s": work, "peak_rss_mb": rss}
    return e2e, named


def layer_metrics(result, e2e_traced, e2e_untraced):
    """Per-layer metrics of one traced run, summed over its timed ops."""
    timed = [o for o in result["ops"] if o["phase"] == "timed" and o["kind"] != "request"]
    g = lambda o, k: o.get(k, 0) or 0  # noqa: E731
    tsum = lambda k, ops=timed: sum(g(o, k) for o in ops)  # noqa: E731
    n = max(1, len(timed))
    m = {"session.start_s": result.get("session_start_s", 0.0),
         "plans.analysis_ms": tsum("analysis_ms") / n,
         "plans.optimization_ms": tsum("optimization_ms") / n,
         "plans.planning_ms": tsum("planning_ms") / n,
         "operators.build_ms": tsum("fn_ms"),
         "exec.jobs": tsum("jobs"), "exec.stages": tsum("stages"), "exec.tasks": tsum("tasks"),
         "exec.driver_s": sum(max(0.0, o["wall_ms"] - g(o, "busy_ms")) for o in timed) / 1000.0,
         "exec.task_run_s": tsum("task_run_ms") / 1000.0,
         "exec.task_cpu_s": tsum("task_cpu_ms") / 1000.0,
         "exec.gc_s": tsum("gc_ms") / 1000.0,
         "exec.input_mb": tsum("input_bytes") / 1e6,
         "exec.input_rows": tsum("input_rows"),
         "exec.shuffle_write_mb": tsum("shuffle_write_bytes") / 1e6,
         "exec.shuffle_read_mb": tsum("shuffle_read_bytes") / 1e6,
         "exec.spill_mb": tsum("spill_bytes") / 1e6,
         "exec.peak_exec_mem_mb": max([g(o, "peak_exec_mem_bytes") for o in timed] + [0]) / 1e6}
    for fam in FAMILIES:
        ops = [o for o in timed if o["group"] == fam]
        m[f"operators.{fam}.wall_s"] = sum(o["wall_ms"] for o in ops) / 1000.0
        m[f"operators.{fam}.jobs"] = tsum("jobs", ops)
        m[f"operators.{fam}.task_cpu_s"] = tsum("task_cpu_ms", ops) / 1000.0
    kernel = [o for o in timed if g(o, "kernel_executions") > 0]
    m["artifacts.built"] = tsum("artifacts_built")
    m["artifacts.build_s"] = tsum("artifact_s")
    m["functions.kernel_ops"] = len(kernel)
    m["functions.kernel_task_cpu_s"] = tsum("task_cpu_ms", kernel) / 1000.0
    b = result.get("battle", {})
    loops = b.get("loop_s", [])
    phase0 = [o for o in timed if o["name"] == "phase0"]
    users = [o for o in timed if o["kind"] == "user"]
    render = [o for o in timed if o["name"] == "phase2_build"]
    reqs = [o for o in result["ops"] if o["kind"] == "request"]
    m.update({
        "battle.phase0.loops": b.get("loops", 0),
        "battle.phase0.first_loop_s": loops[0] if loops else 0.0,
        "battle.phase0.last_loop_s": loops[-1] if loops else 0.0,
        "battle.phase0.jobs": tsum("jobs", phase0),
        "battle.phase0.kept_ratio": b["kept"] / b["generated"] if b.get("generated") else 0.0,
        "battle.phase1.jobs_per_user": tsum("jobs", users) / len(users) if users else 0.0,
        "battle.phase2.render_jobs": tsum("jobs", render),
        "sources.gets": b.get("gets", 0),
        "sources.get_ms": b.get("get_ms", 0.0),
        "sources.body_mb": b.get("body_mb", 0.0),
        "serve.requests": len(reqs),
        "serve.errors": sum(1 for o in reqs if o["status"] != "ok"),
        "serve.gen_late_ms": b.get("gen_late_ms", 0.0),
        "serve.classify_us": b.get("classify_us", 0.0)})
    for name, _ in E2E:
        base = e2e_untraced.get(name)
        m[f"trace.overhead_pct.{name}"] = (
            100.0 * (e2e_traced[name] - base) / base if base else 0.0)
    return m


# ------------------------------------------------------------ runs

def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


def run_measured(workload, seed, seconds, trace):
    """One harness run, its output checks and its end-to-end metrics."""
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    result = launch(workload, seed, seconds, trace)
    unchecked = apply_catalog_checks(result)
    fold_checks(result)
    e2e, named = summarize(workload, result)
    return result, e2e, named, unchecked


def write_record(name, record):
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def failures(result):
    return [o for o in counted(result) if o["status"] != "ok"]


def bench(a):
    digest = source_digest()
    build(digest)
    fingerprint = {"git_sha": git_sha(), "source_sha256": digest}
    # the untraced baseline of the same workload and seed: the seed
    # changes the inputs, so only a same-seed run isolates tracing
    last = os.path.join(WORK, "last", f"{a.workload}-seed{a.seed}.json")
    if a.trace and not os.path.exists(last):
        log("no untraced run of this workload and seed yet; running one for the overhead baseline")
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(run_measured(a.workload, a.seed, a.seconds, False)[1], f)
    result, e2e, named, unchecked = run_measured(a.workload, a.seed, a.seconds, a.trace)
    fingerprint.update(result["fingerprint"])
    for name, value, unit, note in named:
        print(f"{a.workload} {name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    if not a.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(e2e, f)
    else:
        with open(last) as f:
            layers = layer_metrics(result, e2e, json.load(f))
        for k in sorted(layers):
            print(f"{a.workload} {k} = {layers[k]:.6g}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        write_record(f"trace-{a.workload}-seed{a.seed}.json",
                     {"spans": result.get("spans", []), "ops": result["ops"], "layers": layers})
    bad = failures(result)
    for o in bad:
        print(f"{a.workload} FAILED {o['kind']} {o['name']}: {o['status']}: {o['error']}")
    for c in result.get("checks", []):
        if not c["ok"]:
            print(f"{a.workload} CHECK FAILED {c['name']}: {c['detail']}")
    if unchecked:
        print(f"{a.workload} unchecked (no reference): {', '.join(sorted(unchecked))}")
    print(f"{a.workload} fingerprint {json.dumps(fingerprint, sort_keys=True)}")
    write_record(f"{a.workload}-seed{a.seed}-trace{int(a.trace)}.json",
                 {"fingerprint": fingerprint, "named": named, "metrics": metrics,
                  "failed": [(o["name"], o["status"], o["error"]) for o in bad]})
    correct = not bad and not unchecked
    # a metric a failed run could not measure is omitted, never NaN
    metrics = {k: v for k, v in metrics.items() if v["value"] == v["value"]}
    print(json.dumps({"correct": correct, "attempted": len(counted(result)),
                      "failed": len(bad), "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name):
    if name.startswith("trace.overhead_pct"):
        return "%"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_us", "us"), ("_mb", "MB"),
                         ("_ratio", "fraction"), ("jobs_per_user", "jobs")):
        if name.endswith(suffix):
            return unit
    return "count"


def self_test():
    """The benchmark's own tests: Python units, then the JVM self-test."""
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        return 1
    build(source_digest())
    result = launch("self-test", 5, 1, True)
    ok = True
    for t in result["selftest"]:
        print(f"{'ok  ' if t['ok'] else 'FAIL'} {t['name']}" + (f": {t['detail']}" if t["detail"] else ""))
        ok &= t["ok"]
    users = [o["name"] for o in result["ops"] if o["kind"] == "user"]
    failed = sorted(o["name"] for o in failures(result))
    print(f"injected failures reported: {failed}")
    ok &= len(users) == 2 and failed == sorted(["selftest_throws", "selftest_fails_in_task", users[1]])
    print("self-test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main(argv):
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    try:
        check_knobs(os.environ)
        source_digest()
        os.makedirs(WORK, exist_ok=True)
        lock = open(os.path.join(WORK, "lock"), "w")
        # runs in one checkout share .work/run: one at a time
        fcntl.flock(lock, fcntl.LOCK_EX)
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        return bench(a)
    except Refused as e:
        log(str(e))
        return e.code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
