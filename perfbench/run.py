#!/usr/bin/env python3
"""graft benchmark: three seeded user flows, end to end and layer by layer.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  collection_build  p1 collection build + a25 related collections + p6 ES render
  corpus_build      p2 training-corpus pipeline (gate, dedup, CC, contamination)
  ingest_serving    fitted serving store, then a closed loop of ingest cycles

The command builds graft and the benchmark from source when needed
(sbt, offline), generates the inputs from the seed (cached per seed),
runs one JVM on local[nproc], checks every pass's outputs against the
DuckDB oracles registered in graft.SparkEntry.oracleSql, and prints
one JSON line as the last line of stdout. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
It exits 1 when any pass failed or gave a wrong output.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ("collection_build", "corpus_build", "ingest_serving")
# Set-ups per run; setup_s is their median. WARMUPS further untimed
# passes follow before the timed loop (ingest_serving needs a slice for
# each: gen.py writes SETUPS + WARMUPS warm-up slices).
SETUPS = 2
WARMUPS = {"collection_build": 2, "corpus_build": 0, "ingest_serving": 1}
MIN_PASSES = {"collection_build": 4, "corpus_build": 5, "ingest_serving": 5}
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """JVM heap from MemTotal, as the repository's test command sizes it:
    half the memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def bench_stamp():
    """A digest of the benchmark's own driver side: the scripts, the
    oracle gate they import and BENCHMARK.json."""
    h = hashlib.sha256()
    for rel in ("perfbench/run.py", "perfbench/gen.py", "perfbench/check.py",
                "tools/verify_local.py", "BENCHMARK.json"):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark (sbt, once per source state);
    return the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp_file = os.path.join(out, "classpath")
        st_file = os.path.join(out, "stamp")
        if os.path.exists(cp_file) and os.path.exists(st_file) \
                and open(st_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or lines[-1].startswith("["):
            log(r.stdout[-4000:])
            raise RuntimeError("sbt build failed")
        log(f"[perfbench] built in {time.time() - t0:.1f}s")
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(st_file, "w") as f:
            f.write(stamp)
        return lines[-1]


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, inputs, work, seconds, trace):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # ParallelGC with fixed generation sizes and room for the metaspace
    # Spark's codegen fills: with the defaults the collector grows the
    # heap and the metaspace through full collections during the first
    # passes. The young generation's fixed size keeps peak_rss_mb steady.
    xmx = int(heap()[:-1]) << 10
    cmd = ["java", f"-Xmx{xmx}m", f"-Xms{min(1536, xmx)}m", "-Xmn768m",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.callstack.depth=400",
           f"-Dderby.system.home={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", f"workload={workload}",
            f"inputs={inputs}", f"work={work}", f"seconds={seconds}",
            f"trace={1 if trace else 0}", f"setups={SETUPS}",
            f"warmups={WARMUPS[workload]}",
            f"nproc={nproc()}", f"min_passes={MIN_PASSES[workload]}",
            f"out={out}"]
    env = dict(os.environ)
    env["GRAFT_MODEL_DIR"] = os.path.join(work, "models")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        # The JVM runs in its own process group: take it down with us.
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def tail_percentile(walls):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0 * (n - 1) / n if n else 0.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("perfbench: graft sources not found next to perfbench/; "
            "run from a checkout of the repository")
        return 2

    import gen
    import check

    phases = {}
    t = time.time()
    cp = build()
    phases["build_s"] = time.time() - t
    t = time.time()
    inputs = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}-{gen.stamp()}")
    meta = gen.generate(a.workload, a.seed, inputs)
    phases["generate_s"] = time.time() - t
    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace == 1)
        phases["jvm_s"] = time.time() - t
        t = time.time()
        with open(os.path.join(work, "oracles.json")) as f:
            oracles = json.load(f)
        passes = res["passes"]
        refs = check.references(a.workload, inputs, oracles,
                                [p["input"] for p in passes])
        phases["references_s"] = time.time() - t
        t = time.time()
        failed = 0
        for p in passes:
            err = p.get("error") or check.verify(p["out"], refs[p["input"]])
            p["check"] = err or "ok"
            del p["out"]
            if err:
                failed += 1
                log(f"[perfbench] pass {p['index']} FAILED: {err}")
        phases["check_s"] = time.time() - t
        artifact = describe(a, res, meta, passes, failed)
        artifact["phases"] = phases
        if a.trace:
            metrics = per_layer_metrics(res, passes)
        else:
            metrics = end_to_end_metrics(res, passes)
        artifact["metrics"] = metrics
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        with open(os.path.join(WORK, "artifacts",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(res, passes):
    walls = [p["wall_s"] for p in passes]
    return {
        "setup_s": {"value": _med([s["setup_s"] for s in res["setups"]]), "unit": "s"},
        "pass_s": {"value": _med(walls), "unit": "s"},
        "cpu_s": {"value": _med([p["cpu_s"] for p in passes]), "unit": "s"},
        "shuffle_mb": {"value": _med([p["shuffle_mb"] for p in passes]), "unit": "MB"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
    }


def per_layer_metrics(res, passes):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layers = dict(res["layers"])
    traced = [p["wall_s"] for p in passes if p["traced"]]
    layers["loop.tail_s"] = tail_percentile(traced)[0] if traced else 0.0
    out = {}
    for m in spec["per_layer"]:
        out[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def describe(a, res, meta, passes, failed):
    walls = [p["wall_s"] for p in passes if not p["traced"]]
    tail, pct, n = tail_percentile(walls) if walls else (0.0, 0.0, 0)
    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or rev
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": res["nproc"], "heap": heap(),
        "heap_max_mb": res["heap_max_mb"], "git_revision": rev,
        "source_sha256": source_stamp(), "bench_sha256": bench_stamp(),
        "spark": res["spark_version"],
        "jdk": res["jdk"],
        "session_confs": {k: v for k, v in res["session_confs"].items()
                          if k != "spark.sql.warehouse.dir"},
        "inputs": meta, "setups": res["setups"],
        "passes": passes, "failed": failed, "failed_frac": failed / max(1, len(passes)),
        "tail": {"seconds": tail, "percentile": pct, "samples": n},
        "layers": res.get("layers", {}), "spans": res.get("spans", []),
        "jobs": res.get("jobs", []),
        "peak_rss_mb": res["peak_rss_mb"],
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
