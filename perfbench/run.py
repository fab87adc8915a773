#!/usr/bin/env python3
"""Benchmark of the ingest pipeline and the query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # every workload at its smallest size
    python3 perfbench/run.py --record-pins    # re-pin query fingerprints (oracle-checked)

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
at local[<nproc>] that sets up, checks outputs once, then measures a
closed loop (one operation at a time) for --seconds. The last line of
stdout is the result JSON; progress and details go to stderr.

Workloads, their sizes and the layer-to-metric map live in
perfbench/workloads.json; metric names and units in BENCHMARK.json.
Query workloads read the fixed testdata tables under the engine's testdata
root ($SPARK_GRAFT_TESTDATA, or graft.GenEdge's default); the seed generates
the ingest corpus and the operation order of every pass.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
DEADLINE_S = 170  # every run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] engine sources not found under src/main/scala; "
                         "run from the root of a full checkout")
    digest = sources_digest()
    stamp = os.path.join(TARGET, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("[perfbench] sbt build failed")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("[perfbench] sbt printed no classpath")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def pins_file(sf, work):
    """The pinned fingerprints for one testdata scale, as name<TAB>fp lines."""
    pins = load("pins.json").get(sf, {}) if os.path.exists(os.path.join(HERE, "pins.json")) else {}
    path = os.path.join(work, "pins.tsv")
    with open(path, "w") as f:
        for k, v in sorted(pins.items()):
            f.write(f"{k}\t{v}\n")
    return path


def java(classpath, tmp):
    """The JVM command line. The heap may grow up to 2 GB, so peak RSS sees
    heap growth; ParallelGC kept pass times steadier than G1 on a 4-vCPU VM."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dspark.sql.legacy.parquet.nanosAsLong=true",
        "-cp", classpath]


def run_jvm(classpath, wl, seed, seconds, trace, cpus, work, spans, extra, deadline):
    """One benchmark JVM; returns its result dict or None."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    args = ["--kind", wl["kind"], "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus), "--work", work, "--out", out,
            "--spans", spans]
    for k in ("rows", "archives", "entries", "setups"):
        if k in wl:
            args += [f"--{k}", str(wl[k])]
    if wl["kind"] == "queries":
        args += ["--sf", wl["sf"], "--ops", ",".join(wl["ops"]),
                 "--pins", pins_file(wl["sf"], work)]
    args += extra
    cmd = java(classpath, os.path.join(work, "tmp")) + ["graft.bench.PerfBench"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log("run exceeded its time limit; JVM killed")
            rc = -1
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        log(f"JVM exited with {rc}")
        return None
    with open(jvm_log, errors="replace") as f:
        for line in f:
            if line.startswith("[setup"):
                log(line.rstrip())
    with open(out) as f:
        return json.load(f)


def report(res, trace):
    """The result line: every declared metric of the mode, with its unit."""
    s = spec()
    decl = s["per_layer"] if trace else s["end_to_end"]
    source = res["per_layer"] if trace else res["end_to_end"]
    missing = [m["name"] for m in decl if m["name"] not in source]
    if missing:
        raise SystemExit(f"[perfbench] metrics missing from the run: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in decl}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def one_run(wl_name, seed, seconds, trace, smoke=False, extra=()):
    start = time.time()
    workloads = load("workloads.json")
    if wl_name not in workloads["workloads"]:
        raise SystemExit(f"[perfbench] unknown workload {wl_name}")
    wl = dict(workloads["workloads"][wl_name])
    if smoke:
        wl.update(workloads["smoke"][wl["kind"]])
    classpath = build()
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = os.path.join(TARGET, "work", f"{wl_name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(TARGET, "traces", f"{wl_name}-seed{seed}.jsonl")
    try:
        res = run_jvm(classpath, wl, seed, seconds, trace, cpus, work, spans, list(extra),
                      start + DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        raise SystemExit(1)
    for p in res["info"]["problems"]:
        log(f"check: {p}")
    info = res["info"]
    log(f"{wl_name}: passes={info['passes']} traced={info['traced_passes']} "
        f"ops/pass={info['ops_per_pass']} samples={info['op_samples']} "
        f"failed_frac={info['failed_frac']} input_mb={info['input_mb']:.1f} "
        f"out_bytes_ratio={info['out_bytes_ratio']:.4f}")
    log(f"  setups_s={info['setup_runs_s']} passes_s={info['pass_runs_s']}")
    log(f"  op_tail_s: {info['op_tail']}")
    log("  op medians: " + " ".join(f"{k}={v:.3f}" for k, v in info["op_median_s"].items()))
    for op, kv in ((op, kv) for op, kv in info["op_layers"].items() if kv):
        keys = ["op_s"] + sorted(k for k in kv if k.endswith("_s") and "." in k
                                 and not k.startswith(("exec.", "streaming.")))
        log(f"  traced {op}: " + " ".join(
            f"{k}={kv[k]:.3f}" for k in keys + ["exec.task_s", "exec.jobs", "exec.input_mb"]))
    log(f"  jvm uptime at {info['uptime_s']}; run wall {time.time() - start:.1f}s")
    for name, val in (res["per_layer"] if trace else res["end_to_end"]).items():
        log(f"  {name} = {val:.6g}")
    # the whole result, with the run's details (sample counts, the tail's
    # definition, per-operation layer readings), next to the spans
    detail = os.path.join(TARGET, "results", f"{wl_name}-seed{seed}-trace{trace}.json")
    os.makedirs(os.path.dirname(detail), exist_ok=True)
    with open(detail, "w") as f:
        json.dump(res, f, indent=1)
    log(f"details written to {os.path.relpath(detail, ROOT)}")
    if trace:
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    return res


def smoke():
    """Every workload at its smallest size, both modes: all metrics named,
    with units, and no failed operation."""
    ok = True
    for name in load("workloads.json")["workloads"]:
        for trace in (0, 1):
            res = one_run(name, 1, 1, trace, smoke=True)
            line = report(res, trace)
            good = res["failed"] == 0 and res["correct"] and all(
                "unit" in m and isinstance(m["value"], (int, float))
                for m in line["metrics"].values())
            log(f"smoke {name} trace={trace}: {'ok' if good else 'FAILED'}")
            ok &= good
    return 0 if ok else 1


def record_pins():
    """Re-pin the query fingerprints. The fingerprints are taken first; the
    same queries are then dumped with graft.Verify and compared to the DuckDB
    oracle (tools/check_oracle.py), and pins are written only if every query
    passes."""
    workloads = load("workloads.json")
    classpath = build()
    pins = {}
    for name, wl in workloads["workloads"].items():
        if wl["kind"] != "queries":
            continue
        for sf in (wl["sf"], workloads["smoke"]["queries"]["sf"]):
            res = one_run(name, 1, 0, 0, smoke=(sf != wl["sf"]), extra=["--record-pins", "1"])
            sf_dir = res["info"]["sf_dir"]
            dump = os.path.join(TARGET, "work", f"verify-{name}-{sf}")
            shutil.rmtree(dump, ignore_errors=True)
            cmd = java(classpath, TARGET) + ["graft.Verify", sf_dir, dump, ",".join(wl["ops"])]
            subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
            chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                                  sf_dir, dump], capture_output=True, text=True)
            sys.stderr.write(chk.stdout[-2000:])
            if chk.returncode != 0:
                raise SystemExit(f"[perfbench] oracle check failed for {name} at {sf}")
            shutil.rmtree(dump, ignore_errors=True)
            pins.setdefault(sf, {}).update(res["info"]["fingerprints"])
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-pins", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if a.record_pins:
        return record_pins()
    if not a.workload:
        ap.error("--workload is required")
    res = one_run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(report(res, a.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
