#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, traced per layer.

    python3 perfbench/run.py --workload <crawl_incremental|operator_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. One JVM runs the workload at
local[nproc]; this script turns its raw report into metrics, runs the
correctness gate (harness checks, DuckDB oracles, deterministic counts),
and prints the result as the last line of stdout. The exit code is 0 only
when every operation and check passed. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("crawl_incremental", "operator_queries")
# the engine's reference test tier sf0.01 (seed 42), copied unchanged so a
# run reads only inside its checkout; SHA256SUMS lists the files
TABLES = os.path.join(HERE, "testdata", "sf0.01")
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC"]
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# environment fields that must match before two outputs are compared
ENV_KEYS = ("nproc", "master", "shuffle_partitions", "driver_heap_mb", "jvm", "jvm_flags",
            "spark", "scala", "source_digest")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    paths = []
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    paths += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(paths)


def source_digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


_children = []


def _stop_children(signum, _frame):
    """SIGTERM/SIGINT: take the child's process group down with us."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout and
    wait for it either way. Returns the exit code (None on timeout)."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            _children.remove(p)


def build(root, state, digest):
    """Compile engine + harness with sbt once per source digest; returns the
    runtime classpath."""
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log_path = os.path.join(state, "build.log")
    log("building engine + harness with sbt (first run in this checkout)")
    t0 = time.time()
    code = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, log_path, BUILD_TIMEOUT_S, env)
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    cps = [ln.strip() for ln in lines if "scala-2.13/classes" in ln and ".jar" in ln]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (exit {code})")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)  # steal, total (user..steal)


def git_commit(root):
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return "none (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def ledger_check(state, stamp, workload, seed, counts, op_s, traced):
    """Compare this run's deterministic counts with earlier runs of the same
    seed and run length in this checkout. Returns (mismatches, note, untraced op_mean_s)."""
    # the run length sets the number of rounds, so only runs of the same
    # length are comparable
    path = os.path.join(state, "ledger", f"{workload}-{seed}-{stamp['seconds']:g}s.json")
    env = {k: stamp[k] for k in ENV_KEYS}
    prev = load_json(path, None)
    mismatches, note, base_op_s = [], "first run of this seed", None
    if prev is not None and prev["env"] != env:
        note = "stamps differ: earlier runs not compared"
        prev = None
    if prev is not None:
        common = sorted(set(prev["counts"]) & set(counts))
        mismatches = [f"{k}: {counts[k]} != earlier {prev['counts'][k]}"
                      for k in common if prev["counts"][k] != counts[k]]
        note = f"{len(common)} counts compared with {prev['runs']} earlier run(s)"
        base_op_s = prev.get("untraced_op_mean_s")
    merged = dict(prev["counts"]) if prev else {}
    merged.update(counts)
    entry = {"env": env, "counts": merged, "runs": (prev["runs"] if prev else 0) + 1,
             "untraced_op_mean_s": base_op_s if traced else op_s}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(entry, f)
    return mismatches, note, base_op_s


def declared(kind):
    spec = load_json(os.path.join(HERE, "..", "BENCHMARK.json"), {})
    return {m["name"]: m["unit"] for m in spec.get(kind, [])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    traced = a.trace == 1
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the repository root (src/main/scala/graft not found)")
    state = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(state, exist_ok=True)
    digest = source_digest(root)
    classpath = build(root, state, digest)

    t_start = time.time()
    tables = TABLES if (a.workload == "operator_queries" or traced) else None
    work = os.path.join(state, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "graft.perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", raw_path] + (["--tables", tables] if tables else [])
    steal0, total0 = cpu_times()
    jvm_log = os.path.join(state, f"jvm-{a.workload}.log")
    code = run_proc(cmd, root, jvm_log, RUN_BUDGET_S - (time.time() - t_start))
    steal1, total1 = cpu_times()
    log(f"JVM exited ({code}) after {time.time() - t_start:.1f} s")
    raw = load_json(raw_path, None)
    if raw is None:
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        raise SystemExit(f"perfbench: JVM produced no report (exit {code})")

    stamp = dict(raw["stamp"], jvm_flags=" ".join(JVM_FLAGS), source_digest=digest,
                 git_commit=git_commit(root),
                 seed=a.seed, workload=a.workload, trace=a.trace, seconds=a.seconds)
    checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    if raw.get("error"):
        checks.append(("workload.completed", False, raw["error"]))
    cold = [o for o in raw["ops"] if o["kind"] == "cold" and o["ok"]]
    if cold:
        import oracle
        out_dir = raw["info"]["query_out"]
        sql = {q: s for q, s in raw["oracle_sql"].items() if q in {o["name"] for o in cold}}
        checks += [(f"oracle.{q}", ok, d) for q, ok, d in oracle.check(tables, out_dir, sql)]
    log(f"oracle checks done at {time.time() - t_start:.1f} s")
    counts, within, shuffle_bytes = metrics.deterministic_counts(raw)
    checks.append(("determinism.within_run", not within, "; ".join(within) or "repeat exactly"))
    e2e = metrics.end_to_end(raw)
    op_s = e2e["op_mean_s"]["value"]
    across, ledger_note, base_op_s = ledger_check(state, stamp, a.workload, a.seed, counts,
                                                  op_s, traced)
    checks.append(("determinism.across_runs", not across, "; ".join(across) or ledger_note))

    layers = metrics.per_layer(raw) if traced else {}
    want = declared("per_layer" if traced else "end_to_end")
    got = layers if traced else {k: v["value"] for k, v in e2e.items()}
    missing, invalid = metrics.unemitted(got, want)
    checks.append(("contract.metrics_emitted", not (missing or invalid),
                   f"missing {missing}, invalid names {invalid}" if missing or invalid else "all"))

    failed_ops = [o for o in raw["ops"] if not o["ok"]]
    failed_checks = [c for c in checks if not c[1]]
    attempted = len(raw["ops"]) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    correct = failed == 0

    report = {
        "stamp": stamp,
        "end_to_end": e2e,
        "error_rate": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "counts": counts,
        "shuffle_bytes": shuffle_bytes,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "failed_ops": [f"{o['kind']}:{o['name']}" for o in failed_ops],
    }
    out_dir = os.path.join(state, "out")
    os.makedirs(out_dir, exist_ok=True)
    if traced:
        spans = metrics.build_spans(raw)
        selfs = metrics.self_times(spans)
        span_path = os.path.join(out_dir, f"spans-{a.workload}-s{a.seed}.jsonl")
        with open(span_path, "w") as f:
            for sp in spans:
                f.write(json.dumps(dict(sp, self_ms=selfs[sp["id"]])) + "\n")
        report["per_layer"] = layers
        report["span_file"] = os.path.relpath(span_path, root)
        report["tracing_overhead_s"] = (
            {"traced_op_mean_s": op_s, "untraced_op_mean_s": base_op_s,
             "overhead_s": op_s - base_op_s, "overhead_share": (op_s - base_op_s) / base_op_s}
            if base_op_s else "no untraced run of this seed with the same stamp yet")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.move(raw_path, os.path.join(out_dir, f"raw-{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)

    for name, m in e2e.items():
        if m["value"] is None:
            continue
        tail = f", p{m['tail_p']}={m['tail']:.4f}" if m["tail_p"] is not None else ""
        print(f"{a.workload} {name} = {m['value']:.4f} {m['unit']} (n={m['n']}{tail})")
    print(f"{a.workload} error_rate = {failed}/{attempted}")
    for n, ok, d in checks:
        if not ok:
            print(f"FAILED {n}: {d}")
    print(json.dumps(report, sort_keys=True))
    final = {name: {"value": got[name], "unit": unit} for name, unit in want.items()
             if got.get(name) is not None}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": final}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
