#!/usr/bin/env python3
"""Benchmark of graft's medallion pipeline, one workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the library and the harness with sbt (`perfbench/build.sbt`); later runs
reuse the build until a source file changes. Each run starts one JVM
(`local[4]`, 4 shuffle partitions) that sets up, warms up, and repeats the
workload's unit of work for `--seconds`; then this script checks the
outputs against stored DuckDB oracle digests and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` the run alternates untraced units with units traced by the
harness's listeners, and the metrics are the per-layer ones. Everything a
run writes stays under `.bench_run/` in the checkout, and sbt's state under
`.bench_build/`. See perfbench/README.md.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".bench_run")
LAUNCH = os.path.join(HERE, "target", "launch.json")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "2g"
DEADLINE_S = 170  # the whole run, build excluded

# What each workload's generic end-to-end metrics are called in
# perfbench/README.md (the names the pipeline's users know them by).
ALIASES = {
    "ingest": {"part_a_s": "curate_s", "part_b_s": "stream_s",
               "rate_per_s": "stream_msgs_per_s",
               "op_p50_ms": "stream_batch_p50_ms",
               "op_p90_ms": "stream_batch_p90_ms"},
    "serve": {"part_b_s": "analytics_s (ml_recommend)",
              "op_p50_ms": "interactive_p50_ms",
              "op_p90_ms": "interactive_p90_ms"},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Build with sbt unless target/launch.json is newer than every source."""
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest:
        return
    # offline, from the toolchain's dependency cache; sbt's own state
    # (global base, ivy home, temp files, no server) stays in the checkout
    state = os.path.join(ROOT, ".bench_build")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=f"{state}/tmp",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", SBT_OPTS=" ".join([
        "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.offline=true",
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={repos}", "-Dsbt.boot.lock=false",
        f"-Dsbt.global.base={state}/sbt", f"-Dsbt.ivy.home={state}/ivy2",
        f"-Djava.io.tmpdir={state}/tmp", f"-Djna.tmpdir={state}/tmp",
        "-Dsbt.server.autostart=false"]))
    t0 = time.time()
    with open(os.path.join(RUNS, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "launchFile"], cwd=HERE, env=env,
                             stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (exit {rc}); see .bench_run/build.log")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def source_digest():
    h = hashlib.sha256()
    for f in sorted(sources()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def harness(args, run_dir):
    """Run the harness JVM; return its result dict (or exit)."""
    with open(LAUNCH) as f:
        launch = json.load(f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + launch["javaOptions"]
           + ["-cp", os.pathsep.join(launch["classpath"]),
              "graftbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--root", run_dir, "--result", result,
              "--spans", os.path.join(run_dir, "spans.json")])
    log_path = os.path.join(run_dir, "harness.log")
    steal0 = steal_s()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(result) as f:
        res = json.load(f)
    # CPU time the hypervisor gave to others while this run wanted it
    res["cpu_steal_s"] = steal_s() - steal0
    return res


def steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_checks(specs):
    """Run every output check; each one counts as an operation."""
    oracles = digest.load_oracles(os.path.join(HERE, "oracles.json"))
    out = []
    for spec in specs:
        try:
            ok, detail = CHECKS[spec["kind"]](spec, oracles)
        except Exception as e:  # a check that cannot run has failed
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append({"name": spec["name"], "kind": spec["kind"], "ok": ok,
                    "detail": detail})
    return out


def check_digest(spec, oracles):
    want = oracles[spec["name"]]
    got = digest.of_parquet(spec["path"])
    if got["columns"] != want["columns"]:
        return False, f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return False, f"rows {got['rows']} != {want['rows']}"
    return got["digest"] == want["digest"], f"{got['rows']} rows"


def check_offsets(spec, _):
    import pyarrow.dataset as ds
    t = ds.dataset(spec["path"], format="parquet").to_table(columns=["offset"])
    offs = t.column("offset").to_pylist()
    n = spec["expected"]
    ok = len(offs) == n and len(set(offs)) == n and \
        min(offs) == 0 and max(offs) == n - 1
    return ok, f"{len(offs)} rows, {len(set(offs))} distinct offsets of {n}"


def check_windows(spec, _):
    """Stage 2 emits exactly the batch twin's windows that the final
    watermark closed, with the twin's values, each once."""
    import pyarrow.dataset as ds
    def rows(path):
        t = ds.dataset(path, format="parquet").to_table()
        cols = sorted(t.column_names)
        return [tuple(r[c] for c in cols) for r in t.to_pylist()]
    got = rows(spec["path"])
    twin = rows(spec["twin"])
    wm = datetime.datetime.fromisoformat(
        spec["watermark"].replace("Z", "+00:00"))
    wm_us = int(wm.timestamp()) * 1_000_000 + wm.microsecond
    # column order: n_txns, payment_method, sum_amount_cents, sum_qty, ws_us
    closed = sorted(r for r in twin if r[4] + 10_000_000 <= wm_us)
    keys = {(r[4], r[1]) for r in got}
    ok = len(keys) == len(got) and sorted(got) == closed and len(got) > 0
    return ok, f"{len(got)} windows emitted, {len(closed)} closed in twin"


CHECKS = {"digest": check_digest, "offsets": check_offsets,
          "windows": check_windows}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala"), DATA,
                 os.path.join(HERE, "oracles.json")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full "
                 "checkout of the repository")
    os.makedirs(RUNS, exist_ok=True)
    build()

    started = time.time()
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-t{args.trace}-", dir=RUNS)
    try:
        res = harness(args, run_dir)
        checks = run_checks(res["checks"])
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(RUNS, f"spans-{tag}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = res["attempted"] + len(checks)
    failures = res["failures"] + [f"check {c['name']}: {c['detail']}"
                                  for c in checks if not c["ok"]]
    failed = len(failures)
    metrics = dict(res["metrics"])
    metrics["ok_share"] = {"value": (attempted - failed) / attempted,
                           "unit": "share"}
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer" if args.trace
                                      else "end_to_end"]]
    missing = [n for n in names if metrics.get(n, {}).get("value") is None]
    if missing:
        failures.append(f"metrics not measured: {missing}")
        failed += 1

    artifact = dict(res, checks=checks, failures=failures,
                    attempted=attempted, failed=failed, metrics=metrics,
                    source_digest=source_digest(), git_sha=git_sha(),
                    workload=args.workload,
                    run_wall_s=time.time() - started)
    with open(os.path.join(RUNS, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    alias = ALIASES[args.workload]
    for n in names:
        if n not in missing:
            m = metrics[n]
            also = f"  ({alias[n]})" if n in alias else ""
            print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}{also}")
    for n, m in sorted(res.get("layers", {}).items()):
        print(f"{args.workload} {n} = {m['value']} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: metrics[n] for n in names
                                  if n not in missing}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
