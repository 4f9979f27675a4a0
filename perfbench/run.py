#!/usr/bin/env python3
"""graft benchmark: one closed-loop client running a named workload.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the library and
the harness with sbt (offline) into `target/` directories; later runs
reuse the build until a source file changes.

A run generates the workload's input tables from the seed
(`perfbench/gen.py`), starts one JVM (`graftbench.Main`, Spark
`local[nproc]`), which warms up, then runs passes over the workload's
ops for `--seconds`, and writes every op's output once, outside the
timed passes. The outputs are then checked against each op's DuckDB
oracle (`perfbench/oracle.py`). An op that throws or disagrees with its
oracle counts as failed.

With `--trace 0` the last stdout line holds the end-to-end metrics; with
`--trace 1` it holds the per-layer metrics of a traced run, and the
spans go to `perfbench/.work/<run>/spans.jsonl`.
"""
import argparse
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# tables each workload's ops read, and the input scale
WORKLOADS = {
    "etl_star": {"tables": ["region", "nation", "customer", "part", "orders", "lineitem"],
                 "scale": {"sf": 0.1}},
    "corpus_dedup": {"tables": ["documents", "embeddings"],
                     "scale": {"documents": 2000, "embeddings": 1000}},
}

END_TO_END = [("pass_s", "s"), ("setup_s", "s")]
JVM_HEAP = "3g"


def deadline_s(seconds):
    """How long the JVM may run, counted from the end of the build:
    input generation, set-up, the measured passes and the traced probes."""
    return 120 + 2 * seconds


_children = []


def run_child(cmd, timeout=None, **kw):
    """Run a subprocess to completion; a SIGTERM or SIGINT to this
    process stops it too, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        _children.remove(proc)


def _stop(signum, _frame):
    for proc in list(_children):
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build with sbt if needed; returns (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources to build: {os.path.join(ROOT, need)} is missing")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.sources")
    digest = sources_digest()
    fresh = os.path.exists(launch) and os.path.exists(stamp)
    if not fresh or open(stamp).read() != digest:
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if code != 0:
            fail("sbt build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    classpath, jvm_opts = build()
    t_start = time.time()
    deadline = deadline_s(args.seconds)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    sizes = gen.write(input_dir, wl["tables"], wl["scale"], args.seed)
    gen_s = time.time() - t0

    cpus = os.cpu_count() or 1
    cmd = (["java"] + jvm_opts +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--input", input_dir, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus)])
    log_path = os.path.join(work, "jvm.log")
    launched_ms = time.time() * 1000
    with open(log_path, "w") as log:
        code = run_child(cmd, timeout=max(10, deadline - (time.time() - t_start)),
                         cwd=work, stdout=log, stderr=log)
    if code is None:
        fail(f"the JVM did not finish within {deadline:.0f} s; log: {log_path}")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"the JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    mismatches, out_rows = oracle.check(input_dir, os.path.join(work, "check"))
    # keep the run's records (result, spans, JVM log), drop its data
    for bulky in ("input", "check", "aux", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, bulky), ignore_errors=True)
    # every op execution counts: those of the measured passes, and the
    # one per op that wrote the output the oracle check read
    check_failed = set(res["check_errors"]) | set(mismatches)
    attempted = int(res["attempted"]) + len(res["ops"])
    failed = int(res["failed"]) + len(check_failed)
    errors = {**res["run_errors"], **mismatches, **res["check_errors"]}

    passes = res["pass_s"]
    setup_s = gen_s + (res["setup_end_ms"] - launched_ms) / 1000
    e2e = {"pass_s": statistics.median(passes), "setup_s": setup_s}

    print(f"workload {args.workload}  seed {args.seed}  cores {cpus}  client: closed loop, 1")
    for t, (rows, nbytes) in sizes.items():
        print(f"  input {t}: {rows} rows, {nbytes} bytes")
    print(f"  warm-up passes (s): {', '.join(f'{x:.3f}' for x in res['warmup_pass_s'])}"
          + ("" if res["warmup_leveled"] else "  -- the last was over 3% faster than the one before"))
    calib = res["calib_ms"]
    print(f"  calibration loop (ms, {cpus} threads): start {calib[0]:.1f}, "
          f"before each pass {', '.join(f'{x:.1f}' for x in calib[1:-1])}, end {calib[-1]:.1f}")
    print(f"  pass_s: median {statistics.median(passes):.3f} s, "
          f"max {max(passes):.3f} s, n={len(passes)}; "
          f"over the median calibration loop: {pass_over_calib(passes, calib):.2f}")
    print(f"  op median (ms): {', '.join(f'{op} {v:.0f}' for op, v in res['op_ms'].items())}")
    print(f"  peak_cached_mb: median {statistics.median(res['peak_cached_mb']):.3f}")
    print(f"  setup_s: {setup_s:.3f} (input generation {gen_s:.3f}, JVM and session start "
          f"{(res['session_ms'] - launched_ms) / 1000:.3f}, warm-up {sum(res['warmup_pass_s']):.3f}); "
          f"correctness pass after the measured passes: {res['check_pass_s']:.3f} s")
    print(f"  fail_ratio: {failed}/{attempted}; oracle-checked ops: {len(out_rows)}")
    print(f"  output rows: {', '.join(f'{op} {n}' for op, n in sorted(out_rows.items()))}")
    for op, why in sorted(errors.items()):
        print(f"  FAILED {op}: {why}")

    if args.trace:
        layers = dict(res["layers"], **{
            "machine.calib_ms": statistics.median(calib),
            "machine.pass_over_calib": pass_over_calib(passes, calib)})
        metrics = {k: {"value": v if v is not None else 0.0, "unit": unit_of(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def pass_over_calib(passes, calib_ms):
    """Median pass time over the median calibration loop time: the pass
    in units of a machine-speed yardstick, steadier than `pass_s` when
    the machine's speed drifts between runs."""
    return statistics.median(passes) / (statistics.median(calib_ms) / 1000)


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if last.endswith(suffix) or last == suffix[1:]:
            return unit
    if last in ("call_share", "core_busy", "pass_over_calib"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
