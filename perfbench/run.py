#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <interactive|migrate|ann_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine from source
(perfbench/build.py), prepares the workload's fixture once (fingerprinted
and reused) and the run's seeded operation stream (perfbench/gen.py), runs
the workload in one JVM with one closed-loop client on local[<cores>],
checks every output (perfbench/check.py), and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The line before it
is a {"record": ...} object with the ungated reference fields (the
workload's own metrics, the DuckDB wall, the same-boot floor sample,
tracing overhead). Everything it writes stays under .bench_build/, and the
per-run directory is deleted at exit.
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170
# (fixture, operation stream) parameters per size; "tiny" is the
# self-test's size. The streams are longer than any run consumes.
SIZES = {
    "full": {"interactive": ({"sf": 0.01}, {"rounds": 50}),
             "migrate": ({"sf": 0.05}, {"batches": 100, "batch_rows": 2000, "reads": 1000}),
             "ann_serve": ({"n": 10000, "dims": 64, "n_lists": 16, "queries": 256},
                           {"batches": 50, "batch_size": 100, "singles": 500,
                            "batch_queries": 32})},
    "tiny": {"interactive": ({"sf": 0.002}, {"rounds": 4}),
             "migrate": ({"sf": 0.002}, {"batches": 10, "batch_rows": 50, "reads": 100}),
             "ann_serve": ({"n": 2000, "dims": 32, "n_lists": 8, "queries": 32},
                           {"batches": 10, "batch_size": 20, "singles": 100,
                            "batch_queries": 8})},
}
FIXTURES = {"interactive": gen.corpus_tables, "migrate": gen.migrate_fixture,
            "ann_serve": gen.ann_fixture}
# Lowest recall@10 of the warm-up's fixed queries, per size and serve
# path. That recall is the same on every run, so each floor sits just
# below the measured value (see CHANGES.md) and a change that trades
# recall for speed fails the run.
RECALL_FLOOR = {"full": {"single": 0.86, "batch": 0.83},
                "tiny": {"single": 0.89, "batch": 0.88}}
E2E = [("setup_s", "s"), ("read_p50_ms", "ms"), ("reads_per_s", "1/s"),
       ("heap_live_mb", "MB")]


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def fixture(workload, size):
    """The workload's fixture directory, generated on first use and keyed
    by a fingerprint of its parameters and of the generator."""
    params = SIZES[size][workload][0]
    h = hashlib.sha256(json.dumps([workload, params], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    fp = h.hexdigest()[:16]
    out = os.path.join(WORK, "fixtures", f"{workload}-{fp}")
    if not os.path.exists(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        FIXTURES[workload](out, **params)
        open(os.path.join(out, ".complete"), "w").close()
    return out, fp


def operations(workload, size, seed, fx, out):
    """The run's seeded operation stream, written under `out`."""
    params = SIZES[size][workload][1]
    if workload == "interactive":
        gen.interactive_ops(out, seed, keys=20, **params)
    elif workload == "migrate":
        gen.migrate_ops(out, fx, seed, **params)
    else:
        gen.ann_ops(out, fx, seed, **params)


def digest_dir(path):
    """Content digest of a run's operation stream (the seeded inputs)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith((".parquet", ".json")):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # No hsperfdata files: the run leaves the system temp directory alone.
    cmd = ["java", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # Deployment settings only: heap, temp and home directories inside
    # the checkout (the engine keeps its bucketed layout copies under the
    # user home), no UI port.
    return cmd + ["-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp",
                  f"-Duser.home={WORK}/home", "-Dspark.ui.enabled=false",
                  "-cp", classpath, "perfbench.Main"]


def summarize(w, r):
    """End-to-end metrics and the workload's own (ungated) metrics."""
    reads = r["read_ms"]
    e2e = {"setup_s": statistics.median(r["setup_walls_s"]),
           "read_p50_ms": statistics.median(reads),
           "reads_per_s": (r.get("queries") or r["reads"]) / r["loop_s"],
           "heap_live_mb": r["heap_live_mb"]}
    own = {"reads": len(reads), "peak_rss_mb": r["peak_rss_mb"]}
    if w in ("migrate", "ann_serve") and r["write_ms"]:
        own["write_p50_ms"] = statistics.median(r["write_ms"])
        own["writes"] = len(r["write_ms"])
    if w == "migrate":
        own["load_rows_per_s"] = r["source_rows"] / e2e["setup_s"]
        own["write_amp"] = r["write_amp_bytes_added"] / max(
            r["write_amp_rows_asked"] * r["bytes_per_row"], 1.0)
    if w == "ann_serve":
        own["recall_at_10"] = r["recall"]
        own["recall_probe_single"] = r["recall_probe_single"]
        own["recall_probe_batch"] = r["recall_probe_batch"]
    return e2e, own


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=list(SIZES), default="full")
    ap.add_argument("--fixed-ops", type=int, default=0,
                    help="run exactly this many loop cycles (self-test)")
    a = ap.parse_args()
    # A terminated run still stops its JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = time.time()
    classpath = build.build()
    fx, fp = fixture(a.workload, a.size)
    # The run's deadline starts after the one-off build and fixture work.
    start = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(WORK, "home"), exist_ok=True)
    p = None
    try:
        ops = os.path.join(run_dir, "inputs")
        operations(a.workload, a.size, a.seed, fx, ops)
        out = os.path.join(run_dir, "result.json")
        # Prepared once per fixture and engine build: the fitted ANN model.
        model = os.path.join(fx, "model-" + os.path.basename(classpath.split(os.pathsep)[0]))
        cmd = java_cmd(classpath, run_dir) + [
            a.workload, fx, ops, run_dir, str(a.seconds), str(a.trace), str(a.seed),
            str(a.fixed_ops), out, model]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log)
            try:
                rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        with open(out) as f:
            r = json.load(f)

        checked = check.run(a.workload, fx, ops, run_dir, r)
        failed = r["failed"] + checked["failed"]
        attempted = r["attempted"]
        e2e, own = summarize(a.workload, r)
        own["failed_frac"] = failed / attempted
        correct = failed == 0 and not checked["errors"]
        if a.workload == "ann_serve":
            for path, floor in RECALL_FLOOR[a.size].items():
                got = own[f"recall_probe_{path}"]
                if got < floor:
                    correct = False
                    checked["errors"].append(f"recall_probe_{path} {got:.3f} < {floor}")
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "sizes": SIZES[a.size][a.workload], "fixture": fp,
                  "inputs_digest": digest_dir(ops), "workload_metrics": own,
                  "floor": r["floor"], "check": checked}
        for k in ("prepare_s", "warmup_s", "rounds_s", "cpus"):
            if k in r:
                record[k] = r[k]
        record["run_wall_s"] = time.time() - t0
        if a.trace:
            names = per_layer_names()
            layers = r["layers"]
            record["not_exercised"] = [n for n, _ in names if n not in layers]
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
            u = r["untraced"]
            untraced = {"read_p50_ms": statistics.median(u["read_ms"]),
                        "reads_per_s": (u.get("queries") or u["reads"]) / u["loop_s"]}
            record["tracing_overhead"] = {
                k: e2e[k] - v for k, v in untraced.items()}
            record["traced_end_to_end"] = e2e
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
