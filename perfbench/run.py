#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload curate|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness into
`.bench_build` (or $CARGO_TARGET_DIR), generates the seed's inputs, runs
the workload in its own JVM, checks every result against the DuckDB
oracle (each query's for the batch workloads; for the stream, that of its
batch replay, q248) and prints one JSON result line: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

RUN_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def start_jvm(build_dir, run_dir, name, args):
    """Start the harness in a fresh JVM writing to `run_dir/name`."""
    out = os.path.join(run_dir, name)
    tmp = os.path.join(run_dir, "tmp-" + name)
    os.makedirs(out)
    os.makedirs(tmp)
    cmd = build.java(build_dir, ["--out", out] + args)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    logf = open(os.path.join(run_dir, name + ".log"), "w")
    return subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT), out, logf


def finish_jvm(proc, out, logf, deadline):
    """Wait for a harness JVM (killing it at `deadline`); return its
    result.json."""
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        proc.kill()
        proc.wait()
        code = "timeout"
    finally:
        logf.close()
    res_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(logf.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM {os.path.basename(out)} failed ({code})")
    with open(res_path) as f:
        return json.load(f)


def batch_metrics(res, queries_bad):
    """End-to-end metrics and counts of a batch run. Each query's time is
    its median over the timed passes; `wall_s` is their sum. The closed-loop
    client's request is a pass over the query mix, so the latency
    percentiles are over the timed passes' wall times (a single query's
    median would swing with that of the mix's small middle query). A query
    whose verification result disagreed with the oracle fails every one of
    its executions."""
    per_query, attempted, failed = {}, 0, 0
    for p in res["passes"]:
        for q in p["queries"]:
            attempted += 1
            if q["err"] or queries_bad.get(q["q"]):
                failed += 1
            else:
                per_query.setdefault(q["q"], []).append(q["ms"] / 1000.0)
    wall = sum(statistics.median(v) for v in per_query.values())
    passes = sorted(p["wall_s"] for p in res["passes"])
    return {
        "wall_s": wall,
        "cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
        "latency_p50_s": quantile(passes, 0.5),
        "latency_p99_s": quantile(passes, 0.99),
        "throughput_per_s": len(per_query) / wall if wall else 0.0,
    }, attempted, failed


def quantile(xs, q):
    """Linear-interpolation quantile of sorted `xs` (as the harness's)."""
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def layer_metrics(res, names, workload_queries):
    """Every per-layer metric of BENCHMARK.json. A metric of another
    workload's layer (the stream's on a batch run, a query outside the
    workload, per-query spans on the stream) reads 0."""
    m = {}
    for n in names:
        if n in res:
            m[n] = float(res[n])
        elif (n.startswith("streaming.") or n.startswith("operators.")
              or n in ("driver.construct_ms", "cacheguard.release_ms",
                       "cacheguard.pending_after_release")):
            short = {q.split("_")[0] for q in workload_queries}
            if n.startswith("operators.") and n.split(".")[1] in short:
                raise SystemExit(f"harness did not report {n}")
            m[n] = 0.0
        else:
            raise SystemExit(f"harness did not report {n}")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: damage one expected result (negative control)")
    ap.add_argument("--extra-query", default=None,
                    help="self-test: add a query id to every pass")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        raise SystemExit("run from the repository root (no BENCHMARK.json here)")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    build.build(build_dir)

    t0 = time.time()
    data_root = gen.generate(a.seed, os.path.join(build_dir, "data", f"seed-{a.seed}-{gen.VERSION}"))
    log(f"inputs ready in {time.time() - t0:.1f} s")
    extra = [a.extra_query] if a.extra_query else []
    queries = gen.WORKLOADS[a.workload]
    data = warm = os.path.join(data_root, "tables")
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    common = ["--data", data, "--warm", warm, "--seconds", str(a.seconds),
              "--trace", str(a.trace)]
    try:
        if queries:
            passes = max(1, int(a.seconds // gen.PASS_S[a.workload]))
            main_args = ["--mode", "batch", "--queries", ",".join(queries + extra),
                         "--passes", str(passes),
                         "--warm-passes", str(gen.WARM_PASSES),
                         "--probe", ",".join(gen.INGEST_PROBE)]
        else:
            main_args = ["--mode", "stream", "--arrivals", os.path.join(data_root, "arrivals.txt")]
        steal0, total0 = cpu_ticks()
        res = finish_jvm(*start_jvm(build_dir, run_dir, "main", main_args + common),
                         time.time() + RUN_TIMEOUT_S)
        steal1, total1 = cpu_ticks()
        out = os.path.join(run_dir, "main")
        log(f"workload JVM done in {time.time() - t0:.1f} s; CPU steal "
            f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")

        import oracle
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sqls = json.load(f)
        if a.corrupt_expected:
            # negative control: an oracle that expects one extra row
            q0 = sorted(sqls)[0]
            sqls[q0] = f"SELECT * FROM ({sqls[q0]}) UNION ALL (SELECT * FROM ({sqls[q0]}) LIMIT 1)"
        con = oracle.connect(data, os.path.join(run_dir, "duckdb_tmp"))
        cache = os.path.join(build_dir, "oracle", f"seed-{a.seed}-{gen.VERSION}")
        if queries:
            bad = oracle.check(con, os.path.join(out, "results"), sqls, queries + extra, cache)
            for q, why in sorted(bad.items()):
                if why:
                    log(f"FAIL {q}: {why}")
            for p in res["passes"]:
                for q in p["queries"]:
                    if q["err"]:
                        log(f"FAIL {q['q']} (pass): {q['err']}")
            e2e, attempted, failed = batch_metrics(res, bad)
        else:
            e2e = {k: res[k] for k in ("wall_s", "cpu_s", "latency_p50_s",
                                       "latency_p99_s", "throughput_per_s")}
            (q, sql), = sqls.items()
            attempted = res["attempted"]
            failed = oracle.row_diff(con, os.path.join(out, "stream", "curated", "*.parquet"), sql, cache)
            if failed:
                log(f"FAIL stream: {failed} curated rows differ from the replay ({q})")
        con.close()
        log(f"oracle check done in {time.time() - t0:.1f} s")
        e2e["setup_s"] = res["setup_s"]
        e2e["peak_rss_mb"] = res["peak_rss_mb"]

        if a.trace:
            probed = gen.INGEST_PROBE if queries else []
            values = layer_metrics(res, [m["name"] for m in spec["per_layer"]], queries + probed)
            # the probe queries are executions too (not checked against
            # the oracle: they run only in traced runs)
            attempted += len(probed)
            failed += len(res.get("probe_errors", {}))
            for q, why in sorted(res.get("probe_errors", {}).items()):
                log(f"FAIL {q} (probe): {why}")
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
        with open(os.path.join(build_dir, f"last-{a.workload}-{a.trace}.json"), "w") as f:
            json.dump({"seed": a.seed, "e2e": e2e, "harness": res}, f)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if os.path.exists(os.path.join(run_dir, "main.log")):
            shutil.copy(os.path.join(run_dir, "main.log"),
                        os.path.join(build_dir, f"last-{a.workload}-{a.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
