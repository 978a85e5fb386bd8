#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

  smoke             every workload, short, with --trace 0 and 1: the result
                    line carries every metric of BENCHMARK.json with its
                    unit, the run is correct, and in a traced run the spans
                    (queries of a pass, micro-batches of the open phase)
                    cover at least 95% of the timed window
  negative control  a damaged expected result and a query that throws (an
                    unknown id added to every pass): both count as failed,
                    and the pass still runs the other queries; a damaged
                    replay oracle fails the stream
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SECONDS = "2"


def run(workload, trace, *extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", SECONDS, "--trace", str(trace), *extra],
                       capture_output=True, text=True)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


def check_metrics(res, expected, label):
    got = res["metrics"]
    assert set(got) == {m["name"] for m in expected}, f"{label}: metric names differ"
    for m in expected:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{label}: {m['name']} not a number"


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} trace={trace}"
            res, _ = run(w["name"], trace)
            check_metrics(res, spec[key], label)
            assert res["correct"] and res["failed"] == 0, f"{label}: {res}"
            if trace:
                cov = res["metrics"]["trace.span_coverage"]["value"]
                assert cov >= 0.95, f"{label}: spans cover {cov:.3f} of the passes"
            print(f"ok  smoke {label}", flush=True)

    queries = gen.WORKLOADS["curate"]
    res, err = run("curate", 0, "--corrupt-expected", "--extra-query", "q999_missing")
    passes = res["attempted"] // (len(queries) + 1)
    assert res["attempted"] == passes * (len(queries) + 1), res
    assert res["failed"] == 2 * passes and not res["correct"], res
    assert "FAIL q999_missing (pass)" in err, err[-2000:]
    assert f"FAIL {sorted(queries)[0]}: rows" in err, err[-2000:]
    print(f"ok  negative control: {res['failed']} of {res['attempted']} failed", flush=True)

    res, err = run("stream", 0, "--corrupt-expected")
    assert res["failed"] >= 1 and not res["correct"], res
    assert "FAIL stream:" in err, err[-2000:]
    print(f"ok  stream negative control: {res['failed']} rows differ", flush=True)


if __name__ == "__main__":
    main()
