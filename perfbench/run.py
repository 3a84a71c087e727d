"""The voting-analytics benchmark.  One command per workload run:

    python3 perfbench/run.py --workload vote_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It times calls into the repository's
public functions from outside, checks the outputs, and prints one JSON
result as its last line:
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``.
With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` the per-layer ones, and the spans go
to ``.bench_work/traces/``.  Workloads, metrics and sizing are described
in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import REPO, Run, result_line  # noqa: E402



def main(argv=None) -> int:
    for need in ("__spark_entry__.py", "de_realtime_voting_spark/__init__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a full checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    sys.path.insert(0, REPO)

    mod = __import__(f"wl_{a.workload}")
    with Run(a.workload, a.seed, a.seconds, bool(a.trace)) as r:
        correct, attempted, failed, e2e = mod.run(r)
        r.layer["jvm.gc_ms"] = r.gc_ms()
        r.layer["jvm.peak_rss_mb"] = r.peak_rss_mb()
        r.layer["failed_frac"] = failed / attempted if attempted else 1.0
        cfg = r.config()
        if a.trace:
            r.layer.update({f"traced.{k}": v for k, (v, _u) in e2e.items()})
            for layer, ms in r.self_times().items():
                r.layer[f"{layer}.self_ms"] = ms
            trace_path = r.write_trace({"config": cfg, "metrics": r.layer})
            print(f"trace: {trace_path}")
    print(f"config: {json.dumps(cfg, sort_keys=True)}")
    if a.trace:
        metrics = {m["name"]: (r.layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (e2e[m["name"]][0], m["unit"]) for m in spec["end_to_end"]}
    print(result_line(correct and failed == 0, max(attempted, 1), failed, metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
