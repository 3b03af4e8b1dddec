#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For every workload it makes one short untraced run and one short traced
run, and checks that:

- every end-to-end and per-layer metric named in BENCHMARK.json is
  emitted, with the unit BENCHMARK.json gives it;
- every request matched its oracle, and the output carries the ``env``
  block;
- in the traced run, each request's span self times add up to its
  wall time.

Two last runs replace an expectation with a wrong one -- a registry
key's oracle digest on ``llm_ops``, the report's expected averages on
``fin_report`` -- and check that the benchmark reports the failure
(``oracle_ok_ratio`` below 1, failed requests of that key only,
``correct`` false). Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(final: dict, spec: list[dict], where: str) -> list[str]:
    errs = []
    if set(final) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: result keys {sorted(final)}")
    for m in spec:
        got = final["metrics"].get(m["name"])
        if got is None:
            errs.append(f"{where}: metric {m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errs.append(f"{where}: metric {m['name']} emitted as {got}")
    extra = set(final["metrics"]) - {m["name"] for m in spec}
    if extra:
        errs.append(f"{where}: unexpected metrics {sorted(extra)}")
    return errs


def check_spans(path: str, where: str) -> list[str]:
    errs = []
    with open(os.path.join(ROOT, path)) as fh:
        recs = [json.loads(line) for line in fh][1:]
    if not recs:
        errs.append(f"{where}: trace file has no requests")
    for r in recs:
        if abs(r["self_sum_s"] - r["root_s"]) > 1e-6:
            errs.append(f"{where}: {r['rid']} self times {r['self_sum_s']} != span {r['root_s']}")
        if abs(r["root_s"] - r["latency_s"]) > 0.05:
            errs.append(f"{where}: {r['rid']} root span {r['root_s']} vs latency {r['latency_s']}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs = []
    if sorted(w["name"] for w in bench["workloads"]) != sorted(workloads.WORKLOADS):
        errs.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for w in workloads.WORKLOADS:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            where = f"{w} trace={trace}"
            detail, final = run(w, trace)
            errs += check_metrics(final, spec, where)
            if not final["correct"] or final["failed"]:
                errs.append(f"{where}: failed requests {detail['failed_requests']}")
            for k in ("master", "default_parallelism", "nproc", "shuffle_partitions",
                      "git_sha", "git_dirty", "loadavg_1m", "cpu_steal_ratio", "seed",
                      "workload"):
                if k not in detail["env"]:
                    errs.append(f"{where}: env lacks {k}")
            if trace:
                errs += check_spans(detail["trace_file"], where)
            print(f"{where}: {final['attempted']} requests, {len(errs)} problems so far", flush=True)

    # A wrong expectation must fail the run: one registry digest, and the
    # report's expected averages.
    for workload, key in (("llm_ops", workloads.WORKLOADS["llm_ops"][0]),
                          ("fin_report", workloads.REPORT)):
        detail, final = run(workload, 0, "--corrupt-digest", key)
        ratio = final["metrics"]["oracle_ok_ratio"]["value"]
        bad = {r["key"] for r in detail["failed_requests"]}
        if not (final["failed"] > 0 and ratio < 1.0 and final["correct"] is False
                and bad == {key}):
            errs.append(f"wrong expectation for {key} not detected: {final}")
        print(f"corrupt expectation for {key}: oracle_ok_ratio {ratio}, "
              f"failed {final['failed']}", flush=True)

    for e in errs:
        print("FAIL", e)
    print("selftest", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
