#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at the tiny input size, untraced and traced, and
checks that:

- the last output line has exactly ``correct``, ``attempted``, ``failed``
  and ``metrics``, and names every end-to-end (untraced) or per-layer
  (traced) metric with its unit and a finite value;
- the correctness gate ran: operations were attempted and none failed;
- the traced run wrote a span file whose tree is well formed (every
  parent exists, every child fits inside its parent) and holds a span
  for each layer the per-layer metrics come from.

It also checks the span-tree and digest helpers on hand-made inputs.
Takes a few minutes (two Spark sessions per traced run). Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import digest_rows  # noqa: E402
from observe import check_span_tree  # noqa: E402
from run import END_TO_END, ROOT, per_layer_units  # noqa: E402

WORKLOADS = ("apply_hot", "trickle_serve")
TRACED_SPANS = {"session", "workload", "warmin", "apply", "merge", "read", "changes",
                "lookup", "mv_refresh"}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {msg}")


def helpers() -> None:
    ok = [{"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
          {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 2.0}]
    check(check_span_tree(ok) == [], "well-formed tree reported as bad")
    overrun = ok + [{"id": 2, "name": "c", "parent": 0, "start": 9.0, "end": 11.0}]
    check(len(check_span_tree(overrun)) == 1, "child overrunning its parent not caught")
    orphan = ok + [{"id": 2, "name": "c", "parent": 7, "start": 1.0, "end": 2.0}]
    check(len(check_span_tree(orphan)) == 1, "missing parent not caught")
    rows = [("r", "p1", "s1", 3), ("r", "p0", "s0", 1)]
    check(digest_rows(rows) == digest_rows(rows[::-1]), "digest depends on row order")
    check(digest_rows(rows) != digest_rows([("r", "p1", "s1", 4), rows[1]]),
          "digest ignores _last_offset")


def run_once(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    check(p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


def main() -> int:
    helpers()
    for workload in WORKLOADS:
        for trace in (0, 1):
            tag = f"{workload} trace={trace}"
            final, record = run_once(workload, trace)
            check(set(final) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys {sorted(final)}")
            want = per_layer_units() if trace else END_TO_END
            check(set(final["metrics"]) == set(want),
                  f"{tag}: metric names differ: {sorted(set(final['metrics']) ^ set(want))}")
            for name, m in final["metrics"].items():
                check(m["unit"] == want[name], f"{tag}: {name} unit {m['unit']}")
                check(isinstance(m["value"], float) and math.isfinite(m["value"]),
                      f"{tag}: {name} value {m['value']!r}")
            check(final["attempted"] >= 4 and final["failed"] == 0 and final["correct"],
                  f"{tag}: gate attempted={final['attempted']} failed={final['failed']} "
                  f"errors={record['errors']}")
            if trace:
                with open(os.path.join(ROOT, record["trace_file"])) as f:
                    spans = json.load(f)["spans"]
                problems = check_span_tree(spans)
                check(problems == [], f"{tag}: span tree: {problems[:5]}")
                missing = TRACED_SPANS - {s["name"] for s in spans}
                check(not missing, f"{tag}: no span named {sorted(missing)}")
            print(f"ok  {tag}: {len(final['metrics'])} metrics, "
                  f"{final['attempted']} operations checked", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
