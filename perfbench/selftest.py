"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks, without touching the timed configuration:

- the tail-percentile rule, the SQL-metric parser and the generator
  (same seed -> same tables; nanosecond event times and millisecond
  dates; the ingest layout holds the same rows);
- that a ``--trace 0`` run prints, as its last line, exactly
  ``correct/attempted/failed/metrics`` with every end-to-end metric of
  BENCHMARK.json (names and units), and a ``--trace 1`` run every
  per-layer metric (on ``ingest``, where ``scan_spread`` must not
  widen);
- that the command exits non-zero, printing no result, in a directory
  that holds only BENCHMARK.json and the benchmark's own files.
Exit status 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SF = "0.001"


def check_units() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen import build_tables, write_base, write_ingest_layout
    from run import tail
    from tracing import _parse_metric

    assert tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(1, 20)]) == (19.0, 100.0)
    assert _parse_metric("4,000") == 4000.0
    assert _parse_metric("882 ms") == 0.882
    assert _parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048.0
    a, b = build_tables(0.001), build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a), "generator is not deterministic"
    assert a["events"].schema.field("ts").type == pa.timestamp("ns")  # catalog's nanos path
    assert a["orders"].schema.field("o_orderdate").type == pa.timestamp("ms")
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as tmp:
        write_base(os.path.join(tmp, "base"), 0.001)
        write_ingest_layout(os.path.join(tmp, "base"), os.path.join(tmp, "ingest"), seed=3)
        for t in ("lineitem", "events", "documents"):
            base = pq.read_table(os.path.join(tmp, "base", f"{t}.parquet"))
            parts = pq.read_table(os.path.join(tmp, "ingest", f"{t}.parquet"))
            order = [(c, "ascending") for c in base.column_names]
            assert parts.schema.equals(base.schema, check_metadata=False), t
            assert parts.sort_by(order).equals(base.sort_by(order)), t
            files = os.listdir(os.path.join(tmp, "ingest", f"{t}.parquet"))
            assert len(files) == 8, files


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace), "--sf", SF]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_output(proc: subprocess.CompletedProcess, specs: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], sorted(res)
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in specs}
    got = {n: v["unit"] for n, v in res["metrics"].items()}
    assert got == want, (sorted(set(got) ^ set(want)), got)
    for name, v in res["metrics"].items():
        assert sorted(v) == ["unit", "value"] and math.isfinite(v["value"]), (name, v)
    return res["metrics"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    check_units()
    print("units ok", flush=True)

    e2e = check_output(run_bench("analytics", 0), bench["end_to_end"])
    assert all(e2e[m["name"]]["value"] > 0 for m in bench["end_to_end"]), e2e
    print("end-to-end output ok", flush=True)

    layers = check_output(run_bench("ingest", 1), bench["per_layer"])
    assert layers["scanwidth.widen_ratio"]["value"] == 0.0, layers["scanwidth.widen_ratio"]
    assert layers["convert.convert_s"]["value"] > 0, layers["convert.convert_s"]
    assert layers["streaming.batches"]["value"] > 0, layers["streaming.batches"]
    print("per-layer output ok", flush=True)

    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench("analytics", 0, cwd=bare)
        assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
    print("bare directory exits non-zero", flush=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
