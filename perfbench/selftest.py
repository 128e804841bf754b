"""Self-test of the benchmark on tiny (sf0.001-sized) inputs.

    python3 perfbench/selftest.py            # from the repository root

For every workload in BENCHMARK.json, runs the benchmark untraced and
traced at ``--scale tiny`` and asserts that the last stdout line is the
result object, that every end-to-end (untraced) or per-layer (traced)
metric is emitted with its unit, and that the outputs checked out. Also
asserts that two runs of one seed build the identical webtext training
set, and that the benchmark fails without printing a result in a
directory holding only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> tuple[int, str, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout, proc.stderr


def result_of(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    if len(lines) != 1:
        raise AssertionError(f"stdout must be one JSON line, got {len(lines)} lines")
    return json.loads(lines[0])


def detail_of(stderr: str) -> dict:
    return json.loads([ln for ln in stderr.splitlines() if ln.startswith('{"workload"')][-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    digests = {}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, out, err = run(w, 1, trace)
            if code != 0:
                raise AssertionError(f"{w} trace={trace} exited {code}:\n{err[-3000:]}")
            res = result_of(out)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                raise AssertionError(f"{w}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                raise AssertionError(f"{w} trace={trace}: metrics {got} != {wanted[trace]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise AssertionError(f"{w} trace={trace}: {res}")
            if w == "webtext_build":
                digests[trace] = detail_of(err)["kept_digest"]
            print(f"ok  {w} trace={trace}")
    if digests[0] != digests[1]:
        raise AssertionError(f"webtext_build: two runs of one seed kept different sets {digests}")
    print("ok  webtext_build kept set identical across runs of one seed")

    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out, _ = run(bench["workloads"][0]["name"], 1, 0, cwd=bare)
        if code == 0 or out.strip():
            raise AssertionError(f"bare directory: exit {code}, stdout {out!r}")
    print("ok  fails without a result outside a checkout")
    return 0


if __name__ == "__main__":
    sys.exit(main())
