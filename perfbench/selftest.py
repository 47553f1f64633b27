"""Self-test of the benchmark.

    python3 perfbench/selftest.py            # reader + every workload, tiny
    python3 perfbench/selftest.py --reader   # event-log reader only

1. The event-log reader gives the known counts on the canned log in
   ``testdata/eventlog`` (two applications, one of them rolled over two
   files, a job submitted from a pool thread with no job group, and one
   job outside every phase).
2. Each workload, at the tiny size (one op on sf0.001 inputs), prints
   every end-to-end metric untraced and every per-layer metric traced,
   each with its unit, with correct outputs and no failed op.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import eventlog  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

MiB = 2**20


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def test_reader() -> None:
    log = eventlog.read(os.path.join(HERE, "testdata", "eventlog"))
    assert sorted(log.jobs) == [0, 1, 2, 3, 5], sorted(log.jobs)
    assert len(log.tasks) == 9, len(log.tasks)
    windows = [(("op", "build"), 0.9, 1.5), (("op", "exec"), 1.6, 2.5),
               (("op2", "exec"), 2.9, 3.2)]
    jobs, orphans = eventlog.attribute(log, windows)
    assert [j.job_id for j in jobs[("op", "build")]] == [0, 1]
    assert [j.job_id for j in jobs[("op", "exec")]] == [2]
    assert [j.job_id for j in jobs[("op2", "exec")]] == [5]
    assert [j.job_id for j in orphans] == [3]

    build = eventlog.summarize(log, jobs[("op", "build")], 0.9, 1.5)
    expected = {
        "jobs": 2, "stages": 3, "tasks": 4, "driver_s": 0.24,
        "task_s": 0.415, "cpu_s": 0.2, "gc_s": 0.02, "input_mb": 2.0,
        "shuffle_write_mb": 2.0, "shuffle_read_mb": 2.0, "spill_mb": 1.0,
        "result_mb": 2.0 + 2048 / MiB, "skew_max": 1.5,
        "python_sent_mb": 3.0, "python_returned_mb": 1.0,
        "python_run_s": 0.25, "python_init_s": 0.04,
    }
    for key, want in expected.items():
        assert close(build[key], want), (key, build[key], want)
    exec_ = eventlog.summarize(log, jobs[("op", "exec")], 1.6, 2.5)
    assert (exec_["jobs"], exec_["tasks"]) == (1, 3), exec_
    assert close(exec_["skew_max"], 4.0) and close(exec_["task_s"], 0.6), exec_
    print("reader: ok")


def test_workload(name: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                         text=True, timeout=600, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    want = PER_LAYER if trace else END_TO_END
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (name, trace, sorted(set(got) ^ set(want)))
    assert result["correct"] and result["failed"] == 0, (name, trace, result)
    print(f"{name} trace={trace}: ok, "
          + ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                      for k, v in result["metrics"].items()))


def main() -> int:
    test_reader()
    if "--reader" not in sys.argv:
        for name in WORKLOADS:
            for trace in (0, 1):
                test_workload(name, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
