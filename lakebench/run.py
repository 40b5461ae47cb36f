"""lakebench: the lakeforge benchmark.

    python3 lakebench/run.py --workload relational_floor --seed 1 --seconds 30 --trace 0
    python3 lakebench/run.py --workload medallion_cdc --steady 5

Each run starts one fresh child process (``lakebench/child.py``) with its
own SparkSession at ``local[nproc]`` and a scratch directory inside the
checkout, which is removed afterwards.  The run prints every metric with
its unit, the core count and the Spark master, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` records spans, job
groups and an event log and reports its per-layer metrics, including the
tracing overhead.  ``--steady N`` repeats the workload over N seeds from
``--seed`` on and prints each end-to-end metric's median and quartiles.

The measured region is a fixed amount of work, sized to about ``--seconds``
on a 4-core host; ``--seconds`` never cuts or extends it.  The seed makes
the inputs: medallion_cdc's bronze batches, and which share of
relational_floor's queries the oracle check covers.

Exit status: 0 when every operation succeeded and every check passed; 1 on
a failed operation or a wrong output, also when the child died before its
result (the JSON line then reads ``correct: false`` and null metrics); 2,
with no result line, when the checkout lacks lakeforge or the test data.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

SPEC = json.loads((HERE / "spec.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = tuple(SPEC["workloads"])
CHILD_TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


# Both workloads read the sf0.1 tables; the variable and default are bench.py's.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _child(workload: str, seed: int, trace: int) -> dict:
    """Run one child to completion in its own session and scratch directory;
    whatever the child leaves running is killed, also when it fails or
    overruns, and the scratch directory is removed in every case."""
    scratch_root = ROOT / ".lakebench_scratch"
    scratch_root.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=scratch_root))
    try:
        for d in ("local", "warehouse", "derby", "tmp"):
            (scratch / d).mkdir()
        if workload == "medallion_cdc":
            import bronze  # input generation: outside setup_s

            bronze.write(SF_DIR, str(scratch / "bronze"), seed)
        cores = _cores()
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
            "TMPDIR": str(scratch / "tmp"),
            "SPARK_LOCAL_DIRS": str(scratch / "local"),
            "SPARK_GRAFT_CPUS": str(cores),
            # lakeforge's default 8g lets G1 grow the heap to anywhere from
            # 3.3 to 5.5 GB in one run; a 2g heap keeps peak RSS within a few
            # percent across runs, and within a shared host's memory.
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONHASHSEED": "0",
        })
        out = scratch / "result.json"
        cmd = [
            sys.executable, str(HERE / "child.py"), "--workload", workload,
            "--seed", str(seed), "--trace", str(trace), "--scratch", str(scratch),
            "--sf-dir", SF_DIR, "--out", str(out), "--cores", str(cores),
            "--t0", repr(time.monotonic()),
        ]
        log = open(scratch / "child.log", "w")
        proc = subprocess.Popen(
            cmd, cwd=scratch, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _kill_session(proc)
            log.close()
        if not out.exists():
            tail = (scratch / "child.log").read_text()[-3000:]
            return {"fatal": f"child exited {proc.returncode} without a result\n{tail}"}
        res = json.loads(out.read_text())
        if proc.returncode and "fatal" not in res:
            res["fatal"] = f"child exited {proc.returncode}"
        if res.get("spans"):
            # Spans stay in memory during the run and are written once here.
            trace_dir = ROOT / ".lakebench_trace"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{workload}-seed{seed}.json").write_text(json.dumps(res.pop("spans")))
        return res
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch_root.rmdir()
        except OSError:
            pass


def _kill_session(proc: subprocess.Popen) -> None:
    """Kill everything left in the child's session and wait for it to go.

    The child leads its own session, so the JVM, the pyspark daemon (which
    moves itself into a process group of its own) and its Python workers
    all carry its session id.  An orphan left running would skew the next
    run."""
    for _ in range(200):
        left = _session_pids(proc.pid)  # the child itself, while it lives
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()
        if not left:
            return
        time.sleep(0.05)


def _session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        st = stats._stat(int(d)) if d.isdigit() else None
        if st and int(st[3]) == sid and st[0] != "Z":
            out.append(int(d))
    return out


def _e2e(res: dict) -> dict[str, float]:
    return {"setup_s": res["setup_s"], **res["e2e"]}


def _line(metrics: dict[str, tuple[float | None, str]], res: dict) -> dict:
    """The final JSON line.  A run that died before its result (set-up
    failed, the child crashed or overran) counts as one failed operation
    more, and its metrics read null."""
    fatal = "fatal" in res
    failed = res.get("failed", 0) + fatal
    return {
        "correct": failed == 0,
        "attempted": max(1, res.get("attempted", 0) + fatal),
        "failed": failed,
        "metrics": {
            k: {"value": v if v is not None and math.isfinite(v) else None, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }


def _report(workload: str, seed: int, res: dict) -> None:
    print(f"lakebench workload={workload} seed={seed} cores={_cores()} master={res.get('master')}")
    for e in res.get("errors", []):
        print(f"  FAILED: {e}")
    if "fatal" in res:
        print(res["fatal"], file=sys.stderr)


def run_once(workload: str, seed: int, trace: int) -> int:
    res = _child(workload, seed, trace)
    _report(workload, seed, res)
    kind = "per_layer" if trace else "end_to_end"
    units = {e["name"]: e["unit"] for e in BENCH[kind]}
    if "fatal" in res:
        metrics = {k: (None, u) for k, u in units.items()}
    else:
        layers = res["layers"] if trace else _e2e(res)
        metrics = {k: (layers[k], u) for k, u in units.items()}
    for k, (v, u) in metrics.items():
        print(f"  {k:44s} {v if v is not None else math.nan:12.4f} {u}")
    line = _line(metrics, res)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def steady(workload: str, n: int, first_seed: int) -> int:
    """Repeat the workload over ``n`` seeds and print each end-to-end
    metric's median, quartiles and quartile spread as a share of the median."""
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in range(first_seed, first_seed + n):
        res = _child(workload, seed, 0)
        if "fatal" in res or res.get("failed"):
            bad += 1
            print(f"seed {seed}: FAILED {res.get('errors') or res.get('fatal', '')[-500:]}")
            continue
        e = _e2e(res)
        print(f"seed {seed}: " + " ".join(f"{k}={v:.4f}" for k, v in e.items()), flush=True)
        for k, v in e.items():
            values.setdefault(k, []).append(v)
    summary = {
        k: {**{q: round(x, 4) for q, x in stats.quartiles(v).items()}, "values": [round(x, 4) for x in v]}
        for k, v in values.items() if len(v) >= 2
    }
    print(json.dumps({"workload": workload, "cores": _cores(), "runs": n, "failed_runs": bad, "metrics": summary}))
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=30,
                   help="the run length the pass is sized to; it does not change the work")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="N")
    a = p.parse_args()
    # A terminated run still kills its child's session and removes its
    # scratch directory: SystemExit unwinds through _child's finally blocks.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not (ROOT / "lakeforge").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"lakebench: no lakeforge checkout at {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(SF_DIR):
        print(f"lakebench: test data {SF_DIR} not found", file=sys.stderr)
        return 2
    if a.steady:
        return steady(a.workload, a.steady, a.seed)
    return run_once(a.workload, a.seed, a.trace)


if __name__ == "__main__":
    sys.exit(main())
