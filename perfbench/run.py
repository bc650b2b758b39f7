"""Benchmark of the KG-construction engine: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout. Steps:

1. ``query_mix`` only: counts the expected rows of every query in a
   separate process without Spark (``inputs.py``, cached under
   ``.perfbench_cache/``) and waits until that process has ended;
2. starts the timed process (``worker.py``): a fresh ``local[4]`` Spark
   session with 4 shuffle partitions and a 3g driver heap, one driver, one
   client, closed loop. ``kg_build`` makes its inputs from ``--seed`` in
   that session before its timer starts. The PSS of that process tree
   (driver, JVM and Python workers) is sampled from outside while it runs;
3. prints the run conditions, every metric by name with its unit, and as
   the last line one JSON object:
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones (Spark UI on,
spans around the program's layer calls). The exit code is 0 only when every
operation ran and every output check passed. Workloads: ``kg_build`` and
``query_mix``; see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from inputs import QUERY_DATA, source_hash

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
WORKLOADS = ("kg_build", "query_mix")
PROGRAM = ("llm_information_extraction_spark", "__spark_entry__.py", "bench.py")
#: the whole run
RUN_TIMEOUT_S = 170


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


# -- processes ---------------------------------------------------------------------
def _procs():
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            yield p


def _stat(p: Path) -> list[str] | None:
    try:
        raw = (p / "stat").read_text()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields after "(comm)"


def tree(root: int) -> dict[int, str]:
    """The live descendants of ``root`` and ``root`` itself, as pid -> start
    time (the start time tells a process from a later one with its pid).
    Spark's Python daemons start their own process groups, so the tree is
    followed by parent pid."""
    stats = {int(p.name): st for p in _procs() if (st := _stat(p))}
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][19]
        todo.extend(kids.get(pid, []))
    return out


def alive(procs: dict[int, str]) -> list[int]:
    return [pid for pid, start in procs.items()
            if (st := _stat(Path(f"/proc/{pid}"))) and st[19] == start
            and st[0] != "Z"]


def pss_kb(pid: int) -> int:
    """A process's proportional set size: its private pages plus its share
    of the pages it shares (a forked Python worker shares its daemon's)."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def other_jvms() -> int:
    """Java processes already running (they would contend for the cores)."""
    n = 0
    for p in _procs():
        try:
            exe = (p / "cmdline").read_bytes().split(b"\0")[0]
        except OSError:
            continue
        n += exe.endswith(b"/java") or exe == b"java"
    return n


def stop_all(procs: dict[int, str], grace_s: float = 10.0) -> None:
    """Wait until every process of the run has ended: each gets ``grace_s``
    to exit by itself, then SIGTERM, then SIGKILL."""
    t0 = time.time()
    while left := alive(procs):
        waited = time.time() - t0
        if waited > grace_s:
            sig = signal.SIGTERM if waited < 2 * grace_s else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def run_tree(cmd: list[str], env: dict, deadline: float, **kw) -> tuple[int, int]:
    """Run ``cmd`` and wait until every process of its tree has ended.
    Returns its exit code (-1 if it passed ``deadline``) and the largest
    total PSS of its live tree (driver, JVM, Python workers) in bytes,
    sampled every 0.2 s from outside."""
    env = dict(env, PERFBENCH_T_SPAWN=repr(time.time()))
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, **kw)
    seen: dict[int, str] = {}
    peak = 0
    try:
        while proc.poll() is None:
            live = tree(proc.pid)
            seen.update(live)
            peak = max(peak, sum(pss_kb(pid) for pid in live))
            if time.time() > deadline:
                proc.kill()
                proc.wait()
                return -1, 0
            time.sleep(0.2)
    finally:
        stop_all(seen)
    return proc.returncode, peak * 1024


# -- metrics --------------------------------------------------------------------------
def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def report(workload: str, res: dict, e2e: dict, conditions: dict) -> None:
    """Human-readable lines before the JSON result."""
    print("run conditions: " + json.dumps(conditions, sort_keys=True))
    for k, (v, u) in e2e.items():
        print(f"metric {k} = {v:.6g} {u}")
    extra = {
        "error_rate": (res["failed"] / res["attempted"], "ratio"),
        "op_p50_s": (statistics.median(res["ops"].values()), "s"),
        "op_samples": (len(res["ops"]), "count"),
    }
    if "docs" in res:
        extra["docs_per_s"] = (res["docs"] / res["wall_s"], "1/s")
        extra["input_docs"] = (res["docs"], "count")
    if "dedup_recall" in res:
        for k in ("dedup_recall", "dedup_false_drop_rate"):
            extra[k] = (res[k], "ratio")
    if "batches" in res:
        extra["stream_wall_s"] = (res["stream_s"], "s")
        extra["batch_p50_s"] = (statistics.median(res["batches"]), "s")
        extra["batch_samples"] = (len(res["batches"]), "count")
        for k in ("stream_dedup_recall", "stream_dedup_false_drop_rate"):
            extra[k] = (res[k], "ratio")
    for k, (v, u) in extra.items():
        print(f"metric {k} = {v:.6g} {u}")
    if workload == "query_mix":
        print(f"note: query_mix reads the fixed contract tables in "
              f"perfbench/data/{QUERY_DATA['full'].name} (seed 42); --seed "
              "does not change them")
    print("operations (s): " + json.dumps(
        {k: round(v, 3) for k, v in res["ops"].items()}))
    if res["failed"]:
        print(f"FAILED output checks: {json.dumps(res['checks'], default=str)}")


def tracing_overhead(a, wall_s: float) -> None:
    """Keep each untraced full-size wall_s in the checkout; a traced run
    prints its wall_s minus their median."""
    if a.fast or a.corrupt:
        return
    # only runs of the same program and benchmark files are compared
    history = CACHE / "history" / f"{a.workload}-{source_hash()}.txt"
    if not a.trace:
        history.parent.mkdir(exist_ok=True)
        with history.open("a") as f:
            f.write(f"{wall_s!r}\n")
    elif history.exists():
        walls = [float(x) for x in history.read_text().split()]
        print(f"metric tracing_overhead_s = {wall_s - statistics.median(walls):.6g} s"
              f" (traced wall_s minus the median of {len(walls)} untraced runs)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="expected measuring time; a run always measures "
                    "one whole pass (about 20-35 s on 4 cores)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fast", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the output before checking it (self-test)")
    a = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not (ROOT / p).exists()]
    if missing:
        return fail(f"program files missing from {ROOT}: {', '.join(missing)}")
    deadline = time.time() + RUN_TIMEOUT_S

    for d in ("tmp", "spark-local", "work", "spans"):
        (CACHE / d).mkdir(parents=True, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=str(CACHE / "spark-local"),
        TMPDIR=str(CACHE / "tmp"),
        # every JVM the run starts keeps its temp files in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={CACHE / 'tmp'}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    inputs = []
    if a.workload == "query_mix":
        # the expected counts: made (or found in the cache) by a process of
        # their own
        made = CACHE / "work" / f"inputs-{os.getpid()}.json"
        code, _ = run_tree(
            [sys.executable, str(HERE / "inputs.py"),
             "--out", str(CACHE / "inputs"), "--result", str(made)]
            + (["--fast"] if a.fast else []),
            env, deadline, stdout=sys.stderr,
        )
        if code != 0 or not made.exists():
            return fail(f"input generation exited with code {code}")
        inputs = ["--inputs", json.loads(made.read_text())["inputs"]]
        made.unlink()
    jvms = other_jvms()
    if jvms:
        print(f"perfbench: WARNING {jvms} other JVM(s) running; timings "
              "are contended", file=sys.stderr)

    work = CACHE / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", a.workload,
           "--work", str(work), "--seed", str(a.seed),
           "--trace", str(a.trace), "--out", str(out),
           "--spans", str(CACHE / "spans" / f"{a.workload}-{a.seed}.json"),
           *inputs]
    cmd += [f for f, on in (("--fast", a.fast), ("--corrupt", a.corrupt)) if on]
    try:
        code, peak = run_tree(cmd, env, deadline)
        if code != 0 or not out.exists():
            return fail(f"timed process exited with code {code}", 1)
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    conditions = dict(
        res["conditions"],
        SPARK_LOCAL_DIRS=".perfbench_cache/spark-local",
        python=platform.python_version(), nproc=os.cpu_count(),
        other_jvms=jvms, workload=a.workload, seed=a.seed, trace=a.trace,
        clients=1, loop="closed",
    )
    e2e = {
        "cpu_s": (res["cpu_s"], "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),  # printed, not gated: see README
    }
    report(a.workload, res, e2e, conditions)
    tracing_overhead(a, res["wall_s"])
    units = declared("per_layer" if a.trace else "end_to_end")
    values = res["layers"] if a.trace else {k: v for k, (v, _) in e2e.items()}
    if set(units) - set(values):
        return fail("metrics of BENCHMARK.json not measured: "
                    f"{sorted(set(units) - set(values))}", 1)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
