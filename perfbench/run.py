"""Benchmark command for the quality DAG and the query registry.

    python3 perfbench/run.py --workload crawl_resume_skewed --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. It builds the seeded inputs and their
oracles (cached per seed under ``.perfbench/fixtures``), then measures the
workload in a fresh process at ``local[$(nproc)]`` and prints, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, every per-layer metric with ``--trace 1`` (a traced run
sweeps the layers of both workloads' paths, its own first).

Every process the run starts is stopped before it exits. This process
adopts orphaned descendants (it is a child subreaper), and after each
child exits it kills and reaps whatever the child left behind; a run that
left a process behind is reported as failed.

``--smoke`` runs the same code on tiny inputs; ``test_smoke.py`` uses it.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl_resume_skewed", "registry_small")
PR_SET_CHILD_SUBREAPER = 36
RUN_LIMIT_S = 175          # a run must end within 180 s
SETUP_ALLOWANCE_S = 120    # JVM start, training or import, warm-up passes
SWEEP_ALLOWANCE_S = 100    # the traced sweep, beyond --seconds
FIXTURE_TIMEOUT_S = 700
LEFTOVER_GRACE_S = 5.0


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024}


def heap_size(mem_total_mb: int) -> str:
    """A quarter of RAM, between 1 and 4 GiB: the session default (16g) is
    more than a small host has."""
    return f"{max(1, min(4, mem_total_mb // 4 // 1024))}g"


def _proc_stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, session id, state) of ``pid``, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), int(fields[3]), fields[0]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def leftovers(session: int) -> list[int]:
    """Live processes in the child's session or adopted by this one."""
    me = os.getpid()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        st = _proc_stat(int(name))
        if st and st[2] != "Z" and (st[1] == session or st[0] == me):
            found.append(int(name))
    return found


def run_child(cmd: list[str], env: dict, timeout: float) -> tuple[int, list]:
    """Run ``cmd`` in its own session; returns its exit code and the
    processes it left alive (killed and reaped before returning)."""
    child = subprocess.Popen(cmd, env=env, start_new_session=True,
                             stdout=sys.stderr)

    def on_signal(signum, _frame):
        # killed from outside: take the child's whole session down with us
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise SystemExit(128 + signum)

    handlers = {s: signal.signal(s, on_signal)
                for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        code = child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout:.0f}s: {cmd[1]}")
        os.killpg(child.pid, signal.SIGKILL)
        code = child.wait()
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    deadline = time.monotonic() + LEFTOVER_GRACE_S
    left = leftovers(child.pid)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        _reap()
        left = leftovers(child.pid)
    named = [f"{pid} {_cmdline(pid)}" for pid in left]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + LEFTOVER_GRACE_S
    while leftovers(child.pid) and time.monotonic() < deadline:
        time.sleep(0.05)
        _reap()
    _reap()
    return code, named


def child_env(hw: dict) -> dict:
    env = dict(os.environ)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_GRAFT_CPUS": str(hw["nproc"]),
        "SPARK_DRIVER_MEM": heap_size(hw["mem_total_mb"]),
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dataquality_spark")):
        log(f"no dataquality_spark package under {ROOT}: run from a "
            f"checkout of the repository")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}

    started = time.time()
    libc = ctypes.CDLL("libc.so.6", use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    hw = host()
    env = child_env(hw)
    py = sys.executable
    sys.path.insert(0, HERE)
    from fixtures import fixture_dir

    # a traced run sweeps the layers of both workloads' paths, so it needs
    # both fixtures of the seed
    fixtures = {}
    for w in ([a.workload] + [w for w in WORKLOADS if w != a.workload]
              if a.trace else [a.workload]):
        fx = fixtures[w] = fixture_dir(WORK, w, a.seed, a.smoke)
        t = time.time()
        code, left = run_child(
            [py, os.path.join(HERE, "fixtures.py"), "--workload", w,
             "--seed", str(a.seed), "--out", fx]
            + (["--smoke"] if a.smoke else []),
            env, FIXTURE_TIMEOUT_S)
        log(f"fixture ready in {time.time() - t:.1f}s: {fx}")
        if code != 0 or left:
            log(f"fixture build failed (exit {code}, left running: {left})")
            return 1
    others = [fx for w, fx in fixtures.items() if w != a.workload]

    run_dir = os.path.join(WORK, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(WORK, "traces",
                              f"{a.workload}-seed{a.seed}-{int(t)}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    t0 = time.time()
    # the measured process gets --seconds plus its set-up (and sweep)
    # allowance, but never more than the run has left
    timeout = min(a.seconds + SETUP_ALLOWANCE_S
                  + (SWEEP_ALLOWANCE_S if a.trace else 0),
                  RUN_LIMIT_S - (t0 - started))
    code, left = run_child(
        [py, os.path.join(HERE, "worker.py"), "--workload", a.workload,
         "--fixture", fixtures[a.workload], "--work", run_dir,
         "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--t0", repr(t0),
         "--cores", str(hw["nproc"]), "--result", result_path,
         "--spans", spans_path]
        + (["--other-fixture", others[0]] if a.trace else []),
        env, timeout)
    measure_s = time.time() - t0
    if code != 0 or not os.path.exists(result_path):
        log(f"measured process failed (exit {code}, left running: {left})")
        return 1
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"]
    if left:
        log(f"processes left running after the run (killed): {left}")
        failed += 1
    names = set(res["metrics"])
    want = layers if a.trace else wanted
    if names != want:
        log(f"metrics do not match BENCHMARK.json: missing "
            f"{sorted(want - names)}, unknown {sorted(names - want)}")
        return 1
    info = {**hw, "jvm_heap": env["SPARK_DRIVER_MEM"],
            "master": f"local[{hw['nproc']}]", "samples": res["samples"],
            "measure_s": round(measure_s, 1), "shape": res["shape"],
            "errors": res["errors"][:5]}
    if a.trace:
        info["spans"] = os.path.relpath(spans_path, ROOT)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"] + (1 if left else 0),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(res["metrics"].items())},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
