#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one fresh engine process.

    python3 enginebench/run.py --workload lookup_write --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The launcher generates the input
tables (fixed data seed), draws the op script from ``--seed`` and computes
every expected answer with DuckDB and pure Python, all before the engine
starts. It then runs ``worker.py`` in a fresh process with a pinned
environment, waits for it (and the JVM it starts) to end, and prints, as
the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set, with ``--trace 1`` the per-layer set; the
line before it (``# detail {...}``) carries the workload-specific
breakdown. Everything the run writes stays under ``.bench_work/`` in the
checkout. See LAYERS.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

SCALE = 0.01  # 1,500 customers, 15,000 orders, ~60,000 lineitems, ~300,000 edge rows
DOCS = 1000
HEAP = "2g"  # SPARK_DRIVER_MEMORY; the session defaults to 48g
CHILD_TIMEOUT_S = 150


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def child_env() -> dict:
    """The engine's pinned environment: core count instead of the
    session's 32-core default, a JVM heap that fits a small box, the
    checkout on PYTHONPATH so Arrow workers can import the package, and
    every temp and spill directory inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        ]),
    })
    return env


def _become_subreaper() -> bool:
    """Adopt orphaned descendants (the JVM outlives its Python parent when
    that parent is killed), so they can be waited for."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return False
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    return prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER


def _reap_group(pgid: int, adopted: bool) -> None:
    """Stop every process left in the worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            if adopted:
                try:
                    while os.waitpid(-1, os.WNOHANG)[0]:
                        pass
                except ChildProcessError:
                    pass
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def input_tables(scale: float, docs: int) -> str:
    """The generated input tables, made once per checkout: the directory
    name covers the sizes and the generator's source, so a changed
    generator never reuses stale tables."""
    import datagen

    h = hashlib.sha1()
    for name in ("datagen.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    data_dir = os.path.join(WORK, f"data-{scale}-{docs}-{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(data_dir, "MANIFEST.json")):
        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, scale, docs)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp, data_dir)
    return data_dir


def run_worker(job: dict) -> dict:
    os.makedirs(WORK, exist_ok=True)
    tag = f"{job['workload']}-{os.getpid()}"
    job_path = os.path.join(WORK, f"job-{tag}.json")
    out_path = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    adopted = _become_subreaper()
    job["t0"] = time.time()
    with open(job_path, "w") as f:
        json.dump(job, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), job_path, out_path],
        cwd=WORK, env=child_env(), start_new_session=True,
        stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap_group(proc.pid, adopted)
        proc.wait()
        os.remove(job_path)
    if code != 0 or not os.path.exists(out_path):
        raise SystemExit(f"engine worker failed (exit {code})")
    with open(out_path) as f:
        res = json.load(f)
    os.remove(out_path)
    return res


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # knobs for the smoke test: a smaller input, shorter scripts, and one
    # deliberately wrong expected answer
    ap.add_argument("--scale", type=float, default=SCALE)
    ap.add_argument("--docs", type=int, default=DOCS)
    ap.add_argument("--base-points", type=int, default=None)
    ap.add_argument("--corrupt", default=None, metavar="OP_KIND")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "judy_graph_db_spark", "__init__.py")):
        raise SystemExit("judy_graph_db_spark not found next to the benchmark: "
                         "run from the root of a source checkout")
    sys.path.insert(0, ROOT)
    import report
    import workloads

    if a.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload!r}; choose from {workloads.WORKLOADS}")
    data_dir = input_tables(a.scale, a.docs)
    kw = {} if a.base_points is None else {"base_points": a.base_points}
    script = workloads.make_script(a.workload, data_dir, a.seed, **kw)
    if a.corrupt:
        victim = next(op for op in script if op["kind"] == a.corrupt)
        victim["expect"] = [victim["expect"], "wrong"]

    spans_path = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")
    res = run_worker({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                      "data_dir": data_dir, "script": script, "spans_path": spans_path})

    if a.trace:
        spans = report.load_spans(spans_path)
        metrics = report.per_layer(res, spans)
        extra = {"classes": report.class_latencies(res), "layers": report.detail(res, spans)}
    else:
        metrics = report.end_to_end(res, workloads.PRIMARY[a.workload])
        extra = {"classes": report.class_latencies(res)}
    print("# detail " + json.dumps(extra, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
