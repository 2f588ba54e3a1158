#!/usr/bin/env python3
"""Job-level extraction benchmark.

    python3 perfbench/run.py --workload scanned_pdf|web_html|crawl_to_shards \
        --seed N --seconds S --trace 0|1

Run from the repository root.  Generates (once per seed, cached under
``.perfbench/inputs``) the workload's input tables and references, then
starts ONE fresh process (``child.py``) that builds the session, warms
up, repeats the production job for ``--seconds`` and checks every output.
Prints one line per metric, then the result as one JSON object on the
last line: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (names and units from ``BENCHMARK.json``) with ``--trace 1``.

Everything the run writes stays under ``.perfbench/`` in the checkout;
each run appends its record (nproc, load1, commit, walls, metrics) to
``.perfbench/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("scanned_pdf", "web_html", "crawl_to_shards")
RUN_LIMIT_S = 170       # a run must end within 180 s, generation included

END_TO_END = {  # name -> (unit, key in the child's result)
    "docs_per_s": ("docs/s", "docs_per_s"),
    "setup_s": ("s", "setup_s"),
    "peak_rss_mb": ("MB", "peak_rss_mb"),
    "written_bytes_per_doc": ("B/doc", "written_bytes_per_doc"),
}


def become_subreaper() -> None:
    """Have every orphaned descendant (the JVM and Python workers once the
    child is gone, the generator pool's helpers) re-parented to this
    process, so ``reap_descendants`` can wait for each of them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def reap_descendants() -> None:
    """Kill every process still running below this one and wait until
    each has ended; returns when this process has no child left."""
    me = os.getpid()
    while True:
        for p in descendants(me):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def source_digest() -> str:
    """Identify the code under test: the git commit when the checkout is
    a repository, else a digest of the program's Python sources."""
    import hashlib
    if (ROOT / ".git").exists():
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for d in ("image_pdf_ocr_suite_spark", "jobs"):
        for f in sorted((ROOT / d).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


def child_env(work: Path, cpus: int) -> dict:
    env = dict(os.environ)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env.update(
        # the repo root on the Spark driver's AND the Python workers' path
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="2g",
        # shuffle/spill and every temp file stay inside the checkout
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed, pre-touched JVM heap: the JVM's share of peak RSS is
        # then its configured size, not the GC's timing, and the rest of
        # the peak (Python processes, off-heap) is what moves
        PYSPARK_SUBMIT_ARGS="--driver-java-options '-Xms2g -XX:+AlwaysPreTouch' "
                            "pyspark-shell",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    missing = [p for p in ("image_pdf_ocr_suite_spark", "jobs", "BENCHMARK.json")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    sys.path[:0] = [str(ROOT), str(HERE)]
    import gen

    work = ROOT / ".perfbench"
    cpus = len(os.sched_getaffinity(0))
    case, plan = gen.ensure_case(work / "inputs", a.workload, a.seed)
    run_dir = work / "run"
    if run_dir.exists():
        import shutil
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    result_file = run_dir / "result.json"

    load1 = os.getloadavg()[0]
    t_spawn = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), "--workload", a.workload,
         "--case", str(case), "--work", str(run_dir), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--t-spawn", repr(t_spawn),
         "--deadline", repr(deadline - 10),
         "--docs", str(plan["docs"]), "--result", str(result_file)],
        env=child_env(work, cpus), cwd=run_dir, stdout=sys.stderr,
        start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = -1
        print("perfbench: child timed out", file=sys.stderr)
    if code != 0 or not result_file.exists():
        print(f"perfbench: measured process failed (exit {code})", file=sys.stderr)
        return 1
    res = json.loads(result_file.read_text())

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "nproc": cpus, "load1": load1, "commit": source_digest(),
              "reps": res["reps"], "walls": res["walls"],
              "steal_s": res["steal_s"], "peak_rss_java_mb": res["peak_rss_java_mb"]}
    if a.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {name: {"value": float(res[key]), "unit": unit}
                   for name, (unit, key) in END_TO_END.items()}
    error_rate = res["failed"] / max(1, res["attempted"])
    record.update(attempted=res["attempted"], failed=res["failed"],
                  metrics={k: v["value"] for k, v in metrics.items()})
    with open(work / "runs.jsonl", "a") as fh:   # every run, for later reading
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(f"{a.workload} error_rate {error_rate:.6g} ratio "
          f"({res['failed']} of {res['attempted']} documents)")
    print(f"{a.workload} docs_per_s {res['docs_per_s']:.6g} docs/s "
          f"(median of {res['reps']} timed jobs of {res['docs']} documents)")
    for name, v in metrics.items():
        if name != "docs_per_s":
            print(f"{a.workload} {name} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    become_subreaper()
    try:
        code = main()
    finally:
        reap_descendants()
    sys.exit(code)
