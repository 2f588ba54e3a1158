"""One measured run of one workload, in a fresh process.

Started by ``run.py`` with the repository root on ``PYTHONPATH`` (Spark
driver and Python workers alike) and every temporary directory inside the work
directory.  Steps:

1. set-up: build the session, then a warm-up pass through the same
   entry point on the case's small ``warm`` slice;
2. timed: after ``SETTLE_REPS`` untimed repetitions, repeat the job on
   the full input until ``--seconds`` have passed (at least once),
   sampling the RSS of the whole process tree;
3. check every repetition's committed output against the references;
4. with ``--trace 1``: one more repetition under the tracer, the
   in-process kernel micro-run and, for ``scanned_pdf``, a ``local[1]``
   pass (skipped when less than a minute is left before ``--deadline``);
   then fold everything into the per-layer metrics.

The result (a JSON object) goes to ``--result``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")

# untimed full-size repetitions between set-up and timing.  Measured
# walls of consecutive scanned_pdf jobs in one process on 4 cores fall
# 8.5, 7.4, 6.8 s, then stay within a few percent: the extract job is
# still warming after the small warm-up slice.  crawl_to_shards showed no
# such trend (16.2, 16.0, 17.2, 16.2 s).
SETTLE_REPS = {"scanned_pdf": 1, "web_html": 1, "crawl_to_shards": 0}


class TreeRss:
    """Peak summed RSS of this process and all its descendants (the JVM,
    the Python daemon and workers), sampled every ``interval`` seconds.
    The process tree is rescanned once a second; in between only the
    known pids' statm files are read."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_java = 0      # the JVM's share at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree(root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def _loop(self) -> None:
        pids, rescan = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= rescan:
                pids, rescan = self._tree(os.getpid()), now + 1.0
            total = java = 0
            for p in pids:
                try:
                    with open(f"/proc/{p}/statm") as fh:
                        rss = int(fh.read().split()[1]) * PAGE
                    with open(f"/proc/{p}/comm") as fh:
                        is_java = fh.read().strip() == "java"
                except (OSError, IndexError, ValueError):
                    continue
                total += rss
                java += rss if is_java else 0
            if total > self.peak:
                self.peak, self.peak_java = total, java
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def steal() -> int:
    """CPU time the hypervisor gave to others (jiffies, all cpus)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def dir_bytes(root: Path) -> int:
    return sum(f.stat().st_size for f in root.rglob("*") if f.is_file())


# ---- the job entry points ---------------------------------------------------
def run_job(spark, workload: str, table: Path, out: Path, run_id: str) -> None:
    if workload == "crawl_to_shards":
        from jobs import pipeline_job
        pipeline_job.main(["--archives-table", str(table), "--output-root",
                           str(out), "--run-id", run_id], stop_session=False)
    else:
        from jobs import extract_job
        extract_job.run(spark, str(table), str(out), mode="all", run_id=run_id)


def read_table(spark, root: Path, cols: list[str] | None = None):
    from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable
    import pandas as pd
    if not (root / "_snapshots").is_dir():
        return pd.DataFrame({c: [] for c in cols or []})
    df = SnapshotTable(str(root)).read(spark)
    if df is None:
        return pd.DataFrame({c: [] for c in cols or []})
    return (df.select(*cols) if cols else df).toPandas()


def check(spark, workload: str, case: Path, out: Path) -> tuple[int, set, dict]:
    """Run the correctness gate on one repetition's committed output."""
    import gate
    info: dict = {}
    if workload == "crawl_to_shards":
        frames = {t: read_table(spark, out / t, c) for t, c in (
            ("pages", ["url"]), ("ingest_rejects", ["url", "reason"]),
            ("clean", ["url", "text"]), ("clean_rejects", ["url", "reason"]),
            ("shards", ["shard", "bin_id", "window_text"]))}
        n, bad, digest = gate.check_crawl_to_shards(case, **frames)
        info["digest"] = digest
        info["frames"] = frames
        return n, bad, info
    text = read_table(spark, out / "text", ["url", "extracted_text"])
    quar = read_table(spark, out / "quarantine", ["url", "kind"])
    info["frames"] = {"text": text, "quarantine": quar}
    if workload == "web_html":
        n, bad = gate.check_web_html(case, text, quar)
        return n, bad, info
    spans = read_table(spark, out / "spans", [
        "url", "page", "block", "par", "line", "word", "left", "top", "width",
        "height", "conf", "text", "x", "y", "fontsize", "start_off", "end_off"])
    info["frames"]["spans"] = spans
    n, bad = gate.check_scanned_pdf(case, text, spans, quar)
    return n, bad, info


def pin_digest(case: Path, digest: str) -> bool:
    """The crawl output digest is pinned per seed by the first run that
    passes the accounting gate; later runs must reproduce it."""
    f = case / "digest.txt"
    if f.exists():
        return f.read_text().strip() == digest
    f.write_text(digest + "\n")
    return True


# ---- main -------------------------------------------------------------------
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--case", required=True, type=Path)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--result", required=True, type=Path)
    a = ap.parse_args()

    from image_pdf_ocr_suite_spark.session import build_session

    res: dict = {"workload": a.workload}
    spark = build_session(app=f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_built = time.monotonic()
    run_job(spark, a.workload, a.case / "warm.parquet", a.work / "warm", "warm")
    t_warm = time.monotonic()
    res["setup_s"] = t_warm - a.t_spawn
    res["session_build_s"] = t_built - a.t_spawn
    res["session_warmup_s"] = t_warm - t_built

    for k in range(SETTLE_REPS[a.workload]):
        run_job(spark, a.workload, a.case / "input.parquet", a.work / f"settle{k}",
                f"settle{k}")
        shutil.rmtree(a.work / f"settle{k}", ignore_errors=True)

    walls, raised = [], 0
    steal0 = steal()
    with TreeRss() as rss:
        start = time.monotonic()
        k = 0
        while True:
            out = a.work / f"rep{k}"
            t = time.monotonic()
            try:
                run_job(spark, a.workload, a.case / "input.parquet", out, f"rep{k}")
                walls.append((out, time.monotonic() - t))
            except Exception:  # a run that raised fails all its documents
                traceback.print_exc()
                shutil.rmtree(out, ignore_errors=True)
                raised += 1
            k += 1
            if time.monotonic() - start >= a.seconds:
                break
    res["peak_rss_mb"] = rss.peak / 2 ** 20
    res["peak_rss_java_mb"] = rss.peak_java / 2 ** 20
    res["steal_s"] = (steal() - steal0) / os.sysconf("SC_CLK_TCK")

    attempted, failed, written, digests = 0, 0, [], set()
    for out, _ in walls:
        n, bad, info = check(spark, a.workload, a.case, out)
        if "digest" in info:
            digests.add(info["digest"])
            if not bad and not pin_digest(a.case, info["digest"]):
                bad = bad | {"<digest>"}
        attempted += n
        failed += len(bad)
        if bad:
            print(f"gate: {len(bad)} bad docs, e.g. {sorted(bad)[:5]}",
                  file=sys.stderr)
        written.append(dir_bytes(out) / n)
        shutil.rmtree(out, ignore_errors=True)
    attempted += raised * a.docs
    failed += raised * a.docs
    if len(digests) > 1:
        failed += a.docs
    rates = [a.docs / w for _, w in walls]
    res.update(
        attempted=attempted, failed=failed, reps=len(walls), raised=raised,
        walls=[w for _, w in walls], docs=a.docs,
        docs_per_s=statistics.median(rates) if rates else 0.0,
        written_bytes_per_doc=statistics.median(written) if written else 0.0,
    )

    if a.trace:
        res["layers"] = traced(spark, a, res)
    a.result.write_text(json.dumps(res))
    stop(spark)
    return 0


def traced(spark, a, res: dict) -> dict:
    """One traced repetition plus the kernel micro-run (and, for
    scanned_pdf, a local[1] pass); returns the per-layer metrics."""
    import tracing as tr
    import pandas as pd

    tracer = tr.Tracer(spark.sparkContext)
    tracer.install()
    out = a.work / "traced"
    try:
        tracer.span("job", run_job, spark, a.workload,
                    a.case / "input.parquet", out, "traced")
    finally:
        tracer.uninstall()
    wall = tracer.spans[0].end - tracer.spans[0].start
    n, bad, info = check(spark, a.workload, a.case, out)
    res["failed"] += len(bad)
    res["attempted"] += n

    # kernel micro-run over a fixed sample of the workload's payloads
    if a.workload == "crawl_to_shards":
        sample = read_table(spark, out / "pages", ["url", "html"])
    else:
        sample = pd.read_parquet(a.case / "input.parquet", columns=["url", "html"])
    sample = sample.sort_values("url").head(150)
    micro, shares = tr.kernel_micro([bytes(x) for x in sample["html"]],
                                    list(sample["url"]))
    m = tr.layer_metrics(tracer, tr.StoreReader(spark), 0, shares)
    m.update(micro)

    f = info["frames"]
    # the traced job runs right after the timed (untraced) one
    m["trace.overhead_ratio"] = statistics.median(res["walls"]) / wall
    m["session.build_s"] = res["session_build_s"]
    m["session.warmup_s"] = res["session_warmup_s"]
    m["snapshot.bytes_written"] = dir_bytes(out)
    m["snapshot.files_written"] = sum(1 for p in out.rglob("*.parquet"))
    if a.workload == "crawl_to_shards":
        plan = json.loads((a.case / "plan.json").read_text())
        rej = f["ingest_rejects"]["reason"]
        m["ingest.records_in"] = plan["records"]
        m["ingest.superseded"] = int((rej == "superseded recrawl").sum())
        m["ingest.rejects"] = int((rej != "superseded recrawl").sum())
        m["clean.rows_out"] = len(f["clean"])
        for reason, c in f["clean_rejects"]["reason"].value_counts().items():
            m[f"clean.rejects.{reason}"] = int(c)
        m["shards.rows_out"] = len(f["shards"])
        q = f["clean_rejects"]["reason"].isin(["encrypted", "corrupt", "unknown"])
        m["decode.quarantined"] = int(q.sum())
    else:
        m["decode.quarantined"] = len(f["quarantine"])
        m["spans.rows_out"] = len(f.get("spans", ()))
    shutil.rmtree(out, ignore_errors=True)

    if a.workload == "scanned_pdf":
        if a.deadline - time.monotonic() > 60:
            m.update(single_core(spark, a, res))
        else:   # keep the run inside its time limit on a slow host
            print("perfbench: local[1] pass skipped, not enough time left",
                  file=sys.stderr)
    return m


def single_core(spark, a, res: dict) -> dict:
    """The same job at local[1] (session rebuilt, warm-up repeated), as the
    baseline for future scaling claims."""
    from image_pdf_ocr_suite_spark.session import build_session
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    s1 = build_session(app="perfbench-local1")
    s1.sparkContext.setLogLevel("ERROR")
    run_job(s1, a.workload, a.case / "warm.parquet", a.work / "warm1", "warm1")
    t = time.monotonic()
    run_job(s1, a.workload, a.case / "input.parquet", a.work / "local1", "local1")
    wall = time.monotonic() - t
    n, bad, _ = check(s1, a.workload, a.case, a.work / "local1")
    res["failed"] += len(bad)
    res["attempted"] += n
    shutil.rmtree(a.work / "local1", ignore_errors=True)
    s1.stop()
    rate = a.docs / wall
    return {"scaling.local1_docs_per_s": rate,
            "scaling.speedup": res["docs_per_s"] / rate}


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
