"""Extraction benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload crawl_uniform --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (docs_per_s, setup_s, worker_peak_rss_mb);
with ``--trace 1`` they are the per-layer ones, and the span file is
written under ``.perfbench-work/``. Exit code 1 when any doc fails the
correctness gate, 2 on bad usage or when the program cannot be imported.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path
from statistics import median
from types import SimpleNamespace

import gate
import inputs
import tracing

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"

# docs = rows of the input table; delta = new urls added for the incremental
# run (about 5% of base). BENCHMARK.json lists the first two; crawl_clustered
# is kept for runs by hand (report.py) and is not in it: at this size it ran
# no tail that crawl_uniform does not, and its spread was the widest.
WORKLOADS = {
    "crawl_uniform": {"docs": 1600, "delta": 0},
    "pipeline_incremental": {"docs": 100, "delta": 5},
    "crawl_clustered": {"docs": 1600, "delta": 0},
}
SETUP_REPS = 3  # setup_s is the median of this many set-ups in one run
# Requests run and discarded before the timed window. Request times fall
# for the first 5-10 s after set-up while the JVM compiles the hot path.
WARMUP_S = 8.0
SINK_SLICE = 300  # crawl workloads' sink/score layer pass commits this many docs
SCAN_REPS = 3
FORMATS = ("html", "pdf", "zip", "text", "csv", "image", "pbm", "unknown")
TEXTSTATS = ("lang_id", "quality_score", "token_count_bpe", "token_count_ws", "fingerprint64")
DELTA_RUN_ID = "delta"

END_TO_END = ("docs_per_s", "setup_s", "worker_peak_rss_mb")
# Per-layer metrics in report order (BENCHMARK.json lists the same names).
PER_LAYER = (
    "pages.scan_sniff_s", "pages.input_mb",
    "extract.py_sent_mb", "extract.py_returned_mb", "extract.py_boot_s",
    "extract.py_init_s", "extract.py_run_s", "extract.executor_run_s",
    "extract.gc_s", "extract.non_decode_s",
    "extract.tasks", "extract.task_p50_s", "extract.task_max_s",
    "extract.task_max_over_mean", "extract.shuffle_write_mb",
    *(f"decode.{f}.{k}" for f in FORMATS for k in ("docs", "s", "ms_per_mb", "max_ms", "errors")),
    "decode.total_s",
    "score.s", "score.read_s", *(f"textstats.{fn}_s" for fn in TEXTSTATS),
    "warehouse.pending_s", "warehouse.pending_docs", "warehouse.run_s",
    "warehouse.files_written", "warehouse.mb_written", "warehouse.records_written",
    "warehouse.lineage_rows", "warehouse.stored_bytes_ratio",
    "session.start_s", "session.warmup_s", "corpus.gen_s",
    "trace.overhead_s",
)


def _isolate_scratch(work: Path) -> None:
    """Keep every file Spark, the JVM and tempfile write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, a file or a directory."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _stop_jvm() -> None:
    """Shut down the JVM that pyspark launched and wait until it has exited
    (it exits when its stdin closes); Spark's Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0


def _become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python daemon and workers once the
    JVM has exited) re-parented to this process, so _reap_children can wait
    for them instead of leaving them running after exit."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    """Pids whose parent is this process, read from /proc."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _reap_children(grace: float = REAP_GRACE_S) -> None:
    """Wait until every child process has ended. Children still running
    after ``grace`` seconds are killed, then waited for."""
    deadline = time.monotonic() + grace
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for p in _children():
                print(f"[perfbench] killing leftover process {p}", file=sys.stderr)
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


class Bench:
    """One invocation: inputs, set-up, the closed loop, the gate, and in
    trace mode the layer passes."""

    def __init__(self, workload: str, seed: int, seconds: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.shape = WORKLOADS[workload]
        self.dir = WORK / f"{workload}-{seed}-{self.shape['docs']}+{self.shape['delta']}"
        self.spark = None
        self.tracer = None

    # -- pieces --------------------------------------------------------------

    def _mod(self):
        """The program's public modules (imported lazily: after the scratch
        environment is set, and so a missing program fails fast)."""
        import multi_format_document_extractor_spark.api as api
        import multi_format_document_extractor_spark.oracle as oracle
        from multi_format_document_extractor_spark.functions import textstats
        from multi_format_document_extractor_spark.operators.extract import extract_pages
        from multi_format_document_extractor_spark.session import get_spark
        from multi_format_document_extractor_spark.sinks import Warehouse
        from multi_format_document_extractor_spark.sources.pages import read_pages, with_format

        return SimpleNamespace(
            api=api, oracle=oracle, textstats=textstats, extract_pages=extract_pages,
            get_spark=get_spark, Warehouse=Warehouse, read_pages=read_pages,
            with_format=with_format,
        )

    def input_path(self) -> str:
        key = {"crawl_uniform": "pages", "crawl_clustered": "clustered"}.get(
            self.workload, "snapshot"
        )
        return self.paths[key]

    def start_session(self, event_log: str | None = None):
        conf = {}
        if event_log:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": Path(event_log).as_uri(),
            }
        spark = self.m.get_spark("perfbench", cores=_cores(), extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, event_log: str | None = None) -> dict:
        """Session start, then worker warm-up: one pass of the workload's
        extraction for the crawl workloads; for the pipeline, the base
        commit, which runs the extraction workers."""
        wh_base = str(self.dir / "wh_base")
        shutil.rmtree(wh_base, ignore_errors=True)
        m = self.m
        t0 = time.perf_counter()
        self.spark = spark = self.start_session(event_log)
        t1 = time.perf_counter()
        if self.workload == "pipeline_incremental":
            m.Warehouse(wh_base).run(spark, m.read_pages(spark, self.paths["base"]), run_id="base")
        else:
            _noop(m.extract_pages(m.read_pages(spark, self.input_path())))
        t2 = time.perf_counter()
        return {"start": t1 - t0, "warmup": t2 - t1, "total": t2 - t0}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def iteration(self) -> float:
        """One closed-loop request; returns its wall time. The pipeline
        starts each request from a fresh copy of the committed base."""
        m, spark = self.m, self.spark
        if self.workload != "pipeline_incremental":
            t = time.perf_counter()
            _noop(m.extract_pages(m.read_pages(spark, self.input_path())))
            return time.perf_counter() - t
        wh = str(self.dir / "wh_iter")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self.dir / "wh_base", wh)
        t = time.perf_counter()
        self.record, self.scored = m.api.run_pipeline(
            spark, m.read_pages(spark, self.paths["snapshot"]), wh, run_id=DELTA_RUN_ID
        )
        _noop(self.scored)
        return time.perf_counter() - t

    def loop(self, seconds: float) -> list[float]:
        """Requests back to back for ``seconds`` (at least one); their walls."""
        walls: list[float] = []
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            walls.append(self.iteration())
        return walls

    def check(self) -> dict:
        """The correctness gate (gate.py) on this run's outputs, untimed."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        m, spark = self.m, self.spark
        cols = ["url", "format", "text_out", "checksum"]
        if self.workload != "pipeline_incremental":
            got = (
                m.extract_pages(m.read_pages(spark, self.input_path()))
                .select(*cols)
                .toArrow()
            )
            return gate.check_extracted(got, pq.read_table(self.paths["expected"]))
        wh = m.Warehouse(str(self.dir / "wh_iter"))
        committed = (
            wh.read_extracted(spark).where(F.col("run_id") == DELTA_RUN_ID).select(*cols)
        ).toArrow()
        lineage = [
            r["checksum"]
            for r in wh.read_lineage(spark).where(F.col("run_id") == DELTA_RUN_ID).collect()
        ]
        return gate.check_commit(
            self.record,
            committed,
            lineage,
            self.scored.count(),
            self.shape["docs"],
            pq.read_table(self.paths["delta_expected"]),
        )

    # -- modes ---------------------------------------------------------------

    def prepare(self) -> None:
        self.paths = inputs.build(
            self.workload, self.seed, self.shape["docs"], self.shape["delta"], str(self.dir)
        )
        self.m = self._mod()

    def timed(self) -> tuple[dict, dict]:
        """Tracing off: SETUP_REPS set-ups (median), WARMUP_S of discarded
        requests, the closed loop, RSS, then the gate."""
        setups = []
        for i in range(SETUP_REPS):
            if i:
                self.stop()
            setups.append(self.setup()["total"])
        self.loop(WARMUP_S)
        walls = self.loop(self.seconds)
        rss = tracing.python_worker_peak_rss_mb()
        checked = self.check()
        print(
            f"[perfbench] {self.workload} seed={self.seed}: {len(walls)} requests, "
            f"walls {[round(w, 3) for w in walls]}, setups {[round(s, 2) for s in setups]}",
            file=sys.stderr,
        )
        docs = self.shape["docs"] + self.shape["delta"]
        return {
            "docs_per_s": median(docs / w for w in walls),
            "setup_s": median(setups),
            "worker_peak_rss_mb": rss,
        }, checked

    def traced(self) -> tuple[dict, dict]:
        """A separate traced run: untraced loop first (its median wall is the
        overhead baseline), then a session with the event log on, one traced
        request, and the per-layer passes."""
        s = self.setup()
        out = {
            "session.start_s": s["start"],
            "session.warmup_s": s["warmup"],
            "corpus.gen_s": self.paths["gen_s"],
        }
        # Warm-up first: the traced request below runs after this session
        # has filled the JVM-wide caches (codegen, JIT), so the baseline
        # must be as warm.
        self.loop(WARMUP_S)
        untraced = median(self.loop(self.seconds))
        checked = self.check()
        self.stop()

        log_dir = self.dir / "eventlog"
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        self.tracer = tracer = tracing.Tracer(
            f"{self.workload}-{self.seed}", on_enter=self._tag_jobs
        )
        with tracer.span("setup"):
            self.setup(str(log_dir))
        with tracer.span("request") as req:
            self.traced_iteration()
        out["trace.overhead_s"] = req["end"] - req["start"] - untraced
        for name, layer_pass in (
            ("scan", self.scan_pass), ("decode", self.decode_pass), ("sink", self.sink_pass)
        ):
            with tracer.span(f"pass.{name}"):
                out.update(layer_pass())
        self.stop()  # flushes the event log

        tasks = tracing.task_records(tracing.read_event_log(str(log_dir)))
        in_req = {str(i) for i in tracer.subtree_ids(req["id"])}
        out.update(tracing.stage_summary([t for t in tasks if t["span"] in in_req]))
        # Python workers start during set-up (its jobs run before any span
        # tags them) and are reused, so their boot time is summed over the
        # set-up's tasks and the request's.
        out["extract.py_boot_s"] = sum(
            t["py_boot_ms"] for t in tasks if t["span"] is None or t["span"] in in_req
        ) / 1000
        out["extract.non_decode_s"] = out["extract.executor_run_s"] - out["decode.total_s"]
        (run,) = tracer.by_name("warehouse.run")
        in_run = {str(i) for i in tracer.subtree_ids(run["id"])}
        out["warehouse.records_written"] = sum(
            t["output_records"] for t in tasks if t["span"] in in_run
        )
        if set(out) != set(PER_LAYER):
            raise RuntimeError(f"per-layer metrics differ from PER_LAYER: {set(out) ^ set(PER_LAYER)}")
        span_file = WORK / f"spans-{self.workload}-{self.seed}.json"
        tracer.dump(str(span_file))
        print(f"[perfbench] spans written to {span_file}", file=sys.stderr)
        return {k: out[k] for k in PER_LAYER}, checked

    # -- traced pieces -------------------------------------------------------

    def _tag_jobs(self, span_id: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(tracing.SPAN_PROPERTY, span_id)

    def traced_iteration(self) -> None:
        m, spark, sp = self.m, self.spark, self.tracer.span
        if self.workload != "pipeline_incremental":
            with sp("sources.read_pages"):
                pages = m.read_pages(spark, self.input_path())
            with sp("operators.extract_pages"):
                df = m.extract_pages(pages)
            with sp("noop.write"):
                _noop(df)
            return
        wh = str(self.dir / "wh_iter")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self.dir / "wh_base", wh)
        with sp("sources.read_pages"):
            pages = m.read_pages(spark, self.paths["snapshot"])
        with sp("api.run_pipeline"):
            _, scored = m.api.run_pipeline(spark, pages, wh, run_id=DELTA_RUN_ID)
        with sp("noop.write"):
            _noop(scored)

    def _timed_span(self, name: str, fn) -> float:
        with self.tracer.span(name) as s:
            fn()
        return s["end"] - s["start"]

    def scan_pass(self) -> dict:
        m = self.m
        times = [
            self._timed_span(
                "pages.scan_sniff",
                lambda: _noop(m.with_format(m.read_pages(self.spark, self.input_path()))),
            )
            for _ in range(SCAN_REPS)
        ]
        return {"pages.scan_sniff_s": median(times), "pages.input_mb": _du(self.input_path())[1] / 1e6}

    def decode_pass(self) -> dict:
        """``oracle.extract`` single-threaded on the driver over the docs the
        workload extracts, grouped by returned format."""
        import pyarrow.parquet as pq

        if self.workload == "pipeline_incremental":
            payloads = pq.read_table(self.paths["snapshot"], columns=["html"])["html"]
            payloads = payloads.slice(self.shape["docs"]).to_pylist()
        else:
            payloads = pq.read_table(self.paths["pages"], columns=["html"])["html"].to_pylist()
        stat = {f: [0, 0, 0, 0, 0] for f in FORMATS}  # docs, ns, bytes, max ns, errors
        extract = self.m.oracle.extract
        with self.tracer.span("oracle.extract"):
            for p in payloads:
                t0 = time.perf_counter_ns()
                e = extract(p)
                dt = time.perf_counter_ns() - t0
                st = stat[e.format]
                st[0] += 1
                st[1] += dt
                st[2] += len(p or b"")
                st[3] = max(st[3], dt)
                st[4] += not e.ok
        out = {"decode.total_s": sum(v[1] for v in stat.values()) / 1e9}
        for f, (docs, ns, nbytes, mx, errs) in stat.items():
            out[f"decode.{f}.docs"] = docs
            out[f"decode.{f}.s"] = ns / 1e9
            out[f"decode.{f}.ms_per_mb"] = ns / nbytes if nbytes else 0.0
            out[f"decode.{f}.max_ms"] = mx / 1e6
            out[f"decode.{f}.errors"] = errs
        return out

    def sink_pass(self) -> dict:
        """Warehouse, scoring and textstats layers. The pipeline commits its
        snapshot over a copy of the committed base; crawl workloads commit
        the first SINK_SLICE docs of their table into an empty warehouse."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        m, spark = self.m, self.spark
        wh_dir = str(self.dir / "wh_trace")
        shutil.rmtree(wh_dir, ignore_errors=True)
        if self.workload == "pipeline_incremental":
            shutil.copytree(self.dir / "wh_base", wh_dir)
            src = self.paths["snapshot"]
        else:
            src = str(self.dir / "sink_slice.parquet")
            pq.write_table(pq.read_table(self.paths["pages"]).slice(0, SINK_SLICE), src)
        wh = m.Warehouse(wh_dir)
        pages = m.read_pages(spark, src)
        out = {}

        def pending():
            out["warehouse.pending_docs"] = wh.pending(pages).count()

        def commit():
            out["_record"] = wh.run(spark, pages, run_id="trace")

        out["warehouse.pending_s"] = self._timed_span("warehouse.pending", pending)
        before = _du(wh_dir)[1]
        out["warehouse.run_s"] = self._timed_span("warehouse.run", commit)
        added = _du(wh_dir)[1] - before
        in_bytes = out.pop("_record")["n_bytes"]
        files, nbytes = _du(os.path.join(wh_dir, "runs", "run_id=trace"))
        out["warehouse.files_written"] = files
        out["warehouse.mb_written"] = nbytes / 1e6
        out["warehouse.lineage_rows"] = (
            wh.read_lineage(spark).where(F.col("run_id") == "trace").count()
        )
        out["warehouse.stored_bytes_ratio"] = added / in_bytes if in_bytes else 0.0
        out["score.read_s"] = self._timed_span(
            "score.read", lambda: _noop(wh.read_extracted(spark))
        )
        out["score.s"] = self._timed_span(
            "api.score_extracted",
            lambda: _noop(m.api.score_extracted(wh.read_extracted(spark))),
        )
        for fn in TEXTSTATS:
            col = getattr(m.textstats, fn)(F.col("text_out"))
            out[f"textstats.{fn}_s"] = self._timed_span(
                f"textstats.{fn}", lambda: _noop(wh.read_extracted(spark).select(col))
            )
        return out


def unit(name: str) -> str:
    """The unit of an end-to-end or per-layer metric, from its name."""
    if name == "docs_per_s":
        return "docs/s"
    if name.endswith(".ms_per_mb"):
        return "ms/MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb") or name.rsplit(".", 1)[-1].startswith("mb_"):
        return "MB"
    if name.endswith(("_mean", "_ratio")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import multi_format_document_extractor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    _isolate_scratch(WORK)
    _become_subreaper()

    t0 = time.perf_counter()
    bench = Bench(args.workload, args.seed, args.seconds)
    try:
        bench.prepare()
        print(f"[perfbench] inputs ready after {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        metrics, checked = bench.traced() if args.trace else bench.timed()
    finally:
        try:
            bench.stop()
        finally:
            try:
                _stop_jvm()
            finally:
                _reap_children()
    print(f"[perfbench] done after {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    for r in checked["reasons"]:
        print(f"[perfbench] gate: {r}", file=sys.stderr)
    failed_frac = checked["failed"] / checked["attempted"]
    print(f"[perfbench] docs_failed_frac = {failed_frac} (ratio)", file=sys.stderr)
    for name, value in metrics.items():
        print(f"[perfbench] {name} = {value} {unit(name)}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": checked["failed"] == 0,
                "attempted": checked["attempted"],
                "failed": checked["failed"],
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0 if checked["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
