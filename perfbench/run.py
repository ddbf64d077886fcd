#!/usr/bin/env python3
"""uniparser_spark benchmark: crawl and extraction workloads measured end
to end, plus a traced run that splits the figures into layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Workloads (corpus.py): ``crawl_polite`` and ``crawl_bulk`` are the ones
BENCHMARK.json names.  ``extract_mixed`` (extract_pages alone over mixed
CSS/XPath, regex, JSON and malformed pages) runs the same way and in
``--smoke``; it is left out of BENCHMARK.json because, being CPU-bound
on every core, its wall follows the machine's varying CPU speed too
closely to meet the bounds.

One run generates its inputs from ``--seed`` (pure Python, untimed),
computes the expected outputs without Spark (oracle.py), sets the
engine up once in a fresh JVM with its own ``get_spark`` settings
(``get_spark`` + page-table open + rule compile + warm-up pass:
``setup_s``) and then drives the workload in a closed loop -- one driver
process, one client, ``local[nproc]`` -- until ``--seconds`` of measured
work have passed, checking every output against the expectation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
same set-up and untraced loop (the base of the tracing overhead), sets
up again in a fresh JVM with Spark's event log on, repeats the loop with
spans and a job group around every ``seed``/``run_round``/
``extract_pages`` call, replays each layer on the run's own inputs and
state (layers.py) and prints the per-layer metrics.  Spans and a full
summary, with the run's stamp (cores, calibration before and after,
versions, input sizes, seed), go to ``.perfbench/out/``; the last stdout
line is the compact result.

``--smoke`` runs every workload on tiny inputs with ``--trace 1`` and
checks that every metric is emitted, and non-zero unless the workload
does not run its layer, that BENCHMARK.json's metrics are on the result
line with their units, and that all outputs are correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench" / "out"
WORKLOADS = ("crawl_bulk", "crawl_polite", "extract_mixed")

E2E_UNITS = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "round_s_p50": "s",
    "ok_share": "ratio",
    "state_bytes_per_page": "B/page",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "memory.jvm_peak_mb": "MB",
    "dom.parse_html_pages_per_s": "pages/s",
    "chains.rule_pages_per_s": "pages/s",
    "extract.parse_one_pages_per_s": "pages/s",
    "extract.arrow_identity_pages_per_s": "pages/s",
    "extract.udf_pages_per_s": "pages/s",
    "extract.envelope_share": "ratio",
    "extract.python_total_s": "s",
    "extract.python_bytes_sent": "B",
    "extract.python_bytes_received": "B",
    "crawl.seed_s": "s",
    "crawl.rounds": "count",
    "crawl.round_overhead_s": "s",
    "crawl.s_per_url": "s",
    "crawl.jobs_per_round": "count",
    "crawl.tasks_per_round": "count",
    "crawl.driver_gap_s": "s",
    "crawl.extract_share": "ratio",
    "crawl.bytes_written.records": "B",
    "crawl.bytes_written.seen": "B",
    "crawl.bytes_written.frontier": "B",
    "politeness.schedule_rows_per_s": "rows/s",
    "politeness.scheduled_share": "ratio",
    "seen.antijoin_rows_per_s": "rows/s",
    "seen.fresh_share": "ratio",
    "seen.bloom_build_s": "s",
    "seen.bloom_filter_rows_per_s": "rows/s",
    "seen.bloom_pass_share": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "trace.overhead_share": "ratio",
}
# per-layer metrics of layers a workload does not run: reported as 0,
# every other metric must come out non-zero (checked by --smoke)
UNUSED = {
    "extract_mixed": {n for n in LAYER_UNITS if n.startswith(("crawl.", "politeness.", "seen."))}
    | {"spark.shuffle_read_bytes", "spark.shuffle_write_bytes"},
}
# tiny smoke inputs can truly read 0 here (no task paused for GC); the
# event-log field behind it is read strictly instead
SMOKE_MAY_BE_ZERO = {"spark.gc_s"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before pyspark is imported."""
    for sub in ("tmp", "local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {java_opts}".strip()
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(HERE)]


class Session:
    """The benchmark's Spark session, with the engine's own ``get_spark``
    settings.  Every start launches a fresh JVM, as a new program would;
    every stop waits for the JVM and its Python workers to exit.  Traced
    sessions set a job group around each call."""

    def __init__(self, work: Path, tracer):
        self.work, self.tracer = work, tracer
        self.spark = None
        self.traced = False
        self.children: set = set()

    def start(self, traced: bool):
        from uniparser_spark.engine.session import get_spark

        self.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.eventLog.enabled": "true" if traced else "false",
            "spark.eventLog.dir": str(self.work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        with self.tracer.span("get_spark") as span:
            self.spark = get_spark(
                master=f"local[{nproc()}]", app_name="perfbench", shuffle_partitions=nproc(), **conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.traced = traced
        return span.wall

    def group(self, name) -> None:
        if self.traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def _track_children(self) -> None:
        from probes import process_tree

        self.children.update(p for p in process_tree(os.getpid()) if p != os.getpid())

    def stop_context(self) -> None:
        if self.spark is not None:
            self._track_children()
            self.spark.stop()
            self.spark = None

    def stop(self) -> None:
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while self.children and time.monotonic() < deadline:
            self.children = {p for p in self.children if _alive(p)}
            time.sleep(0.1)
        for pid in self.children:
            os.kill(pid, 9)
        self.children = set()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str, session, work: Path, tracer):
        import corpus as corpus_mod

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sess, self.work, self.tracer = session, work, tracer
        self.quick = size == "smoke"
        t0 = time.perf_counter()
        self.corpus = corpus_mod.GENERATORS[workload](seed, size)
        self.pages_dir = work / f"pages-{workload}"
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        # extraction: four small tasks per core, so one slow core does
        # not hold a whole wave
        files = 2 * nproc() if workload != "extract_mixed" else 4 * nproc()
        self.input_bytes = corpus_mod.write_pages(self.corpus, self.pages_dir, files)
        self.input_gen_s = time.perf_counter() - t0
        self.crawl = workload != "extract_mixed"
        self.body_cols = ["text"] if self.crawl else ["html", "text"]
        t0 = time.perf_counter()
        if self.crawl:
            from oracle import expected_crawl

            self.expected = expected_crawl(self.corpus)
        self.oracle_s = time.perf_counter() - t0
        self.attempted = self.failed = 0
        self.failing: list = []

    # ------------------------------------------------------------- set-up
    def setup(self, traced: bool = False) -> dict:
        from uniparser_spark.engine.extract import compile_ruleset

        with self.tracer.span("setup") as total:
            start_s = self.sess.start(traced)
            spark = self.sess.spark
            with self.tracer.span("open_pages"):
                self.pages = spark.read.parquet(str(self.pages_dir))
            with self.tracer.span("compile"):
                compile_ruleset(self.corpus.storage_json)
            with self.tracer.span("warm") as warm:
                self.warm_up()
        return {"setup_s": total.wall, "start_s": start_s, "warm_s": warm.wall}

    def warm_up(self) -> None:
        """A 1/16 sample of the pages through extract_pages into a
        parquet sink: starts the Python workers and warms the Arrow UDF
        and parquet write paths every workload uses.  The crawl's own
        queries stay cold, as in the first crawl of a new program."""
        from pyspark.sql import functions as F

        sample = self.pages.filter(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)
        self.extract(sample).write.mode("overwrite").parquet(str(self.work / "warm"))

    def extract(self, df):
        from uniparser_spark.engine.extract import extract_pages

        return extract_pages(df, self.corpus.storage_json, html_col=None if self.crawl else "html")

    # --------------------------------------------------------------- loops
    def loop(self, tag: str, keep_state: bool) -> list:
        """Closed loop until ``seconds`` of measured work; every rep's
        output is checked outside its timed span."""
        reps, measured = [], 0.0
        min_reps = 7 if not (self.crawl or self.quick or self.trace) else 1
        while measured < self.seconds or len(reps) < min_reps:
            try:
                rep = self.crawl_rep(tag, len(reps), keep_state) if self.crawl else self.extract_rep(tag, len(reps))
            except Exception:  # noqa: BLE001 - a crashed rep fails all its pages
                traceback.print_exc(file=sys.stderr)
                n = len(self.expected["records"]) if self.crawl else len(self.corpus.pages)
                self.attempted += n
                self.failed += n
                self.failing.append(f"{tag}:{len(reps)}: crashed")
                break
            self.attempted += rep["attempted"]
            self.failed += len(rep.pop("bad"))
            reps.append(rep)
            measured += rep["wall"]
        self.sess.group(None)
        return reps

    def crawl_rep(self, tag: str, i: int, keep_state: bool) -> dict:
        from oracle import check_crawl
        from probes import dir_bytes
        from uniparser_spark.crawl.engine import CrawlEngine

        state = self.work / "state" / f"{self.workload}-{tag}{i}"
        shutil.rmtree(state, ignore_errors=True)
        eng = CrawlEngine(self.sess.spark, self.pages, self.corpus.storage_json, state, default_budget=self.corpus.budget)
        rounds = []
        with self.tracer.span("crawl", rep=i) as crawl:
            self.sess.group(f"{tag}:seed:{i}")
            with self.tracer.span("seed") as seed:
                eng.seed(self.corpus.seeds)
            while True:
                group = f"{tag}:round:{i}:{len(rounds)}"
                self.sess.group(group)
                with self.tracer.span("run_round", round=len(rounds)) as rnd:
                    stats = eng.run_round()
                if stats.get("done") or stats["scheduled"] == 0:
                    break
                rounds.append({"scheduled": stats["scheduled"], "wall": rnd.wall, "group": group,
                               "start": getattr(rnd, "rec", {}).get("start")})
        self.sess.group(None)
        attempted, bad = check_crawl(eng, self.corpus, self.expected)
        self.failing += bad[:5]
        pages = sum(r["scheduled"] for r in rounds)
        state_bytes = {k: dir_bytes(state / k) for k in ("records", "seen", "frontier")}
        if not keep_state:
            shutil.rmtree(state, ignore_errors=True)
        return {
            "wall": crawl.wall, "seed_s": seed.wall, "pages": pages, "rounds": rounds,
            "attempted": attempted, "bad": bad, "state": str(state), "state_bytes": state_bytes,
            "span_sum": seed.wall + sum(r["wall"] for r in rounds),
        }

    def extract_rep(self, tag: str, i: int) -> dict:
        import pyarrow.parquet as pq

        from oracle import check_extract
        from probes import dir_bytes

        sink = self.work / "sink" / self.workload
        self.sess.group(f"{tag}:extract:{i}")
        with self.tracer.span("extract_pages", rep=i) as action:
            self.extract(self.pages).write.mode("overwrite").parquet(str(sink))
        self.sess.group(None)
        rows = pq.read_table(sink, columns=["url", "rule_name", "result", "error"]).to_pylist()
        attempted, bad = check_extract(rows, self.corpus)
        self.failing += bad[:5]
        return {"wall": action.wall, "pages": len(self.corpus.pages), "attempted": attempted, "bad": bad,
                "state_bytes": {"records": dir_bytes(sink)}}

    # ------------------------------------------------------------ metrics
    def end_to_end(self, setup: dict, reps: list, python_peak: int) -> dict:
        if self.crawl:
            unit_walls = [r["wall"] for rep in reps for r in rep["rounds"]]
        else:
            unit_walls = [rep["wall"] for rep in reps]
        return {
            "setup_s": setup["setup_s"],
            "pages_per_s": median(rep["pages"] / rep["wall"] for rep in reps),
            "round_s_p50": median(unit_walls),
            "ok_share": 1.0 - self.failed / max(1, self.attempted),
            "state_bytes_per_page": median(sum(rep["state_bytes"].values()) / rep["pages"] for rep in reps),
            # the JVM is left out: under the engine's 8g limit its heap
            # grows on G1's timing, and its share read 1.7-3.1 GB in
            # identical runs; it is the layer metric memory.jvm_peak_mb
            "peak_rss_mb": python_peak / 2**20,
        }

    def per_layer(self, setup: dict, traced_reps: list, untraced_reps: list, replay: dict, events) -> tuple:
        from probes import union_length

        layer = {"session.start_s": setup["start_s"], "session.warm_s": setup["warm_s"], **replay,
                 "memory.jvm_peak_mb": self.loop_peak["jvm"] / 2**20}
        layer["extract.envelope_share"] = layer["extract.udf_pages_per_s"] / (nproc() * layer["extract.parse_one_pages_per_s"])
        l2 = events.summary("replay:L2:")
        for key in ("python_total_s", "python_bytes_sent", "python_bytes_received"):
            layer[f"extract.{key}"] = l2[key]
        layer.update({k: v for k, v in events.summary("main:").items() if k.startswith("spark.")})
        # both sides are the first rep after a set-up in a fresh JVM
        first_pps = [reps[0]["pages"] / reps[0]["wall"] for reps in (traced_reps, untraced_reps)]
        layer["trace.overhead_share"] = 1.0 - first_pps[0] / first_pps[1]

        reconcile = {"ok": True, "reps": []}
        rounds = [r for rep in traced_reps for r in rep.get("rounds", [])]
        for r in rounds:
            jobs = events.jobs_in(r["group"])
            r["jobs"] = len(jobs)
            r["tasks"] = len(events.tasks_in(r["group"]))
            r["jobs_union_s"] = union_length((j["start"], j["end"]) for j in jobs if j["end"] is not None)
            r["driver_gap_s"] = r["wall"] - r["jobs_union_s"]
            inside = union_length(((j["start"], j["end"]) for j in jobs if j["end"] is not None),
                                  r["start"] - 0.05, r["start"] + r["wall"] + 0.05)
            if r["jobs_union_s"] > 1.10 * r["wall"] or inside + 1e-3 < r["jobs_union_s"] * 0.9:
                reconcile["ok"] = False
        for rep in traced_reps:
            if self.crawl:
                ratio = rep["span_sum"] / rep["wall"]
                reconcile["reps"].append({"wall": rep["wall"], "span_sum": rep["span_sum"], "ratio": ratio})
                reconcile["ok"] &= abs(1.0 - ratio) <= 0.10
        if rounds:
            xs = [r["scheduled"] for r in rounds]
            ys = [r["wall"] for r in rounds]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            sxx = sum((x - mx) ** 2 for x in xs)
            slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
            last = traced_reps[-1]["state_bytes"]
            layer.update({
                "crawl.seed_s": median(rep["seed_s"] for rep in traced_reps),
                "crawl.rounds": median(len(rep["rounds"]) for rep in traced_reps),
                "crawl.round_overhead_s": my - slope * mx,
                "crawl.s_per_url": slope,
                "crawl.jobs_per_round": sum(r["jobs"] for r in rounds) / len(rounds),
                "crawl.tasks_per_round": sum(r["tasks"] for r in rounds) / len(rounds),
                "crawl.driver_gap_s": sum(r["driver_gap_s"] for r in rounds) / len(rounds),
                # what extract_pages alone (L2) would take for the pages
                # crawled, as a share of the crawl's wall
                "crawl.extract_share": median(rep["pages"] / layer["extract.udf_pages_per_s"] / rep["wall"]
                                              for rep in traced_reps),
                "crawl.bytes_written.records": last["records"],
                "crawl.bytes_written.seen": last["seen"],
                "crawl.bytes_written.frontier": last["frontier"],
            })
        for name in UNUSED.get(self.workload, ()):
            layer.setdefault(name, 0.0)
        reconcile["rounds"] = [{k: r[k] for k in ("group", "scheduled", "wall", "jobs", "tasks", "jobs_union_s", "driver_gap_s")} for r in rounds]
        reconcile["jobs_per_round_vs_docstring"] = {"measured": layer.get("crawl.jobs_per_round"), "run_round_docstring": 3}
        return layer, reconcile

    # ---------------------------------------------------------------- run
    def execute(self) -> dict:
        from probes import EventLog, RssSampler, cpu_calibration

        stamp = {
            "workload": self.workload, "seed": self.seed, "trace": int(self.trace), "nproc": nproc(),
            "calib_start_s": cpu_calibration(), "seconds": self.seconds, "pages": len(self.corpus.pages),
            "input_bytes": self.input_bytes, "input_gen_s": self.input_gen_s, "oracle_s": self.oracle_s,
            "budget": self.corpus.budget, "seeds": len(self.corpus.seeds),
        }
        side = {"stamp": stamp}
        with RssSampler() as rss:
            # one set-up, in a fresh JVM as a new program pays it, then
            # the measured loop in the same session.  In a traced run
            # this loop is the base of the tracing overhead
            setup = self.setup()
            setup_peak = rss.take()
            reps = self.loop("plain", keep_state=False)
            self.loop_peak = rss.take()
        stamp["rss_peak_mb"] = {"setup": {k: v / 2**20 for k, v in setup_peak.items()},
                                "loop": {k: v / 2**20 for k, v in self.loop_peak.items()}}
        if reps:
            side["end_to_end"] = self.end_to_end(setup, reps, self.loop_peak["python"])
        side.update(setup=setup, reps=reps)
        if self.trace and reps:
            with self.tracer.span("traced"):
                traced_setup = self.setup(traced=True)
                traced_reps = self.loop("main", keep_state=True)
                replay = self.replays(traced_reps)
            log = self.event_log()
            layer, reconcile = self.per_layer(traced_setup, traced_reps, reps, replay, EventLog(log))
            side.update(per_layer=layer, reconcile=reconcile, traced_reps=traced_reps,
                        traced_setup=traced_setup, self_times=self.tracer.self_times())
            if not reconcile["ok"]:
                self.failing.append("trace reconciliation outside 10%")
        import pyarrow
        import pyspark

        stamp.update(calib_end_s=cpu_calibration(), spark=pyspark.__version__, pyarrow=pyarrow.__version__,
                     python=sys.version.split()[0], attempted=self.attempted, failed=self.failed,
                     failing=self.failing[:20])
        return side

    def replays(self, traced_reps: list) -> dict:
        import layers

        spark = self.sess.spark
        out = layers.python_layers(self.corpus, seconds=0.2 if self.quick else 0.5)
        out.update(layers.spark_extract_layers(spark, self.pages, self.corpus, self.body_cols, self.sess.group))
        if self.crawl and traced_reps:
            out.update(layers.frontier_layers(spark, Path(traced_reps[-1]["state"]), self.corpus.budget, self.sess.group))
        self.sess.group(None)
        return out

    def event_log(self) -> Path:
        self.sess.stop_context()  # the log is complete once its context stops
        logs = [p for p in (self.work / "events").iterdir() if not p.name.endswith(".inprogress")]
        return max(logs, key=lambda p: p.stat().st_mtime)


# per-layer metrics kept only in the side file: derivable from the
# others or fixed by the workload's input, left out so the result line
# stays under 2,000 characters
SIDE_ONLY = {
    "crawl.rounds", "crawl.bytes_written.records", "crawl.bytes_written.seen", "crawl.bytes_written.frontier",
    "extract.python_bytes_received", "politeness.scheduled_share", "seen.bloom_pass_share",
    "spark.executor_run_s", "spark.shuffle_read_bytes", "spark.tasks",
}


def result_line(side: dict, trace: bool, ok: bool) -> str:
    units = {n: u for n, u in LAYER_UNITS.items() if n not in SIDE_ONLY} if trace else E2E_UNITS
    values = side.get("per_layer" if trace else "end_to_end", {})
    stamp = side["stamp"]
    return json.dumps({
        "correct": ok,
        "attempted": max(1, stamp["attempted"]),
        "failed": stamp["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items() if n in values},
    }, separators=(",", ":"))


def one(args, sess, work, size: str) -> tuple:
    from probes import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sess.tracer = tracer
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), size, sess, work, tracer)
    side = run.execute()
    OUT.mkdir(parents=True, exist_ok=True)
    if args.trace:
        tracer.write(OUT / f"{run_id}-spans.jsonl")
    (OUT / f"{run_id}.json").write_text(json.dumps(side, indent=1, default=str))
    ok = side["stamp"]["failed"] == 0 and not side["stamp"]["failing"] and "end_to_end" in side
    return side, ok


def smoke(sess, work) -> bool:
    """Every workload on tiny inputs, traced: outputs must be correct,
    every metric must reach the side file, non-zero unless the workload
    does not run its layer (``UNUSED``), and every metric BENCHMARK.json
    names must be on the result line with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok_all = True
    for workload in WORKLOADS:
        args = argparse.Namespace(workload=workload, seed=1, seconds=0.0, trace=1)
        side, ok = one(args, sess, work, "smoke")
        for trace, key, names in ((False, "end_to_end", E2E_UNITS), (True, "per_layer", LAYER_UNITS)):
            line = result_line(side, trace, ok)
            printed = json.loads(line)["metrics"]
            values = side.get(key, {})
            missing = [n for n in names if n not in values]
            # a layer that failed to compute must not pass as a zero
            missing += [f"{n}=0" for n in names
                        if values.get(n) == 0 and n not in UNUSED.get(workload, set()) | SMOKE_MAY_BE_ZERO]
            missing += [m["name"] for m in spec[key] if printed.get(m["name"], {}).get("unit") != m["unit"]]
            ok &= not missing and len(line) < 2000
            print(json.dumps({"smoke": workload, "trace": int(trace), "ok": ok, "missing": missing,
                              "line_chars": len(line), "failing": side["stamp"]["failing"][:5]}))
        ok_all &= ok
    return ok_all


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every workload, check metric names")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not (ROOT / "uniparser_spark" / "__init__.py").is_file():
        print(f"uniparser_spark package not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    prepare_env(work)
    from probes import Tracer

    sess = Session(work, Tracer("", enabled=False))
    try:
        if args.smoke:
            t0 = time.perf_counter()
            ok = smoke(sess, work)
            print(json.dumps({"smoke_ok": ok, "wall_s": time.perf_counter() - t0}))
            return 0 if ok else 1
        side, ok = one(args, sess, work, "full")
        print(json.dumps({"stamp": side["stamp"]}, default=str))
        print(result_line(side, bool(args.trace), ok))
        return 0 if ok else 1
    finally:
        sess.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
