"""Layered benchmark of the engine over two workloads.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 7 --trace 0

One process, one Spark session on ``local[<cpus>]``, one client: queries run
one at a time in a closed loop. After set-up (session, catalog, and an
untimed warm-up pass that also checks every result against
``perfbench/digests.json``), timed passes run the workload's query list in
an order drawn from ``--seed`` until ``--seconds`` have elapsed. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` mixes traced and untraced
passes and reports per-layer metrics, ``trace.overhead_s`` among them, and
writes the spans to ``--trace-out``. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

See ``perfbench/README.md`` for the workloads and what each metric predicts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path[0] == HERE:  # run as a script: import from the checkout root
    sys.path[0] = ROOT

from perfbench import procstat  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

# timed passes a run makes whatever --seconds is: two untraced, or one
# block of two traced and two untraced when tracing
MIN_PASSES = {0: 2, 1: 4}
RETAINED = "100000"  # status-store jobs/stages kept: far above any one call


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Layered engine benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=7.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-root",
                    help="directory holding the sf*/ test tables, read-only "
                         "(default: the parent of catalog.DEFAULT_SF_DIR)")
    ap.add_argument("--out", help="also write the full result JSON here")
    ap.add_argument("--trace-out",
                    help="spans file of a traced run (default: perfbench/_out/)")
    return ap.parse_args(argv)


def host_settings(work: str) -> dict[str, str]:
    """Environment that sizes Spark to this host and keeps every file it
    writes under ``work``. Must be applied before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of host RAM, at most 2g: the session default (24g) is
        # larger than small hosts, and sf0.1 needs far less. A heap the
        # workloads fill keeps the JVM's peak RSS from following GC timing.
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # streaming's temporary checkpoints use java.io.tmpdir; no
        # hsperfdata files in the system temp directory either
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def preflight(args: argparse.Namespace, w: Workload) -> str | None:
    """Why the benchmark cannot run here, or None. Resolves ``--data-root``;
    call it only once ``host_settings`` are in the environment, because
    importing the package reads them."""
    for rel in ("qa_data_pipeline_rag_llm_spark/__init__.py", "tests/conftest.py",
                "perfbench/digests.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel} under {ROOT}"
    if args.data_root is None:
        from qa_data_pipeline_rag_llm_spark.catalog import DEFAULT_SF_DIR

        args.data_root = os.path.dirname(DEFAULT_SF_DIR)
    sf_dir = os.path.join(args.data_root, w.sf)
    if not os.path.isdir(sf_dir):
        return f"missing test data directory {sf_dir}"
    return None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


class Bench:
    """One benchmark run: a session, a workload, its passes and failures."""

    def __init__(self, args: argparse.Namespace, w: Workload, work: str) -> None:
        self.args, self.w, self.work = args, w, work
        self.sf_dir = os.path.join(args.data_root, w.sf)
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.tracer = None
        self._tracing = True  # set-up is traced under --trace 1; passes toggle it
        self.calls: list = []  # Calls of the current pass

    # -- set-up ----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        from qa_data_pipeline_rag_llm_spark import catalog, session, sinks
        from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

        from perfbench.digest import load_expected

        self.registry = REGISTRY
        self.expected = load_expected()[self.w.sf]
        t0 = time.time()
        self.spark = session.get_spark(app_name="perfbench", extra_conf=spark_conf(self.work))
        t1 = time.time()
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
        if self.spark.sparkContext.master != master:  # sized before import?
            raise RuntimeError(f"session runs {self.spark.sparkContext.master}, not {master}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(sinks.make_vector_sink_datasource())
        if self.args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.record("session", t0, t1)
        with self._call("catalog") as c:
            catalog.enable_table_persist(self.w.persist)
            catalog.load_all(self.spark, self.sf_dir)
        out = {"session.start_s": t1 - t0, "catalog.load_s": c.wall_s}
        self._tracing = False
        t2 = time.time()
        self._warmup()
        self.warmup_s = time.time() - t2
        out["catalog.cached_mb"] = self._cached_mb()
        return out

    def _cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def _warmup(self) -> None:
        """Untimed pass in canonical order down the timed passes' code path;
        checks every noop result (written results are checked by verify)."""
        from perfbench.digest import digest, mismatch

        wdir = os.path.join(self.work, "out", "warmup")
        for q in self.w.queries:
            self.attempted += 1
            t = time.time()
            try:
                df = self.registry[q].spark(self.spark, self.sf_dir)
                if self.w.sink == "noop":
                    df.write.format("noop").mode("overwrite").save()
                    why = mismatch(self.expected[q], digest(df.toPandas()))
                    if why:
                        self.failures.append((q, f"warm-up result: {why}"))
                else:
                    self._write(q, df, wdir)
            except Exception as e:  # a failing query is a failed operation
                self.failures.append((q, _short(e)))
            print(f"warm-up {q} {time.time() - t:.2f} s", file=sys.stderr)
        shutil.rmtree(wdir, ignore_errors=True)

    # -- timed passes ----------------------------------------------------

    def _call(self, name: str, qid: str | None = None):
        if self.tracer is None or not self._tracing:
            return _Timed(name)
        return self.tracer.call(name, qid)

    def _write(self, q: str, df, pass_dir: str, qid: str | None = None) -> None:
        from qa_data_pipeline_rag_llm_spark import io as qio

        with self._call("io.write", qid) as c:
            qio.write_table(df, os.path.join(pass_dir, q))
        self.calls.append(c)
        if q in self.w.vector_sink:
            with self._call("sinks.vector", qid) as c:
                (df.write.format("qa_vector").mode("overwrite")
                 .option("path", os.path.join(pass_dir, q + ".qa_vector")).save())
            self.calls.append(c)

    def run_pass(self, k: int, order: list[str], traced: bool) -> dict:
        self._tracing = traced
        self.calls = []
        pass_dir = os.path.join(self.work, "out", f"pass{k}")
        tree = procstat.tree()
        cpu0 = procstat.cpu_seconds(tree)
        py0 = procstat.python_worker_cpu(tree)
        if traced:
            self.tracer.attach()
        samples = []
        t0 = time.perf_counter()
        for q in order:
            qid = f"p{k}:{q}"
            self.attempted += 1
            a = time.perf_counter()
            try:
                with self._call("plans.build", qid) as c:
                    df = self.registry[q].spark(self.spark, self.sf_dir)
                self.calls.append(c)
                with self._call("execute", qid) as c:
                    if self.w.sink == "noop":
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        self._write(q, df, pass_dir, qid)
                self.calls.append(c)
            except Exception as e:
                self.failures.append((q, _short(e)))
                continue
            samples.append((q, time.perf_counter() - a))
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.detach()
        tree = procstat.tree()
        res = {
            "traced": traced,
            "pass_s": wall,
            "samples": samples,
            "cpu_s": procstat.cpu_seconds(tree) - cpu0,
            "python_cpu_s": sum(v - py0.get(p, 0.0)
                                for p, v in procstat.python_worker_cpu(tree).items()),
            "rss_mb": procstat.peak_rss_mb(tree),
            "dir": pass_dir,
        }
        if traced:
            res["layers"] = layer_metrics(self.calls, res, pass_dir)
        return res

    def passes(self) -> list[dict]:
        rng = random.Random(self.args.seed)
        out: list[dict] = []
        t0 = time.perf_counter()
        # traced runs go in blocks of traced, untraced, untraced, traced, so
        # the passes' warm-up trend cancels out of trace.overhead_s
        kinds = (True, False, False, True) if self.args.trace else (False,)
        while True:
            traced = kinds[len(out) % len(kinds)]
            order = list(self.w.queries)
            rng.shuffle(order)
            out.append(self.run_pass(len(out), order, traced))
            if len(out) < MIN_PASSES[self.args.trace] or len(out) % len(kinds):
                continue
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        return out

    def verify(self, last: dict) -> None:
        """Untimed: read back the newest pass's written outputs."""
        if self.w.sink == "noop":
            return
        from qa_data_pipeline_rag_llm_spark.sinks import read_vector_manifest

        from perfbench.digest import digest, mismatch

        import pandas as pd

        for q in self.w.queries:
            path = os.path.join(last["dir"], q)
            try:
                got = digest(self.spark.read.parquet(path).toPandas())
                why = mismatch(self.expected[q], got)
                if why is None and q in self.w.vector_sink:
                    vpath = path + ".qa_vector"
                    rows = []
                    for f in read_vector_manifest(vpath)["files"]:
                        with open(os.path.join(vpath, f["file"])) as fh:
                            rows.extend(json.loads(line) for line in fh)
                    why = mismatch(self.expected[q], digest(pd.DataFrame(rows)))
                    why = why and f"qa_vector read-back: {why}"
                elif why:
                    why = f"parquet read-back: {why}"
            except Exception as e:
                why = _short(e)
            if why:
                self.failures.append((q, why))

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
        deadline = time.time() + 30
        while len(procstat.tree()) > 1 and time.time() < deadline:
            time.sleep(0.1)


class _Timed:
    """Untraced stand-in for a traced call: wall time only."""

    def __init__(self, name: str) -> None:
        self.name = name

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _short(e: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(e), e)).strip()[:300]


def layer_metrics(calls: list, res: dict, pass_dir: str) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    by = {}
    for c in calls:
        by.setdefault(c.name, []).append(c)
    build, execute = by.get("plans.build", []), by.get("execute", [])
    top = build + execute  # every job and stage of the pass, once
    stages = [s for c in top for s in c.stages if s["status"] != "SKIPPED"]
    triggers = [t for c in build for t in c.triggers]
    dur = lambda key: sum(t["duration_ms"].get(key, 0) for t in triggers)  # noqa: E731
    skew_stages = [s for s in stages if s["task_run_p50_s"] > 0]
    wall_by_q: dict[str, float] = {}
    for c in top:
        wall_by_q[c.qid] = wall_by_q.get(c.qid, 0.0) + c.wall_s
    trig_by_q: dict[str, float] = {}
    for c in build:
        for t in c.triggers:
            trig_by_q[c.qid] = trig_by_q.get(c.qid, 0.0) + t["duration_ms"].get("triggerExecution", 0) / 1e3
    files, out_bytes = 0, 0
    for dirpath, _, names in os.walk(pass_dir):
        for n in names:
            # data files, including the vector sink's staged files and
            # manifest; not Hadoop's checksums or _SUCCESS markers
            if not n.startswith(".") and n != "_SUCCESS":
                files += 1
                out_bytes += os.path.getsize(os.path.join(dirpath, n))
    m = {
        "plans.build_s": sum(c.wall_s for c in build),
        "plans.self_s": sum(c.self_s for c in build),
        "plans.eager_jobs": sum(len(c.jobs) for c in build),
        "execute.wall_s": sum(c.wall_s for c in execute),
        "execute.self_s": sum(c.self_s for c in execute),
        "spark.jobs": sum(len(c.jobs) for c in top),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "functions.python_cpu_s": res["python_cpu_s"],
        "io.write_s": sum(c.wall_s for c in by.get("io.write", [])),
        "io.files": files,
        "io.output_mb": out_bytes / 2**20,
        "sinks.vector_write_s": sum(c.wall_s for c in by.get("sinks.vector", [])),
        "streaming.triggers": len(triggers),
        "streaming.input_rows": sum(t["input_rows"] for t in triggers),
        "streaming.trigger_ms_p50": median(
            [t["duration_ms"].get("triggerExecution", 0) for t in triggers]
        ),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.lifecycle_s": sum(wall_by_q[q] - s for q, s in trig_by_q.items()),
        "spark.task_skew": (
            sum(s["task_run_max_s"] for s in skew_stages)
            / sum(s["task_run_p50_s"] for s in skew_stages)
            if skew_stages else 1.0
        ),
    }
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "input_mb"):
        m[f"spark.{key}"] = sum(s[key] for s in stages)
    return m


def end_to_end(setup_s: float, passes: list[dict]) -> tuple[dict, str]:
    samples = [x for p in passes for _, x in p["samples"]]
    m = {
        "setup_s": setup_s,
        "pass_s": median([p["pass_s"] for p in passes]),
        "query_tail_s": p90(samples),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        # the high-water mark after a fixed amount of work (set-up and the
        # floor's passes): it grows with every pass, and a faster program
        # fits more passes into --seconds
        "peak_rss_mb": passes[MIN_PASSES[0] - 1]["rss_mb"],
    }
    # the median per-query time is printed, not declared: on a shared
    # 4-core host its run-to-run spread is wider than any bound it could get
    note = (f"query_p50_s={median(samples):.4f} s; query_tail_s is p90 of "
            f"n={len(samples)} (query, pass) samples")
    return m, note


def per_layer(setup: dict, passes: list[dict]) -> tuple[dict, str]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    m = dict(setup)
    for key in traced[0]["layers"]:
        m[key] = median([p["layers"][key] for p in traced])
    jobs = [p["layers"]["spark.jobs"] for p in traced]
    m["spark.jobs_spread"] = max(jobs) - min(jobs)
    m["trace.overhead_s"] = (median([p["pass_s"] for p in traced])
                             - median([p["pass_s"] for p in plain]))
    note = f"spark.jobs per traced pass: {jobs}"
    return m, note


def unit(name: str) -> str:
    if name == "spark.task_skew":
        return "ratio"
    for part, u in (("_ms", "ms"), ("_mb", "MiB")):
        if part in name:
            return u
    return "s" if name.endswith("_s") else "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{w.name}-", dir=os.path.join(HERE, "_work"))
    settings = host_settings(work)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(settings)
    why = preflight(args, w)
    if why:
        shutil.rmtree(work)
        print(f"perfbench: cannot run: {why}", file=sys.stderr)
        return 2
    bench = Bench(args, w, work)
    try:
        setup = bench.setup()
        setup_s = procstat.seconds_since_start()
        passes = bench.passes()
        bench.verify(passes[-1])
        if args.trace:
            metrics, note = per_layer(setup, passes)
            trace_out = args.trace_out or os.path.join(
                HERE, "_out", f"trace_{w.name}_seed{args.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(trace_out)), exist_ok=True)
            bench.tracer.dump(trace_out)
            note += f"; spans written to {trace_out}"
        else:
            metrics, note = end_to_end(setup_s, passes)
    finally:
        with contextlib.suppress(Exception):
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    failed = len(bench.failures)
    result = {
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    for q, err in bench.failures:
        print(f"FAILED {q}: {err}")
    print(f"workload={w.name} sf={w.sf} seed={args.seed} passes={len(passes)} "
          f"error_rate={failed / bench.attempted:.4f} {note}")
    print(f"setup: session {setup['session.start_s']:.2f} s, catalog "
          f"{setup['catalog.load_s']:.2f} s, warm-up {bench.warmup_s:.2f} s")
    settings |= {k: v for k, v in spark_conf(work).items() if "retained" in k}
    settings["master"] = f"local[{settings['SPARK_GRAFT_CPUS']}]"
    print("settings " + json.dumps(settings))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result | {"passes": passes, "failures": bench.failures,
                                "settings": settings}, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
