#!/usr/bin/env python3
"""Service-level benchmark of the engine: ingest and query workloads.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload ingest_vector --seed 1 \\
        --seconds 10 --trace 0

Workloads (closed loop, one client, Spark ``local[<nproc>]``):

* ``ingest_vector``: one long-lived ``IngestService``; each request
  spools one message for a fresh upload path (a seed-generated
  two-layer GeoPackage in EPSG:32633) and calls
  ``run_available_now()``.
* ``query_mix``: a fixed list of registry queries over seed-generated
  tables; each op is ``spec.fn(spark, dir).count()`` and each request
  is one whole pass over the list, so every run times the same
  multiset of queries.

Set-up (session start, input generation, warm-up and the correctness
baseline) is timed as ``setup_s``; then requests run for
``--seconds`` (the last one started finishes); then every timed op is
checked.  The last stdout line is one JSON object: ``correct``,
``attempted`` and ``failed`` (checked ops) and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
Diagnostics (CPU count, hypervisor steal, load, a fixed CPU loop's
wall, every op's wall) go to stderr.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "geohub_data_pipeline_spark"
WORKLOADS = ("ingest_vector", "query_mix")
# Spans the four plan families and the iterative operators (graph
# fixpoints, connected components, k-means).  Every query here is
# oracle-paired.  The list is sized so set-up (a cold pass checked
# against DuckDB, then a warm pass) and one timed pass fit a run.
QUERY_MIX = [
    "q1_pricing_summary", "join_multiway_broadcast", "window_rank",
    "topk_per_group", "subquery_above_avg", "dedup_exact_keep_first",
    "lateral_explode_top_words", "events_sessionization",
    "asof_join_events", "tile_aggregation", "spatial_join_intersects",
    "graph_bfs_hops", "graph_pagerank", "graph_sssp_weighted",
    "graph_kcore", "dedup_cluster_canonical", "ann_ivf_kmeans",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FEATURES_PER_LAYER = 300
WARM_MESSAGES = 2       # message 1 is cold; walls then fall ~3%/message
WARM_PASSES = 2         # pass 1 also checks every query against DuckDB

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "streaming.service.self_s": "s",
    "streaming.service.jobs": "count",
    "processing.convert_s": "s",
    "processing.probe_s": "s",
    "sources.read_s": "s",
    "operators.geometry.normalize_s": "s",
    "operators.geometry.audit_s": "s",
    "sources.flatgeobuf.write_s": "s",
    "sources.flatgeobuf.bytes_out": "B",
    "operators.tiling.tiles": "count",
    "operators.pmtiles.write_s": "s",
    "operators.pmtiles.bytes_out": "B",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "plans.relational.op_s": "s",
    "plans.llm.op_s": "s",
    "plans.pipeline.op_s": "s",
    "plans.temporal.op_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    "python.worker_start_s": "s",
    "python.worker_run_s": "s",
    "trace.ops_per_s": "1/s",
}


class SetupError(RuntimeError):
    """Set-up could not produce a working, verified baseline."""


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(root: str, work: str, marker: str) -> None:
    """Everything the run writes stays under ``work``; Spark sizes to
    this machine; Spark's Python processes can import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PERFBENCH_RUN"] = marker
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # Spark's streaming Python data-source runner is not a task and
    # never receives addPyFile: without the checkout on its path the
    # ingest queue source fails to import the engine.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "pyspark-shell")
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if root not in sys.path:
        sys.path.insert(0, root)


def _own_processes(marker: str) -> list[int]:
    """PIDs other than this one whose environment carries the run
    marker, i.e. every process this run started (Spark's JVM, its
    Python workers and data-source runners)."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def _stop_everything(spark, marker: str) -> None:
    """Stop Spark and wait for every process the run started; kill
    what is still alive after 20 s."""
    import subprocess

    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:      # clean-up must go on regardless
            _log(f"spark.stop failed: {exc}")
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as exc:  # a broken gateway: kill below
                _log(f"gateway shutdown failed: {exc}")
        if proc is not None:
            proc.stdin.close()        # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while True:
        left = _own_processes(marker)
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.5)
            for pid in left:
                try:
                    os.waitpid(pid, 0)
                except OSError:
                    pass
            return
        time.sleep(0.2)


class IngestVector:
    """One ``IngestService`` for the whole run; one message per op."""

    batch = 1               # ops per request

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from geohub_data_pipeline_spark.streaming.service import (
            IngestService,
        )

        import inputs

        self.tracer = tracer
        base = os.path.join(work, "ingest")
        self.raw = os.path.join(base, "userdata", "bench", "raw")
        self.out = os.path.join(base, "out")
        os.makedirs(self.raw)
        self.src = os.path.join(self.raw, "upload.gpkg")
        self.layers = inputs.write_upload_gpkg(self.src, seed,
                                               FEATURES_PER_LAYER)
        self.svc = IngestService(
            spark=spark,
            messages_dir=os.path.join(base, "msgs"),
            ledger_dir=os.path.join(base, "ledger"),
            checkpoint_dir=os.path.join(base, "ckpt"),
            output_dir=self.out)
        os.makedirs(self.svc.messages_dir)
        self.urls: list[str] = []
        self.expected_artifacts: int | None = None
        if tracer is not None:
            self._wrap(tracer)

    def _wrap(self, tracer) -> None:
        from geohub_data_pipeline_spark import processing
        from geohub_data_pipeline_spark.operators import geometry, pmtiles
        from geohub_data_pipeline_spark.sources import flatgeobuf

        tracer.wrap(processing, "process_geo_file", "processing.convert")
        tracer.wrap(processing, "read_vector_features", "sources.read_s",
                    python_node=True)
        tracer.wrap(processing, "probe_vector_chunks", "processing.probe")
        tracer.wrap(geometry, "normalize_features",
                    "operators.geometry.normalize_s", python_node=True)
        tracer.wrap(geometry, "feature_count_audit",
                    "operators.geometry.audit")
        tracer.wrap(flatgeobuf, "write_flatgeobuf_tables",
                    "sources.flatgeobuf.write")
        tracer.wrap(pmtiles, "write_pmtiles_tables",
                    "operators.pmtiles.write")

    def warm_up(self) -> None:
        for _ in range(WARM_MESSAGES):
            problems = self.check([self.op()])
            if problems:
                raise SetupError("; ".join(problems))

    def group(self, i: int) -> None:
        return None         # the service sets its own per message

    def op(self) -> int:
        i = len(self.urls)
        path = os.path.join(self.raw, f"upload_{i:05d}.gpkg")
        os.link(self.src, path)        # own path, same bytes
        url = f"file://{path}"
        self.urls.append(url)
        msg = {"msg_id": i, "body": f"{url};tok;join_vector_tiles=false",
               "enqueued_ts": "2024-01-01T00:00:00"}
        with open(os.path.join(self.svc.messages_dir,
                               f"m{i:06d}.json"), "w") as f:
            f.write(json.dumps(msg) + "\n")
        self.svc.run_available_now()
        return i

    def layers_of(self, counters, rec, i, m0, m1) -> dict:
        """Layers of timed op ``rec["op"]``, which was message ``i``
        (the warm-up messages come first, so the two differ)."""
        k = rec["op"]
        spans = self.tracer.op_totals(k)
        conv_jobs = counters.group_jobs(
            f"ingest:{_chop_url(self.urls[i])}#{i}")
        out = counters.stage_totals(conv_jobs)
        out.update(counters.python_nodes(m0, m1, self.tracer.node_keys))
        # the conversion runs on the service's helper thread; its span
        # is the op span's only child, so self time = wall - conversion
        out["streaming.service.self_s"] = self.tracer.self_time(rec)
        out["streaming.service.jobs"] = float(m1[0] - m0[0] - len(conv_jobs))
        for span in ("processing.convert", "processing.probe",
                     "operators.geometry.audit", "sources.flatgeobuf.write",
                     "operators.pmtiles.write"):
            out[span + "_s"] = spans.get(span, 0.0)
        res = self.tracer.returns.get(k, {}).get("processing.convert", {})
        arts = res.get("artifacts", [])
        out["sources.flatgeobuf.bytes_out"] = float(sum(
            os.path.getsize(a) for a in arts if a.endswith(".fgb")))
        out["operators.pmtiles.bytes_out"] = float(sum(
            os.path.getsize(a) for a in arts if a.endswith(".pmtiles")))
        out["operators.tiling.tiles"] = float(sum(
            a["n_tiles"] for a in res.get("audits", {}).get("archives", [])))
        return out

    def check(self, ops: list[int]) -> list[str]:
        """One problem per failed message; then the artifacts go."""
        by_ds: dict[str, list] = {}
        for r in self.svc.ledger().collect():
            by_ds.setdefault(r.dataset, []).append(r)
        problems = []
        for i in ops:
            why = self._problem(by_ds.get(_chop_url(self.urls[i]), []))
            if why:
                problems.append(f"message {i}: {why}")
        shutil.rmtree(self.out, ignore_errors=True)
        for i in ops:
            os.unlink(self.urls[i][len("file://"):])
        return problems

    def _problem(self, rows) -> str | None:
        """The ledger row is ``processed`` at 100 with no error row,
        every artifact exists, the feature-count audit is ok for both
        layers at their generated sizes, and the artifact count equals
        the first warm message's."""
        errors = [r.content for r in rows if r.kind == "error"]
        if errors:
            return f"error row: {errors[0]}"
        done = [r for r in rows if r.kind == "progress"
                and r.stage == "processed" and r.progress == 100]
        if len(done) != 1:
            return "no processed@100 row"
        arts = [r.content for r in rows if r.kind == "artifact"]
        missing = [a for a in arts if not os.path.exists(a)]
        if missing:
            return f"missing artifact {missing[0]}"
        if self.expected_artifacts is None:
            self.expected_artifacts = len(arts)
        if len(arts) != self.expected_artifacts or not arts:
            return (f"{len(arts)} artifacts, expected "
                    f"{self.expected_artifacts}")
        audits = json.loads(done[0].content)["feature_counts"]
        if {a["layer"] for a in audits} != set(self.layers):
            return "feature-count audit misses a layer"
        bad = [a for a in audits if a["status"] != "ok"
               or a["converted"] != self.layers[a["layer"]]]
        if bad:
            return f"feature-count audit {bad[0]}"
        return None


def _chop_url(url: str) -> str:
    """The ledger's dataset key for an upload URL, as the service
    derives it."""
    from geohub_data_pipeline_spark.streaming.service import _chop_url

    return _chop_url(url)


class QueryMix:
    """Registry queries over seed-generated tables; one query per op,
    one whole pass over the list per request."""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        import duckdb
        from geohub_data_pipeline_spark.plans import all_queries

        import inputs

        self.spark, self.tracer = spark, tracer
        self.dir = os.path.join(work, "tables")
        inputs.write_tables(self.dir, seed)
        specs = all_queries()
        self.specs = [(name, specs[name]) for name in QUERY_MIX]
        self.batch = len(self.specs)
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(self.dir, t + '.parquet')}'")
        self.expected: dict[str, int] = {}
        self.oracle_problems: list[str] = []
        self.n_ops = 0
        self.current: str | None = None         # the query running
        self.legs: dict[str, set[str]] = {}     # query -> gated legs
        if tracer is not None:
            self._record_legs()

    def _record_legs(self) -> None:
        """Note which leg each gated iterative operator (graph
        fixpoints, connected components) takes in each query: the
        in-task one when its materialized input is one partition."""
        from geohub_data_pipeline_spark.operators import dedup, graph

        for mod in (graph, dedup):
            def gate(df, _fits=mod._fits_one_task):
                one = _fits(df)
                self.legs.setdefault(self.current, set()).add(
                    "in-task" if one else "distributed")
                return one
            mod._fits_one_task = gate

    def warm_up(self) -> None:
        """Pass 1 compares every query's rows with DuckDB and keeps the
        verified row count as the per-op check; later passes warm."""
        from geohub_data_pipeline_spark.testing import compare_frames

        for name, spec in self.specs:
            self.current = name
            got = spec.fn(self.spark, self.dir).toPandas()
            want = self.con.execute(spec.sql).df()
            diff = compare_frames(got, want)
            if diff:
                self.oracle_problems.append(f"{name}: oracle: {diff}")
            self.expected[name] = len(want)
        if len(self.oracle_problems) == len(self.specs):
            raise SetupError("every query failed its oracle check: "
                             + self.oracle_problems[0])
        for _ in range((WARM_PASSES - 1) * self.batch):
            self.op()

    def group(self, k: int) -> str:
        return f"bench:{k}"

    def op(self) -> tuple[str, int]:
        """The next query; returns (name, row count)."""
        name, spec = self.specs[self.n_ops % self.batch]
        self.n_ops += 1
        self.current = name
        span = self.tracer.span if self.tracer else _no_span
        with span("plans.build"):
            df = spec.fn(self.spark, self.dir)
        with span("plans.execute"):
            return name, df.count()

    def layers_of(self, counters, rec, result, m0, m1) -> dict:
        spans = self.tracer.op_totals(rec["op"])
        out = counters.stage_totals(
            counters.group_jobs(self.group(rec["op"])))
        out.update(counters.python_nodes(m0, m1, {}))
        out["plans.build_s"] = spans.get("plans.build", 0.0)
        out["plans.execute_s"] = spans.get("plans.execute", 0.0)
        spec = dict(self.specs)[result[0]]
        family = spec.fn.__module__.rsplit(".", 1)[-1]
        out[f"plans.{family}.op_s"] = rec["end"] - rec["start"]
        return out

    def check(self, results: list[tuple[str, int]]) -> list[str]:
        return [f"{name}: count {n}, oracle {self.expected[name]}"
                for name, n in results if n != self.expected[name]]


@contextlib.contextmanager
def _no_span(name: str):
    yield


class Stamp:
    """Run diagnostics over the timed window: hypervisor steal share
    (``/proc/stat``, as ``bench.py:_read_steal``), load1, and the wall
    of a fixed pure-Python loop at both ends of the window."""

    def __init__(self) -> None:
        from bench import _read_steal

        self.read_steal = _read_steal
        self.cpu_ref_s = [_cpu_ref()]
        self.steal0 = _read_steal()

    def end(self) -> dict:
        s0, s1 = self.steal0, self.read_steal()
        self.cpu_ref_s.append(_cpu_ref())
        return {"nproc": _cpus(),
                "steal_frac": ((s1[0] - s0[0]) / (s1[1] - s0[1])
                               if s0 and s1 and s1[1] > s0[1] else None),
                "load1": os.getloadavg()[0],
                "cpu_ref_s": [round(x, 4) for x in self.cpu_ref_s]}


def _cpu_ref() -> float:
    t = time.perf_counter()
    s = 0
    for i in range(600_000):
        s += i * i
    return time.perf_counter() - t


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run_workload(wl, seconds: float, tracer, counters) -> dict:
    """Warm up, then start requests (``wl.batch`` ops each) until
    ``seconds`` have passed, then check every timed op."""
    wl.warm_up()
    setup_s = time.perf_counter() - _T0
    stamp = Stamp()
    walls, results, per_op = [], [], []
    w0 = time.perf_counter()
    while time.perf_counter() - w0 < seconds:
        for _ in range(wl.batch):
            k = len(walls)
            if tracer is None:
                t = time.perf_counter()
                results.append(wl.op())
                walls.append(time.perf_counter() - t)
                continue
            group = wl.group(k)
            m0 = counters.mark()
            if group:
                counters.sc.setJobGroup(group, group)
            try:
                with tracer.op_span(k, group or "op") as rec:
                    results.append(wl.op())
            finally:
                if group:
                    counters.sc.setJobGroup("", "")
            walls.append(rec["end"] - rec["start"])
            per_op.append({**wl.layers_of(counters, rec, results[-1],
                                          m0, counters.mark()),
                           "_wall": walls[-1]})
    window = time.perf_counter() - w0
    info = stamp.end()
    problems = wl.check(results)
    return {"setup_s": setup_s, "walls": walls, "window": window,
            "batch": wl.batch,
            "failed": len(problems),
            "problems": getattr(wl, "oracle_problems", []) + problems,
            "legs": {q: sorted(v) for q, v in
                     getattr(wl, "legs", {}).items()},
            "per_op": per_op, "stamp": info}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a caller's timeout (SIGTERM) should still stop Spark: run the finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        _log(f"no {PKG}/ package under {root}: run from the root of a "
             "checkout of the repository")
        return 2
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    marker = uuid.uuid4().hex
    _prepare_env(root, work, marker)
    sys.path.insert(0, HERE)

    spark = None
    try:
        import bench  # noqa: F401  (Stamp's /proc/stat reader)
        import spans
        from geohub_data_pipeline_spark.session import get_session

        t = time.perf_counter()
        spark = get_session(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tracer = spans.Tracer() if args.trace else None
        counters = spans.SparkCounters(spark) if args.trace else None
        kind = IngestVector if args.workload == "ingest_vector" \
            else QueryMix
        run = run_workload(kind(spark, work, args.seed, tracer),
                           args.seconds, tracer, counters)
    except SetupError as exc:
        _log(f"set-up failed: {exc}")
        return 1
    finally:
        _stop_everything(spark, marker)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    walls = run["walls"]
    # a request is one batch of ops: one message, or one whole pass
    # over the query list (a single query is not one mode: the mix's
    # median would jump between neighbouring queries)
    requests = [sum(walls[i:i + run["batch"]])
                for i in range(0, len(walls), run["batch"])]
    for p in run["problems"]:
        _log(f"FAILED {p}")
    _log(json.dumps({"stamp": {
        "workload": args.workload, "seed": args.seed, **run["stamp"],
        "timed_wall_s": round(run["window"], 3),
        **({"legs": run["legs"]} if run["legs"] else {}),
        "op_walls_s": [round(w, 4) for w in walls]}}))
    if args.trace:
        metrics = _layer_metrics(run["per_op"], session_s,
                                 len(requests) / run["window"])
        units = PER_LAYER
    else:
        metrics = {"setup_s": run["setup_s"],
                   "op_p50_s": _median(requests),
                   "ops_per_s": len(requests) / run["window"]}
        units = END_TO_END
    print(json.dumps({
        "correct": not run["problems"], "attempted": len(walls),
        "failed": run["failed"],
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()}}))
    return 0


def _layer_metrics(per_op: list[dict], session_s: float,
                   traced_ops_per_s: float) -> dict:
    """Wall times of spans: the per-op median (a plans family's median
    is over its own ops).  Spark and Python counters are additive
    resource totals (counts, bytes, task seconds): the per-op mean,
    i.e. the window's total over its ops."""
    out = {"session.start_s": session_s,
           "trace.ops_per_s": traced_ops_per_s}
    for k in {k for d in per_op for k in d if not k.startswith("_")}:
        vals = [d[k] for d in per_op if k in d]
        additive = k.startswith(("spark.", "python.")) or \
            k.endswith(("jobs", "bytes_out", "tiles"))
        out[k] = statistics.fmean(vals) if additive else _median(vals)
    run_s = sum(d["spark.executor_run_s"] for d in per_op)
    wall = sum(d["_wall"] for d in per_op)
    out["spark.busy_ratio"] = run_s / (wall * _cpus()) if wall else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
