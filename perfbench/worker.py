"""One benchmark process.

``run.py`` starts this in a fresh process with its own empty temp
directory.  It imports the query registry, builds the session with
``session.get_spark`` and prints ``PERFBENCH_READY``; the parent times
process start to that line as one set-up sample.  In ``setup`` mode
that is all.  In ``run`` mode it runs the workload once (the cold pass)
and then repeats it, query after query, until ``seconds`` have passed
(the warm passes), one client in a closed loop.  Each query's result
is hashed outside the timer for the parent to check against the
goldens.  With ``trace`` set, it also records the layer spans and
Spark's counters (see ``layers.py``).

Usage: python3 perfbench/worker.py SPEC.json
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import platform
import resource
import sys
import threading
import time
from contextlib import nullcontext
from pathlib import Path

import layers

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

READY = "PERFBENCH_READY"
DONE = "PERFBENCH_DONE"
JVM_GC_EVERY = 4  # as bench.py: ask the JVM for a GC every 4 queries


class TimeLimit:
    """Cancel a query that runs past its limit: cancel every Spark job
    and stop every active streaming query, so the blocked call returns."""

    def __init__(self, spark, seconds: float) -> None:
        self.spark = spark
        self.seconds = seconds
        self.fired = False
        self._timer: threading.Timer | None = None

    def _fire(self) -> None:
        self.fired = True
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def __enter__(self) -> TimeLimit:
        self._timer = threading.Timer(self.seconds, self._fire)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()
        self._timer.join()


def _peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this Python driver's max RSS, in MiB."""
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


class Runner:
    def __init__(self, spec: dict, spark, queries, tracer) -> None:
        import bench
        from tools.verify_local import frame_hash

        self.spec = spec
        self.spark = spark
        self.queries = queries
        self.tracer = tracer
        self.unbounded = bench.UNBOUNDED
        self.frame_hash = frame_hash
        self.frames = spec.get("frames_dir")
        self.seen_stages: set = set()
        self.seen_execs: set = set()
        self.hashes: dict = {}  # (query, row digest) -> frame_hash
        self.n_invoked = 0
        self.jvm_gc = spark.sparkContext._jvm.System.gc

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def invoke(self, name: str, pass_no: int) -> dict:
        spark, sc = self.spark, self.spark.sparkContext
        rec: dict = {"query": name, "pass": pass_no}
        if self.tracer:
            self.tracer.invocation += 1
            rec["invocation"] = self.tracer.invocation
        phase, df, out = "plan", None, None
        t0 = time.perf_counter()
        with TimeLimit(spark, self.spec["limit_s"]) as limit:
            try:
                with self._span("plans", name):
                    df = self.queries[name](spark, self.spec["data_dir"])
                if self.tracer:
                    phase = "catalyst"
                    with self._span("catalyst", "executedPlan"):
                        df._jdf.queryExecution().executedPlan()
                phase = "action"
                with self._span("action", name):
                    out = df.count() if name in self.unbounded else df.collect()
            except Exception as exc:  # a failed query must not end the run
                rec["error"] = f"{phase}: {exc!r}"[:400]
        rec["wall_s"] = time.perf_counter() - t0
        if limit.fired:
            rec["error"] = (
                f"{phase}: time limit of {self.spec['limit_s']} s hit; "
                "jobs cancelled and streams stopped"
            )
        if self.tracer:
            rec["layers"] = self._layer_record(rec["invocation"], rec["wall_s"])
        if "error" not in rec:
            try:
                self._check(name, df, out, rec, pass_no)
            except Exception as exc:  # reported as a failed check
                rec["error"] = f"check: {exc!r}"[:400]
        if self.tracer:  # the check's own jobs belong to no query
            layers.wait_listener_bus(sc)
            layers.read_new_stages(sc, self.seen_stages)
            layers.read_new_python_metrics(spark, self.seen_execs)
        del df, out
        gc.collect()
        self.n_invoked += 1
        if self.n_invoked % JVM_GC_EVERY == 0:
            self.jvm_gc()
        return rec

    def _check(self, name, df, out, rec, pass_no) -> None:
        """Rows and ``frame_hash`` of a result.  A result whose rows equal
        one already hashed in this process reuses that hash, which spares
        the warm passes Spark's ``toPandas`` conversion."""
        if name in self.unbounded:
            rec["rows"] = out
            if self.frames and pass_no == 0:
                df.toPandas().to_pickle(os.path.join(self.frames, f"{name}.pkl"))
            return
        rec["rows"] = len(out)
        rows = "\n".join(sorted(map(repr, out)))
        key = (name, hashlib.sha256(rows.encode()).hexdigest())
        if key not in self.hashes:
            pdf = self.spark.createDataFrame(out, df.schema).toPandas()
            self.hashes[key] = self.frame_hash(pdf)
            if self.frames and pass_no == 0:
                pdf.to_pickle(os.path.join(self.frames, f"{name}.pkl"))
        rec["hash"] = self.hashes[key]

    def _layer_record(self, invocation: int, wall: float) -> dict:
        spark, sc = self.spark, self.spark.sparkContext
        rec: dict = {"readers": {}}  # the readers that fell back, and why
        for label, got in (
            ("listener_bus", layers.wait_listener_bus(sc)),
            ("stages", layers.read_new_stages(sc, self.seen_stages)),
            ("python", layers.read_new_python_metrics(spark, self.seen_execs)),
            ("storage", layers.read_cached_mb(sc)),
        ):
            if not got.pop("available"):
                rec["readers"][label] = got
            else:
                rec.update(got)
        if "stages.busy_s" in rec:
            rec["driver.only_s"] = max(0.0, wall - rec["stages.busy_s"])
        rec.update(self.tracer.counts.get(invocation, {}))
        rec["self_s"] = self.tracer.layer_self_times(invocation)
        return rec


def main(spec_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    t0 = time.perf_counter()
    from another_map_reduce_spark.queries import ORACLES, QUERIES

    t1 = time.perf_counter()
    from another_map_reduce_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{spec['cpus']}]"
    )
    t2 = time.perf_counter()
    print(READY, flush=True)
    record: dict = {"queries.import_s": t1 - t0, "session.get_spark_s": t2 - t1}
    if spec["mode"] == "setup":
        return

    tracer = None
    if spec["trace"]:
        tracer = layers.Tracer()
        record["wrapped_functions"] = layers.install_layer_spans(tracer)
        spark.streams.addListener(layers.progress_listener(tracer))
    names = spec["queries"]
    runner = Runner(spec, spark, QUERIES, tracer)
    if tracer:  # the set-up's own jobs belong to no query
        layers.wait_listener_bus(spark.sparkContext)
        layers.read_new_stages(spark.sparkContext, runner.seen_stages)
        layers.read_new_python_metrics(spark, runner.seen_execs)

    invocations = [runner.invoke(n, 0) for n in names]
    deadline = time.perf_counter() + spec["seconds"]
    pass_no, i = 1, 0
    while i < len(names) or time.perf_counter() < deadline:
        invocations.append(runner.invoke(names[i % len(names)], pass_no))
        i += 1
        if i % len(names) == 0:
            pass_no += 1
    record.update(
        invocations=invocations,
        peak_rss_mb=_peak_rss_mb(spark),
        oracle_sha={
            n: hashlib.sha256(ORACLES[n].encode()).hexdigest()[:16]
            for n in names if n in ORACLES
        },
        versions={
            "python": platform.python_version(),
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        },
    )
    if tracer:
        record["spans"] = [
            [s.layer, s.name, s.start, s.end, s.parent, s.invocation]
            for s in tracer.spans
        ]
    Path(spec["out"]).write_text(json.dumps(record))
    # The parent ends this process group (JVM included) on this line.
    print(DONE, flush=True)


if __name__ == "__main__":
    main(sys.argv[1])
