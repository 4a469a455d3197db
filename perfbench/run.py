"""The repository's benchmark: one command, named workloads, checked results.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Load is one process and one client in a closed loop: each query is
issued after the previous one returns, on ``local[n]`` with n = the
host's CPU count, over sf0.1-sized tables.  The timed action is
``bench.py``'s: ``count()`` for its ``UNBOUNDED`` queries, ``collect()``
for the rest.

A run is a fresh measured process (``worker.py``) with its own empty
temp directory: set-up, one cold pass, then warm passes for
``--seconds``.  One more fresh process only sets up, so ``setup_s``
is the median of two set-ups.  Every result is checked outside the timer
against goldens that ``golden.py`` confirmed with the DuckDB oracles.

``--seed N`` draws the tables with ``gen.py``; without it the shipped
sf0.1 tables in ``$SPARK_GRAFT_SF_DIR`` are used.  Draws, goldens and
run records are kept under ``.perfbench/`` in the checkout; drawing and
confirming are never timed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones from a traced run.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
REQUIRED = (
    "another_map_reduce_spark/queries.py",
    "another_map_reduce_spark/session.py",
    "bench.py",
    "tools/make_sf1.py",
    "tools/verify_local.py",
)
SHIPPED = os.environ.get("SPARK_GRAFT_SF_DIR")

# Each workload is a fixed list of registered queries, run in this order.
WORKLOADS: dict[str, list[str]] = {
    # The paper's scan-tokenize-shuffle-reduce job in four of its Spark
    # forms: JVM word_count, the RDD map_reduce job, pandas and a UDTF.
    # Executor stages, shuffle and the Python worker boundary do the
    # work; no fixpoint loop and no streaming.
    "mapreduce_wordcount": [
        "wordcount", "mr_wordcount", "pandas_wordcount", "udtf_wordcount",
    ],
    # Driver-side loops: a BFS fixpoint (per-round planning,
    # localCheckpoint, convergence probe) and a micro-batch drain of a
    # streaming dedup over the state store.  No Python worker work.
    "fixpoint_streaming": ["graph_bfs_hops", "stream_dedup_counts"],
}

# Two set-ups a run: each costs a JVM start (~7 s), and a whole run is
# budgeted at about a minute.
SETUP_SAMPLES = 2
QUERY_LIMIT_S = 40  # per query; the slowest here takes ~10 s cold
RUN_LIMIT_S = 170  # whole run, so the command ends within 180 s
KEEP_DRAWS = 6  # seeded draws kept in the cache, newest first


class BenchError(RuntimeError):
    pass


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a worker's process group (its JVM and
    Python workers) and wait until every member has ended."""
    _kill_group(proc)
    proc.wait()
    for _ in range(1000):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        try:  # reap the orphans adopted as their subreaper
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.01)


def _adopt_orphans() -> None:
    """Become the subreaper of our descendants, so the JVM of a killed
    worker is reaped here at once rather than whenever init gets to it."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.deadline = time.monotonic() + RUN_LIMIT_S
        self.dir = WORK / "runs" / uuid.uuid4().hex[:12]
        self.dir.mkdir(parents=True)
        self.cpus = len(os.sched_getaffinity(0))

    def remaining(self) -> float:
        left = self.deadline - time.monotonic()
        if left <= 0:
            raise BenchError(f"run exceeded {RUN_LIMIT_S} s")
        return left

    def python(self, *argv: str, log: str) -> None:
        """A helper process (draw, goldens) with a time limit."""
        with open(self.dir / log, "w") as err:
            proc = subprocess.Popen(
                [sys.executable, *argv], stdout=err, stderr=err,
                cwd=self.dir, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=self.remaining())
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc)
        if code != 0:
            raise BenchError(f"{argv[0]} failed; see its log:\n{self._tail(log)}")

    def _tail(self, log: str) -> str:
        lines = (self.dir / log).read_text(errors="replace").splitlines()
        return "\n".join(lines[-25:])

    def data_dir(self) -> tuple[str, str]:
        seed = self.args.seed
        if seed is None:
            if not SHIPPED:
                raise BenchError("pass --seed, or set SPARK_GRAFT_SF_DIR to the shipped tables")
            return SHIPPED, "shipped"
        key = f"seed-{seed}"
        out = WORK / "data" / key
        if not out.exists():
            _log(f"drawing tables for seed {seed}")
            out.parent.mkdir(parents=True, exist_ok=True)
            self.python(str(HERE / "gen.py"), str(out), str(seed), log="gen.log")
            draws = sorted(out.parent.glob("seed-*"),
                           key=lambda p: p.stat().st_mtime, reverse=True)
            for old in draws[KEEP_DRAWS:]:
                shutil.rmtree(old, ignore_errors=True)
        out.touch()
        return str(out), key

    def worker(self, spec: dict, tag: str) -> tuple[float, dict]:
        """Start worker.py fresh; return (process start to ready, record).

        The worker's process group, its JVM included, is killed as soon
        as the worker reports what it was started for."""
        tmp = self.dir / f"tmp-{tag}"
        tmp.mkdir()
        out = self.dir / f"{tag}.json"
        spec = {**spec, "cpus": self.cpus, "out": str(out)}
        spec_path = self.dir / f"{tag}.spec.json"
        spec_path.write_text(json.dumps(spec))
        env = {
            **os.environ,
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONUNBUFFERED": "1",
        }
        last = "PERFBENCH_READY" if spec["mode"] == "setup" else "PERFBENCH_DONE"
        seen: dict[str, float] = {}
        timer = threading.Timer(self.remaining(), _kill_group, (None,))
        with open(self.dir / f"{tag}.log", "w") as err:
            t0 = time.perf_counter()
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), str(spec_path)],
                stdout=subprocess.PIPE, stderr=err, cwd=tmp, env=env,
                text=True, start_new_session=True,
            )
            timer.args = (proc,)
            timer.start()
            try:
                for line in proc.stdout:
                    seen.setdefault(line.strip(), time.perf_counter() - t0)
                    if last in seen:
                        break
            finally:
                timer.cancel()
                t_end = time.perf_counter() - t0
                _stop_group(proc)
                proc.stdout.close()
                shutil.rmtree(tmp, ignore_errors=True)
        _log(f"{tag}: ready after {seen.get('PERFBENCH_READY', -1):.1f} s, "
             f"last line after {t_end:.1f} s, "
             f"group gone after {time.perf_counter() - t0:.1f} s")
        if last not in seen:
            raise BenchError(
                f"worker {tag} ended early or ran past the run's time limit:\n"
                + self._tail(f"{tag}.log"))
        return seen["PERFBENCH_READY"], json.loads(out.read_text()) if out.exists() else {}

    def goldens(self, key: str, data: str, frames: Path, record: dict) -> dict:
        """Cached goldens of this draw, confirmed now where missing."""
        path = WORK / "golden" / key / f"{self.args.workload}.json"
        cached = json.loads(path.read_text()) if path.exists() else {}
        sha = record.get("oracle_sha", {})
        names = WORKLOADS[self.args.workload]
        # A golden stands while its oracle SQL is unchanged; only passing
        # ones are cached, so a mismatch is confirmed again on every run.
        have = {
            n: g for n, g in cached.items()
            if n in names and not g["problems"] and g["oracle_sha"] == sha.get(n)
        }
        todo = [n for n in names if n not in have]
        if todo:
            _log(f"confirming {len(todo)} result(s) against the oracles")
            out = self.dir / "golden.json"
            self.python(str(HERE / "golden.py"), str(frames), data, str(out),
                        *todo, log="golden.log")
            made = json.loads(out.read_text())
            have.update(made)
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(
                {n: g for n, g in have.items() if not g["problems"]}, indent=1))
        return have

    def execute(self) -> dict:
        args = self.args
        data, key = self.data_dir()
        frames = self.dir / "frames"
        frames.mkdir()
        spec = {
            "mode": "run",
            "queries": WORKLOADS[args.workload],
            "data_dir": data,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "limit_s": QUERY_LIMIT_S,
            "frames_dir": str(frames),
        }
        ready, record = self.worker(spec, "main")
        setups = [ready]
        if not args.trace:
            for i in range(SETUP_SAMPLES - 1):
                setups.append(self.worker({"mode": "setup"}, f"setup{i}")[0])
        goldens = self.goldens(key, data, frames, record)
        failures = judge(record["invocations"], goldens)
        result = {
            "workload": args.workload,
            "seed": args.seed,
            "data": key,
            "seconds": args.seconds,
            "trace": args.trace,
            "setup_samples": setups,
            "failures": failures,
            "provenance": provenance(record, self.cpus),
            **record,
        }
        return result


def judge(invocations: list[dict], goldens: dict) -> list[dict]:
    """Mark each invocation failed or not; return the failures."""
    failures = []
    for inv in invocations:
        g = goldens.get(inv["query"])
        why = inv.get("error")
        if why is None and g is None:
            why = "no golden: the cold-pass result could not be confirmed"
        elif why is None and g["problems"]:
            why = "result differs from the oracle: " + "; ".join(g["problems"])
        elif why is None and inv["rows"] != g["rows"]:
            why = f"rows {inv['rows']} vs golden {g['rows']}"
        elif why is None and "hash" in inv and inv["hash"] != g["hash"]:
            why = "value hash differs from the golden"
        inv["failed"] = why is not None
        if why is not None:
            failures.append({"query": inv["query"], "pass": inv["pass"], "why": why})
    return failures


def provenance(record: dict, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    try:
        import duckdb

        duck = duckdb.__version__
    except ImportError:
        duck = None
    return {
        "host": platform.node(),
        "nproc": cpus,
        "commit": commit,
        "duckdb": duck,
        **record.get("versions", {}),
    }


def _median_by_query(invocations: list[dict], value) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for inv in invocations:
        v = value(inv)
        if v is not None:
            by.setdefault(inv["query"], []).append(v)
    return {q: statistics.median(vs) for q, vs in by.items()}


def end_to_end(result: dict) -> dict:
    invs = result["invocations"]
    warm = [i for i in invs if i["pass"] > 0]
    wall = sum(_median_by_query(warm, lambda i: i["wall_s"]).values())
    failed = sum(i["failed"] for i in invs)
    return {
        "wall_s": (wall, "s"),
        "cold_pass_s": (sum(i["wall_s"] for i in invs if i["pass"] == 0), "s"),
        "setup_s": (statistics.median(result["setup_samples"]), "s"),
        "ok_frac": ((len(invs) - failed) / len(invs), "fraction"),
    }


# per-layer metric -> the span layer whose self time it sums
SELF_TIME = {
    "plans.build_s": "plans",
    "catalyst.plan_s": "catalyst",
    "action.run_s": "action",
    "operators.graph.s": "operators.graph",
    "operators.dedup.s": "operators.dedup",
    "operators.similarity.s": "operators.similarity",
    "operators.wordcount.s": "operators.wordcount",
    "operators.mapreduce.s": "operators.mapreduce",
    "spark.local_checkpoint_s": "spark.local_checkpoint",
    "streaming.await_s": "streaming.await",
    "sources.load_s": "sources",
    "sinks.write_s": "sinks",
    "storeops.s": "storeops",
}
# per-layer metric -> unit, for the counters and Spark's own figures
COUNTED = {
    "spark.local_checkpoint.calls": "count",
    "stages.count": "count",
    "tasks.count": "count",
    "tasks.failed": "count",
    "stages.busy_s": "s",
    "driver.only_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "jvm.gc_s": "s",
    "shuffle.read_mb": "MiB",
    "shuffle.write_mb": "MiB",
    "shuffle.fetch_wait_s": "s",
    "spill.mb": "MiB",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MiB",
    "python.recv_mb": "MiB",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_update_s": "s",
    "streaming.state_rows": "count",
}


def per_layer(result: dict) -> dict:
    """Per warm pass: each query's median over its warm invocations,
    summed over the workload; set-up and artifact builds are taken once."""
    invs = result["invocations"]
    warm = [i for i in invs if i["pass"] > 0]
    cold = [i for i in invs if i["pass"] == 0]

    def layer_sum(metric, source=None):
        if source is not None:
            get = lambda i: i["layers"]["self_s"].get(source, 0.0)  # noqa: E731
        else:
            get = lambda i: i["layers"].get(metric, 0.0)  # noqa: E731
        return sum(_median_by_query(warm, get).values())

    out = {
        "session.get_spark_s": (result["session.get_spark_s"], "s"),
        "queries.import_s": (result["queries.import_s"], "s"),
        "trace.wall_s": (sum(_median_by_query(warm, lambda i: i["wall_s"]).values()), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MiB"),
    }
    for metric, source in SELF_TIME.items():
        out[metric] = (layer_sum(metric, source), "s")
    for metric, unit in COUNTED.items():
        out[metric] = (layer_sum(metric), unit)
    med = layer_sum("tasks.median_ms_sum")
    out["tasks.skew"] = (layer_sum("tasks.max_ms_sum") / med if med else 1.0, "ratio")
    out["storage.cached_mb"] = (
        max((i["layers"].get("storage.cached_mb", 0.0) for i in invs), default=0.0),
        "MiB",
    )
    for name, group in (("artifacts.builds", cold), ("artifacts.warm_builds", warm)):
        out[name] = (sum(i["layers"].get("artifacts.builds", 0) for i in group), "count")
    out["artifacts.build_s"] = (
        sum(i["layers"].get("artifacts.build_s", 0.0) for i in cold), "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        _log(f"not a checkout of the engine; missing {', '.join(missing)}")
        return 2
    _adopt_orphans()
    # A terminated run still ends its workers (the finally blocks).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.execute()
    except BenchError as exc:
        _log(f"benchmark failed: {exc}")
        return 1
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)

    metrics = per_layer(result) if args.trace else end_to_end(result)
    result["metrics"] = {k: v for k, (v, _) in metrics.items()}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-{result['data']}-trace{args.trace}-{stamp}.json"
     ).write_text(json.dumps(result, indent=1))

    failed = len(result["failures"])
    attempted = len(result["invocations"])
    for name, (value, unit) in metrics.items():
        _log(f"{args.workload} {name} = {value:.4f} {unit}")
    if not args.trace:
        _log(f"{args.workload} peak_rss_mb = {result['peak_rss_mb']:.1f} MiB "
             "(per-layer metric: too unsteady for a bound)")
    _log(f"{args.workload} failed_frac = {failed / attempted:.4f} "
         f"({failed} of {attempted} invocations)")
    for f in result["failures"]:
        _log(f"FAILED {f['query']} (pass {f['pass']}): {f['why']}")
    _log("result check: " + ("all results match the goldens" if not failed
                             else f"{failed} invocation(s) failed"))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
