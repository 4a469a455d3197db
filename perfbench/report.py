"""Summarise the run records ``run.py`` kept under ``.perfbench/results``.

    python3 perfbench/report.py

For each workload: the median end-to-end metrics of the untraced runs,
the tracing overhead (median traced wall minus median untraced wall),
and, for each layer, whether the workloads predicted to leave it flat
show it near zero.  A layer reads near zero when its time is under 5%
of the traced wall, or, for counts and sizes, under 5% of its value on
the workload where it should move.  Where a prediction fails, the
measured share is printed as it is.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

RESULTS = Path(__file__).resolve().parent.parent / ".perfbench" / "results"
NEAR_ZERO = 0.05
WC, FS = "mapreduce_wordcount", "fixpoint_streaming"

# (per-layer metrics, end-to-end metric they move, where, predicted flat)
PREDICTIONS = [
    (["session.get_spark_s", "queries.import_s"], "setup_s", [WC, FS], []),
    (["plans.build_s"], "wall_s", [FS], [WC]),
    (["action.run_s", "catalyst.plan_s"], "wall_s", [WC], []),
    (["operators.graph.s", "spark.local_checkpoint_s",
      "spark.local_checkpoint.calls"], "wall_s, peak_rss_mb", [FS], [WC]),
    (["operators.wordcount.s", "operators.mapreduce.s", "operators.dedup.s",
      "operators.similarity.s"], "wall_s", [WC], [FS]),
    (["stages.busy_s", "driver.only_s", "executor.run_s", "shuffle.read_mb",
      "shuffle.write_mb", "spill.mb", "tasks.skew"], "wall_s", [WC, FS], []),
    (["python.boot_s", "python.init_s", "python.run_s", "python.sent_mb",
      "python.recv_mb"], "wall_s", [WC], [FS]),
    (["streaming.batches", "streaming.trigger_s", "streaming.await_s",
      "streaming.commit_s", "streaming.state_update_s"], "wall_s", [FS], [WC]),
    (["sources.load_s", "sinks.write_s", "storeops.s"], "wall_s", [FS], []),
    (["artifacts.builds", "artifacts.build_s"], "cold_pass_s", [], []),
    (["artifacts.warm_builds"], "wall_s", [], [WC, FS]),
    (["storage.cached_mb"], "peak_rss_mb", [FS], [WC]),
]


def load() -> dict:
    """workload -> trace flag -> metric -> list of values"""
    out: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for path in sorted(RESULTS.glob("*.json")):
        rec = json.loads(path.read_text())
        for name, value in rec["metrics"].items():
            out[rec["workload"]][rec["trace"]][name].append(value)
    return out


def near_zero(name: str, value: float, wall: float, moving: float | None) -> bool:
    if name.endswith("_s") or name.endswith(".s"):
        return value < NEAR_ZERO * wall
    if name == "tasks.skew":
        return value <= 1.0 + NEAR_ZERO
    base = moving if moving else 0.0
    return value <= NEAR_ZERO * base if base else value == 0


def main() -> None:
    data = load()
    med = {
        (w, t): {m: statistics.median(v) for m, v in ms.items()}
        for w, by_trace in data.items() for t, ms in by_trace.items()
    }
    print("| workload | runs (untraced/traced) | wall_s | cold_pass_s | setup_s "
          "| peak_rss_mb | ok_frac | traced wall | tracing overhead |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in sorted(data):
        e, t = med.get((w, 0), {}), med.get((w, 1), {})
        runs = f"{len(data[w][0].get('wall_s', []))}/{len(data[w][1].get('trace.wall_s', []))}"
        over = ""
        if e and t:
            d = t["trace.wall_s"] - e["wall_s"]
            over = f"{d:+.2f} s ({d / e['wall_s']:+.0%})"
        both = {**t, **e}  # peak_rss_mb comes from the traced runs
        cells = [f"{both[m]:.3f}" if m in both else "" for m in
                 ("wall_s", "cold_pass_s", "setup_s", "peak_rss_mb", "ok_frac")]
        traced = f"{t['trace.wall_s']:.3f}" if t else ""
        print(f"| {w} | {runs} | {' | '.join(cells)} | {traced} | {over} |")
    print()
    print("| layer metric | moves | where | value per workload (share of traced wall) "
          "| predicted flat on | flat? |")
    print("|---|---|---|---|---|---|")
    for metrics, moves, where, flat in PREDICTIONS:
        for m in metrics:
            vals = []
            for w in sorted(data):
                t = med.get((w, 1), {})
                if m not in t:
                    continue
                share = (f" ({t[m] / t['trace.wall_s']:.0%})"
                         if m.endswith("_s") or m.endswith(".s") else "")
                vals.append(f"{w}: {t[m]:.3f}{share}")
            verdicts = []
            for w in flat:
                t = med.get((w, 1))
                if not t or m not in t:
                    verdicts.append(f"{w}: no traced run")
                    continue
                moving = [med[(x, 1)][m] for x in where if (x, 1) in med]
                ok = near_zero(m, t[m], t["trace.wall_s"], max(moving, default=None))
                verdicts.append(f"{w}: {'yes' if ok else 'NO'}")
            print(f"| {m} | {moves} | {', '.join(where) or '-'} | {'; '.join(vals)} "
                  f"| {', '.join(flat) or '-'} | {'; '.join(verdicts) or '-'} |")


if __name__ == "__main__":
    main()
