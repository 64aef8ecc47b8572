"""The benchmark's client, run as the engine's driver process.

One client, closed loop: an op is one registered query from
``__spark_entry__.queries()``; the client builds it, collects the result,
checks it against the precomputed oracle answer and only then starts the
next op.  Set-up (session, catalog, one untimed warm-up pass in registry
order) ends where the first timed op starts.  Timed passes visit every op of
the workload once, in an order fixed by the seed, and repeat until the
requested seconds are used up and MIN_SAMPLES ops ran; a pass is never cut
short, so every run times the same mix of ops.

    python3 -m perfbench.client --workload W --seed N --seconds S --trace 0|1 \
        --data DIR --expected FILE --result FILE --scratch DIR... --spawn-time T
"""

from __future__ import annotations

import argparse
import json
import statistics
import time
from collections import Counter
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

from perfbench import expected as expected_mod
from perfbench.stats import nearest_rank, pass_order, tail_pct
from perfbench.workloads import WORKLOADS

# Untimed passes before the clock starts: the first execution of each op
# pays JIT, code generation and Python-worker spawn (measured on 4 cores:
# olap passes 68 s cold vs 32 s warm).
WARMUP_PASSES = 1
# Timed passes continue past --seconds until this many ops ran.  The tail is
# reported at the highest percentile this count supports with ten samples
# beyond it, the same percentile in every run whatever its sample count.
MIN_SAMPLES = 80
TAIL_PCT = tail_pct(MIN_SAMPLES)


@dataclass
class Outcome:
    status: str  # "ok", "raised" or "mismatch"
    latency: float
    error: str = ""


def execute(run: Callable[[], tuple[list[str], list[tuple]]],
            check: Callable[[list[str], list[tuple]], bool],
            clock: Callable[[], float] = time.perf_counter) -> Outcome:
    """Time one op (``run`` returns its columns and rows), then check it."""
    t0 = clock()
    try:
        columns, rows = run()
    except Exception as e:  # an op that raises is a counted failure, not a crash
        return Outcome("raised", clock() - t0, f"{type(e).__name__}: {e}"[:500])
    latency = clock() - t0
    return Outcome("ok" if check(columns, rows) else "mismatch", latency)


def summarize(outcomes: list[Outcome], window_s: float) -> dict:
    """End-to-end figures of one timed window.  Latencies are those of ops
    that returned a correct result; every other op counts as failed."""
    ok = [o.latency for o in outcomes if o.status == "ok"]
    failed = len(outcomes) - len(ok)
    return {
        "attempted": len(outcomes),
        "failed": failed,
        "failed_frac": failed / len(outcomes),
        "ok_frac": len(ok) / len(outcomes),
        "ops_per_min": 60.0 * len(ok) / window_s,
        "op_p50_s": statistics.median(ok) if ok else window_s,
        "op_tail_s": nearest_rank(ok, TAIL_PCT) if ok else window_s,
        "tail_pct": TAIL_PCT,
        "samples": len(ok),
    }


class Client:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.tracer = None
        self.probe = None
        self.layers: Counter = Counter()
        self.pass_bounds: list[tuple[float, float]] = []  # wall clock, for the launcher's RSS samples
        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup(self) -> None:
        from codecdb_queryengine_spark.catalog import load_tables
        from codecdb_queryengine_spark.session import get_spark

        with self.span("session.start"):
            self.spark = get_spark("perfbench")
        with self.span("catalog.load_tables"):
            load_tables(self.spark, self.args.data)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.answers = expected_mod.load(self.args.expected)
        if self.tracer:
            from codecdb_queryengine_spark.sources import ann_index, io, text_index

            from perfbench.tracing import SparkProbe, wrap_module_functions

            for mod, name in ((ann_index, "sources.ann_index"), (text_index, "sources.text_index"),
                              (io, "sources.io")):
                wrap_module_functions(self.tracer, mod, name)
            self.probe = SparkProbe(self.spark, self.args.scratch)
        for _ in range(WARMUP_PASSES):
            for i, name in enumerate(self.workload.ops):
                self.run_op(f"warmup-{i}", name)

    def run_op(self, group: str, name: str) -> Outcome:
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        fn = self.queries[name]
        kept = {}

        def run():
            with self.span("op"):
                with self.span("queries.build"):
                    df = fn(self.spark, self.args.data)
                if self.probe:
                    kept["build_jobs"] = self.probe.job_ids(group)
                    with self.span("plan.optimize"):
                        df._jdf.queryExecution().executedPlan()
                with self.span("exec.collect"):
                    rows = df.collect()
            kept["df"] = df
            return df.columns, [tuple(r) for r in rows]

        outcome = execute(run, self.answers[name].matches)
        if self.probe and self.tracer.op_id is not None and "df" in kept:
            self.count_layers(group, kept)
        self.spark.catalog.clearCache()
        return outcome

    def count_layers(self, group: str, kept: dict) -> None:
        probe, lay = self.probe, self.layers
        all_jobs = _settled_jobs(probe, group)
        build = set(kept["build_jobs"])
        lay["queries.build_jobs"] += len(build)
        for k, v in probe.job_counts([j for j in all_jobs if j not in build]).items():
            lay[f"exec.{k}"] += v
        lay.update(probe.plan_metrics(kept["df"]))

    def timed(self) -> tuple[list[str], list[Outcome], float]:
        names: list[str] = []
        outcomes: list[Outcome] = []
        op_id = 0
        probe = self.probe
        t0 = time.perf_counter()
        cpu0 = time.process_time()
        if probe:
            gc0 = probe.gc_seconds()
            batches0, batch_s0 = probe.stream_batches, probe.stream_batch_s
        pass_index = 0
        while time.perf_counter() - t0 < self.args.seconds or len(outcomes) < MIN_SAMPLES:
            pass_start = time.time()
            for name in pass_order(self.workload.ops, self.args.seed, pass_index):
                if self.tracer:
                    self.tracer.op_id = op_id
                    before = probe.scratch_state()
                names.append(name)
                outcomes.append(self.run_op(f"op-{op_id}", name))
                if probe:
                    after = probe.scratch_state()
                    changed = [p for p, st in after.items() if before.get(p) != st]
                    self.layers["sources.files_written"] += len(changed)
                    self.layers["sources.bytes_written"] += sum(after[p][0] for p in changed)
                    self.layers["sources.layout_bytes"] += sum(s for s, _ in after.values())
                op_id += 1
            self.pass_bounds.append((pass_start, time.time()))
            pass_index += 1
        window = time.perf_counter() - t0
        if probe:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            lay = self.layers
            lay["jvm.gc_s"] = probe.gc_seconds() - gc0
            lay["streaming.batches"] = probe.stream_batches - batches0
            lay["streaming.batch_s"] = probe.stream_batch_s - batch_s0
        self.layers["driver.cpu_s"] = time.process_time() - cpu0
        if self.tracer:
            self.tracer.op_id = None
        return names, outcomes, window

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        """Per-op means over the timed ops, plus the two set-up spans."""
        tr = self.tracer
        out = {f"{name}_s": tr.total(name) for name in ("session.start", "catalog.load_tables")}
        for span_name in ("queries.build", "plan.optimize", "exec.collect", "sources.ann_index",
                          "sources.text_index", "sources.io"):
            out[f"{span_name}_s"] = tr.total(span_name, timed_only=True) / n_ops
        for k, v in self.layers.items():
            out[k] = v / n_ops
        return out


def _settled_jobs(probe, group: str, timeout: float = 2.0) -> list[int]:
    """Job ids of ``group`` once the status tracker has seen them finish."""
    deadline = time.monotonic() + timeout
    while True:
        jobs = probe.job_ids(group)
        infos = [probe.tracker.getJobInfo(j) for j in jobs]
        done = all(i is None or i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if done or time.monotonic() > deadline:
            return jobs
        time.sleep(0.01)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--expected", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", default="")
    p.add_argument("--scratch", nargs="*", default=[])
    p.add_argument("--spawn-time", type=float, required=True)
    args = p.parse_args(argv)

    client = Client(args)
    client.setup()
    setup_s = time.time() - args.spawn_time
    names, outcomes, window = client.timed()
    result = {"setup_s": setup_s, "window_s": window, "pass_bounds": client.pass_bounds,
              **summarize(outcomes, window)}
    per_op: dict[str, list[float]] = {}
    for name, o in zip(names, outcomes):
        per_op.setdefault(name, []).append(o.latency)
    result["per_op_median_s"] = {k: statistics.median(v) for k, v in sorted(per_op.items())}
    result["pass_s"] = [end - start for start, end in client.pass_bounds]
    result["errors"] = [o.error or o.status for o in outcomes if o.status != "ok"][:5]
    if client.tracer:
        result["layers"] = client.layer_metrics(len(outcomes))
        client.probe.close()
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump({"spans": client.tracer.spans,
                           "self_time_s": client.tracer.self_times()}, fh)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    client.spark.stop()


if __name__ == "__main__":
    main()
