"""One benchmark run inside a fresh process; ``run.py`` starts it.

Order: session set-up (timed from process spawn), input generation and
expected answers (untimed), one cold pass, ``SETTLE`` settle passes,
then ``MIN_WARM`` warm passes. Settle passes are the first warm ones;
the JIT and the Python workers are still warming there (on
``llm_curation`` the second and third passes after the cold one still
run 10-25% slower than later ones), so they are checked but not counted
in ``warm_s``. The host is shared: other guests take CPU time from this
one in bursts of seconds (steal, read from ``/proc/stat`` around each
pass), and a pass that loses a few percent to it runs much slower. So
while the passes together have run less than ``--seconds``, warm passes
are added until ``MIN_WARM`` of them ran quiet, and ``warm_s`` sums each
op's median over the ``MIN_WARM`` least-stolen warm passes. Each op is
timed from its call to its fully collected result; its answer is
checked after the clock stops. The result goes to ``--out`` as JSON.

With ``--trace 1`` the cold pass and every second warm pass record
spans and engine counters (the difference between traced and untraced
warm passes is the tracing overhead), and the single-thread
reader/flat microtimings run after the passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

OP_TIMEOUT_S = 60.0  # an op slower than this counts as failed
SETTLE = 2
MIN_WARM = 3
# A pass during which the host took more than this share of the CPU time
# (steal) ran slow: at 5-15% steal a warm llm_curation pass takes 20-70%
# longer than at 0-2%.
QUIET_STEAL = 0.02
SAMPLE_RECORDS = 2000  # records per microtiming sample
SPLIT_BYTES = 16 << 20  # fixed flat split the scan microtimings read


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


class Runner:
    def __init__(self, spark, tracer, ops):
        self.spark, self.tracer, self.ops = spark, tracer, ops
        self.passes: list[dict] = []

    def run_pass(self, label: str, traced: bool) -> dict:
        import engine

        self.tracer.paused = not traced
        self.tracer.pass_index = len(self.passes)
        p = {"label": label, "traced": traced, "index": len(self.passes),
             "ops": {}, "attempted": 0, "failed": 0}
        first_stage = engine.max_stage_id(self.spark) + 1 if traced else None
        windows, dfs = [], []
        all0, steal0 = cpu_ticks()
        with self.tracer.span(f"pass.{label}", index=p["index"]):
            for op in self.ops:
                t0, w0 = time.perf_counter(), time.time()
                df, ok = None, False
                try:
                    with self.tracer.span(op.span):
                        df = op.build(self.spark)
                        rows = df.collect()
                    dt = time.perf_counter() - t0
                    windows.append((w0, time.time()))
                    ok = dt <= OP_TIMEOUT_S and op.check(df.columns, rows)
                    if not ok:
                        print(f"perfbench: {op.name} ({label}) "
                              + ("timed out" if dt > OP_TIMEOUT_S else "wrong answer"),
                              file=sys.stderr)
                except Exception:  # noqa: BLE001 - every failure is counted
                    dt = time.perf_counter() - t0
                    traceback.print_exc()
                p["ops"][op.name] = dt
                p["attempted"] += 1
                p["failed"] += not ok
                if df is not None:
                    dfs.append(df)
        p["wall"] = sum(p["ops"].values())
        # share of CPU time the hypervisor gave to other guests during the
        # pass: it shows which passes a noisy host slowed
        all1, steal1 = cpu_ticks()
        p["steal"] = (steal1 - steal0) / max(1, all1 - all0)
        if traced:
            c = engine.stage_totals(self.spark, first_stage, windows)
            for df in dfs:
                for k, v in engine.plan_counters(df).items():
                    c[k] = c.get(k, 0.0) + v
            p["counters"] = c
        self.tracer.paused = False
        self.tracer.pass_index = None
        self.passes.append(p)
        return p


def microtimings(extra: dict, tracer) -> dict[str, float]:
    """Single-thread timings of the reader and flat layers on fixed
    inputs: record cutting, fused flat assembly, ElementTree parsing,
    and how often the flat fast path accepts a record."""
    import itertools

    import workloads
    from xml_hive_spark import reader, xsd
    from xml_hive_spark.flat import FlatAssembler

    flat = extra["flat"]
    n = min(SPLIT_BYTES, extra["flat_bytes"])
    split = (flat, 0, n, "TEXT", 0)
    mb = n / 1e6
    out = {}
    with tracer.span("reader.iter_split_record_bytes"):
        t0 = time.perf_counter()
        for _ in reader.iter_split_record_bytes(split, "rec"):
            pass
        out["reader.span_mb_s"] = mb / (time.perf_counter() - t0)
    proj = workloads.flat_schema()
    proj = type(proj)([f for f in proj.fields if f.name in ("cat", "val")])
    with tracer.span("flat.fused_split_batches"):
        t0 = time.perf_counter()
        asm = FlatAssembler.try_create(proj, "FAILFAST")
        for _ in asm.fused_split_batches(split, "rec"):
            pass
        out["flat.fused_mb_s"] = mb / (time.perf_counter() - t0)

    book0 = sorted(Path(extra["nested"]).iterdir())[0]
    book_split = (str(book0), 0, book0.stat().st_size, "TEXT", 0)
    books = list(itertools.islice(
        reader.iter_split_record_bytes(book_split, "book"), SAMPLE_RECORDS))
    struct = xsd.xsd_to_struct(extra["xsd"], "bookType", None)
    with tracer.span("reader.parse_record"):
        t0 = time.perf_counter()
        for rec in books:
            reader.parse_record(rec, struct)
        out["reader.parse_record_us"] = (time.perf_counter() - t0) / len(books) * 1e6

    recs = list(itertools.islice(reader.iter_split_record_bytes(split, "rec"),
                                 SAMPLE_RECORDS))
    for shape, struct_, sample in (("flat", workloads.flat_schema(), recs),
                                   ("nested", struct, books)):
        asm = FlatAssembler.try_create(struct_, "FAILFAST")
        hits = 0 if asm is None else sum(asm.fast_row(r) is not None for r in sample)
        out[f"flat.fast_path_frac.{shape}"] = hits / len(sample)
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(runner: Runner, tracer, prep) -> dict[str, float]:
    """Per-layer metrics from the traced passes' spans and counters."""
    from xml_hive_spark.reader import plan_splits

    out: dict[str, float] = {}
    traced = [p for p in runner.passes if p["traced"]]
    by_label = {"cold": [p for p in traced if p["label"] == "cold"],
                "warm": [p for p in traced if p["label"] == "warm"]}

    def span_sums(name: str, passes: list[dict], arg=None) -> list[float]:
        sums = {p["index"]: 0.0 for p in passes}
        for s in tracer.spans:
            if s["name"] != name or (arg is not None and s.get("arg") != arg):
                continue
            pi = s.get("pass_index")
            if pi in sums:
                sums[pi] += s["end"] - s["start"]
        return list(sums.values())

    out["session.get_spark_s"] = sum(tracer.durations("session.get_spark"))
    for label, passes in by_label.items():
        for op in prep.ops:
            key = (f"sources.{op.name}_s.{label}" if op.span.startswith("sources.")
                   else f"operators.{op.name}.{label}_s")
            out[key] = _median([p["ops"][op.name] for p in passes])
        out[f"xsd.xsd_to_struct_s.{label}"] = _median(span_sums("xsd.xsd_to_struct", passes))
        out[f"reader.resolve_paths_s.{label}"] = _median(
            span_sums("reader.resolve_paths", passes))
        for k in passes[0]["counters"] if passes else ():
            vals = [p["counters"][k] for p in passes]
            if k.startswith("src_"):
                out[f"sources.{k[4:]}.{label}"] = _median(vals)
            else:
                out[f"operators.{k}.{label}"] = _median(vals)
    if prep.extra:
        flat = prep.extra["flat"]
        out["reader.plan_cold_s"] = _median(
            span_sums("reader.plan_annotated_splits", by_label["cold"], arg=flat))
        out["reader.plan_warm_s"] = _median(
            span_sums("reader.plan_annotated_splits", by_label["warm"], arg=flat))
        cold = by_label["cold"][0]["index"]
        out["reader.splits"] = float(sum(
            s.get("n_out", 0) for s in tracer.spans
            if s["name"] == "reader.plan_annotated_splits" and s.get("pass_index") == cold))
        raw = plan_splits([flat], prep.extra["part_bytes"])
        out["reader.phase_a_bytes"] = float(sum(b - a for _, a, b in raw[:-1]))
        out.update(microtimings(prep.extra, tracer))
    untraced = [p["wall"] for p in runner.passes if p["label"] == "warm" and not p["traced"]]
    out["trace.overhead_s"] = _median([p["wall"] for p in by_label["warm"]]) - _median(untraced)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_SPAWN_T"])

    if not (ROOT / "xml_hive_spark" / "__init__.py").is_file():
        print(f"perfbench: no xml_hive_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import spans
    import workloads
    from xml_hive_spark.session import get_spark

    tracer = spans.Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}")
    tracer.wrap_modules()
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_s = time.monotonic() - t_spawn
    try:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        prep = workloads.prepare(args.workload, args.data_dir, args.seed, cpus)
        runner = Runner(spark, tracer, prep.ops)
        t_measure = time.perf_counter()
        runner.run_pass("cold", traced=bool(args.trace))
        for _ in range(SETTLE):
            runner.run_pass("settle", traced=False)
        # a traced run alternates untraced, traced, ..., untraced so the
        # tracing overhead is measured in-run, with the warm-up trend
        # falling on both sides of each traced pass. An untraced run adds
        # warm passes, while --seconds lasts, until MIN_WARM of them ran
        # with at most QUIET_STEAL of the CPU time stolen by the host.
        n_warm = 0
        while (n_warm < MIN_WARM or (args.trace and n_warm % 2 == 0)
               or (not args.trace and time.perf_counter() - t_measure < args.seconds
                   and sum(p["steal"] <= QUIET_STEAL for p in runner.passes
                           if p["label"] == "warm") < MIN_WARM)):
            runner.run_pass("warm", traced=bool(args.trace) and n_warm % 2 == 1)
            n_warm += 1
        cold = runner.passes[0]
        # per-op medians over the MIN_WARM least-stolen untraced warm passes
        warm = sorted((p for p in runner.passes if p["label"] == "warm" and not p["traced"]),
                      key=lambda p: p["steal"])[:MIN_WARM]
        warm_op = {op.name: _median([p["ops"][op.name] for p in warm]) for op in prep.ops}
        warm_s = sum(warm_op.values())
        scan_s = warm_op[prep.scan_op] if prep.scan_op else warm_s
        result = {
            "attempted": sum(p["attempted"] for p in runner.passes),
            "failed": sum(p["failed"] for p in runner.passes),
            "passes": [{k: p[k] for k in ("label", "traced", "wall", "steal", "ops")}
                       for p in runner.passes],
            "metrics": {
                "setup_s": setup_s,
                "cold_s": cold["wall"],
                "warm_s": warm_s,
                "scan_mb_s": prep.input_bytes / 1e6 / scan_s,
            },
        }
        if args.trace:
            result["layers"] = layer_metrics(runner, tracer, prep)
    finally:
        spark.stop()
    if args.trace and args.spans:
        tracer.dump(args.spans)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
