"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload join_bulk --seed 1 --seconds 12 --trace 0

One driver process, Spark ``local[K]`` with ``K`` = 1 task slot and 2K
shuffle partitions.  A run sets up ``SETUPS`` times (session start, seeded
inputs written as parquet, a round of warm-up ops) and reports the median
set-up, runs the workload's ``settle_ops`` more warm-up ops, then runs one
closed-loop client for ``--seconds``, then checks the outputs.  After
each timed op it times a fixed reference job (``host.SpeedProbe``); the
end-to-end timings are scaled by the host speed that job shows, so that
load from other tenants of the host moves them less.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the first half of the loop untraced
and the second half traced, and reports the per-layer metrics (README.md
maps each to the end-to-end metric it should move).  Human-readable lines
go first; the last line of stdout is one JSON object.  ``--smoke`` shrinks
every input.

All files go under ``.perfbench_work/`` (removed at exit) and span files
under ``.perfbench_out/``, both in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
MIN_OPS = 3
# one task slot: on 4 vCPUs a join_bulk op took about as long as at two
# slots, and the CPUs left free run the JVM's compiler and GC threads and
# absorb a neighbour's load instead of slowing the loop
K = 1
SETTLE_CAP_S = 60.0    # a very slow host stops warming up after this
DRIVER_MEMORY = "1g"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]

# span name → per-layer metric reported as the mean span duration
SPAN_MEANS = {"plan.build": "plan.build_s", "plan.optimize": "plan.optimize_s",
              "pip.call": "pip.call_s", "knn.query": "knn.busy_s",
              "sink.write": "sink.write_s", "sink.read": "sink.read_s"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    return ap.parse_args(argv)


def _start_session(k: int, tmp: str):
    from projcl_spark.session import get_spark

    return get_spark("perfbench", cores=k, shuffle_partitions=2 * k, extra={
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap from the start: no resizing while ops are timed;
        # no perf-data file, which the JVM would put in /tmp
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM and its workers."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    kids = descendants(os.getpid())
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


def _progress(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _pct(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def _tail(xs):
    """(p, value): the highest of p95/p90/p80 with ≥10 samples beyond it,
    else the median."""
    for p in (95, 90, 80):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, _pct(xs, p)
    return 50, statistics.median(xs)


def _mix_median(wl, op_lat: dict) -> float:
    """Median op latency; for a workload that cycles through several kinds
    of op, the mean over kinds of each kind's median, so the figure does
    not jump between kinds as the sample count shifts."""
    kinds: dict = {}
    for i, dt in op_lat.items():
        kinds.setdefault(wl.kind(i), []).append(dt)
    return statistics.fmean(statistics.median(v) for v in kinds.values())


def _warm_up(wl, ctx) -> None:
    for _ in range(wl.warmup_ops):
        wl.op(ctx, ctx.next_op)
        ctx.next_op += 1


def _measure(wl, ctx, seconds, traced, collector, probe, failures):
    """Closed loop for ``seconds``, at least MIN_OPS ops tried: (latencies
    of the ops that succeeded, ops tried).  An op that would likely end
    past the deadline is not started.  The probe runs after each op,
    outside its latency."""
    from perfbench.host import tree_cpu_s

    lat, tried = [], 0
    end = time.perf_counter() + seconds
    ctx.tr.enabled = traced
    while tried < MIN_OPS or time.perf_counter() + (
            statistics.median(lat) + statistics.median(probe.times) if lat else 0) < end:
        tried += 1
        i = ctx.next_op
        ctx.next_op += 1
        ctx.tr.run_id = i
        if traced:
            collector.start()
        c = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            with ctx.tr.span("op"):
                wl.op(ctx, i)
            dt = time.perf_counter() - t    # before the collector's own work
            ctx.op_cpu[i] = tree_cpu_s(os.getpid()) - c
        except Exception:
            traceback.print_exc()
            failures.append(f"op {i} raised")
            continue
        finally:
            if traced:
                collector.stop()
        lat.append(dt)
        ctx.op_lat[i] = dt
        probe()
    ctx.tr.enabled = False
    return lat, tried


def run(args) -> dict:
    from perfbench import gen, host
    from perfbench.sparkstats import StageCollector
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    sizes = wl.sizes(args.smoke)
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-p{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # spark-submit's own JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tr = Tracer(enabled=False)
    failures: list[str] = []
    spark = ctx = None
    lat_u: list[float] = []
    tried_u = 0
    try:
        with host.RssSampler() as rss:
            setups, starts, gens = [], [], []
            for r in range(SETUPS):
                rep = os.path.join(work, f"setup{r}")
                shutil.rmtree(os.path.join(work, f"setup{r - 1}"), ignore_errors=True)
                t0 = time.perf_counter()
                if spark is None:
                    spark = _start_session(K, tmp)
                    spark.range(1).count()
                else:
                    spark = spark.newSession()
                t1 = time.perf_counter()
                inputs = gen.generate(os.path.join(rep, "in"), args.seed, sizes)
                t2 = time.perf_counter()
                ctx = Ctx(spark=spark, sizes=sizes, inputs=inputs, work=rep, k=K,
                          smoke=args.smoke, tr=tr)
                failures.extend(wl.prepare(ctx))
                _warm_up(wl, ctx)                 # codegen, workers, caches
                setups.append(time.perf_counter() - t1)
                starts.append(t1 - t0)
                gens.append(t2 - t1)
                _progress(f"set-up {r}: session {starts[-1]:.2f} s, rest {setups[-1]:.2f} s")

            # ops keep getting faster for about a minute while the JIT
            # compiles: warm up by op count, not by time, so that a slowed
            # host does not leave the JIT less far along when timing starts
            probe = host.SpeedProbe(spark)
            t = time.perf_counter()
            for _ in range(wl.settle_ops):
                if time.perf_counter() - t > SETTLE_CAP_S:
                    break
                wl.op(ctx, ctx.next_op)
                ctx.next_op += 1
                probe()                            # warms the probe up too
            probe.times.clear()

            collector = StageCollector(spark)
            steal0, total0 = host.cpu_jiffies()
            m0 = time.monotonic()
            if args.trace:
                half = args.seconds / 2
                lat_u, tried_u = _measure(wl, ctx, half, False, collector, probe, failures)
                lat, tried = _measure(wl, ctx, half, True, collector, probe, failures)
            else:
                lat, tried = _measure(wl, ctx, args.seconds, False, collector, probe, failures)
            steal1, total1 = host.cpu_jiffies()
            host_figs = {"host.steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
                         "host.loadavg": host.loadavg()}
            rss_mb = rss.median_between(m0, time.monotonic()) / 2**20

            _progress(f"measured {len(lat_u) + len(lat)} ops: "
                      + " ".join(f"{x:.3f}" for x in lat_u + lat))
            _progress("op cpu s: " + " ".join(f"{x:.3f}" for x in ctx.op_cpu.values()))
            checks, bad = wl.check(ctx)
            failures.extend(bad)
            _progress(f"checked {checks} outputs")
            layers = wl.layers(ctx) if args.trace else {}
        peak_rss_mb = rss.peak() / 2**20
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        _progress("stopped")

    attempted = SETUPS + tried_u + tried + checks
    scale = probe.factor()
    raw = {"setup_s": starts[0] + statistics.median(setups),
           "op_p50_ms": _mix_median(wl, ctx.op_lat) * 1e3, "ops_per_s": len(lat) / sum(lat)}
    out = {
        "workload": wl.name, "k": K, "sizes": sizes, "inputs": inputs, "lat": lat,
        "attempted": attempted, "failures": failures, "extras": wl.extras(ctx),
        "peak_rss_mb": peak_rss_mb, "kinds": len({wl.kind(i) for i in ctx.op_lat}),
        "host": host_figs, "probe_ms": statistics.median(probe.times) * 1e3,
        "op_cpu_ms": _mix_median(wl, ctx.op_cpu) * 1e3, "raw": raw,
        "e2e": {
            "setup_s": raw["setup_s"] * scale,
            "op_p50_ms": raw["op_p50_ms"] * scale,
            "ops_per_s": raw["ops_per_s"] / scale,
            "rss_mb": rss_mb,
        },
    }
    if args.trace:
        out["layer"] = _layer_metrics(ctx, tr, collector, layers, lat, lat_u, K, starts, gens, {
            **host_figs, "host.peak_rss_mb": peak_rss_mb, "host.probe_ms": out["probe_ms"],
            "op.cpu_ms": out["op_cpu_ms"]})
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        out["span_file"] = os.path.join(".perfbench_out",
                                        f"trace-{wl.name}-s{args.seed}.json")
        tr.dump(os.path.join(ROOT, out["span_file"]))
        out["self_times"] = tr.self_times()
    return out


def _layer_metrics(ctx, tr, collector, layers, lat, lat_u, k, starts, gens,
                   host_figs) -> dict:
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    m.update({"session.start_s": starts[0],
              "session.new_session_s": statistics.median(starts[1:]),
              "setup.gen_s": statistics.median(gens),
              "setup.input_mb": ctx.inputs.input_bytes / 2**20})
    for span, name in SPAN_MEANS.items():
        d = tr.durations(span)
        if d:
            m[name] = statistics.fmean(d)
    for name, vals in ctx.layer.items():
        m[name] = statistics.fmean(vals)
    for name, v in collector.totals.items():
        m[f"spark.{name}"] = v / len(lat)
    m["spark.slot_busy_frac"] = collector.totals["executor_run_s"] / (sum(lat) * k)
    m.update(layers)
    if m["pip.candidates"]:
        m["pip.refine_yield"] = m["pip.hits"] / m["pip.candidates"]
    m.update(host_figs)
    m["trace.overhead_frac"] = statistics.median(lat) / statistics.median(lat_u) - 1
    return {name: m[name] for name, _ in PER_LAYER}


def _report(args, out) -> dict:
    """Print the human-readable lines; return the JSON result."""
    from perfbench import gen, host

    inp, sz, lat, e2e, raw = out["inputs"], out["sizes"], out["lat"], out["e2e"], out["raw"]
    print(f"perfbench workload={out['workload']} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} k={out['k']} shuffle_partitions={2 * out['k']}")
    print(f"input points={sz.points} files={sz.files} row_group={sz.row_group} "
          f"polygons={gen.POLYGONS} queries={sz.queries} "
          f"input_mb={inp.input_bytes / 2**20:.1f} hot_share={inp.hot_share:.3f}")
    print(f"host steal_frac={out['host']['host.steal_frac']:.4f} "
          f"loadavg={out['host']['host.loadavg']:.2f} probe_ms={out['probe_ms']:.2f} "
          f"scale={host.PROBE_NOMINAL_S * 1e3 / out['probe_ms']:.3f}  (over the timed loop)")
    failed = len(out["failures"])
    for f in out["failures"][:20]:
        print(f"FAILED {f}")
    n = f"{len(lat)} ops" + (" traced" if args.trace else "")
    at = "at the probe's nominal host speed, raw {:.6g}"
    lines = [
        ("setup_s", e2e["setup_s"], "s",
         f"session launch + median of {SETUPS} input/prepare/warm-up set-ups, "
         + at.format(raw["setup_s"])),
        ("op_p50_ms", e2e["op_p50_ms"], "ms",
         n + (f", mean of {out['kinds']} per-kind medians" if out["kinds"] > 1 else "")
         + ", " + at.format(raw["op_p50_ms"])),
        ("ops_per_s", e2e["ops_per_s"], "1/s",
         f"{n} / their busy seconds, " + at.format(raw["ops_per_s"])),
        ("rss_mb", e2e["rss_mb"], "MB", "median over the loop, driver + JVM + workers"),
        ("op_cpu_ms", out["op_cpu_ms"], "ms",
         "CPU time of driver + JVM + workers per op, median as op_p50_ms"),
    ]
    if out["kinds"] > 1:
        p, tail = _tail(lat)
        lines += [("query_p50_ms", statistics.median(lat) * 1e3, "ms", n),
                  (f"query_p{p}_ms", tail * 1e3, "ms", n)] if p > 50 else \
                 [("query_p50_ms", statistics.median(lat) * 1e3, "ms", n)]
        lines.append(("queries_per_s", raw["ops_per_s"], "1/s", "one closed-loop client"))
    else:
        wall = statistics.median(lat)
        lines += [("wall_s", wall, "s", f"median of {n}"),
                  ("rows_per_s", sz.points / wall, "rows/s", f"{sz.points} input points")]
    lines += [(name, v, unit, "") for name, (v, unit) in out["extras"].items()]
    lines += [("peak_rss_mb", out["peak_rss_mb"], "MB", "driver + JVM + workers"),
              ("failed_frac", failed / out["attempted"], "ratio",
               f"{failed} of {out['attempted']} set-ups, ops and checks")]
    for name, v, unit, note in lines:
        print(f"metric {name} = {v:.6g} {unit}" + (f"  ({note})" if note else ""))
    if args.trace:
        print(f"spans written to {out['span_file']}")
        for name, s in sorted(out["self_times"].items(), key=lambda kv: -kv[1]):
            print(f"self_time {name} = {s:.4f} s")
        metrics = {name: {"value": out["layer"][name], "unit": unit}
                   for name, unit in PER_LAYER}
        for name, v in metrics.items():
            print(f"layer {name} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    return {"correct": failed == 0, "attempted": out["attempted"], "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import projcl_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    result = _report(args, run(args))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
