"""Benchmark of the event-log engine, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload service_requests --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``): ``service_requests`` and ``stream_catchup``.
The inputs are generated from ``--seed``; the engine only sees the generated
files. With ``--trace 0`` the run reports the end-to-end metrics, every
time net of the CPU time the hypervisor stole (see ``end_to_end``); with
``--trace 1`` it records spans around the calls into each package module
and reports the per-layer metrics. Human-readable tables go to stdout first;
the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--size tiny`` shrinks the inputs for the smoke test (``test_smoke.py``).
Everything the run writes stays under ``.perfbench_work/`` in the checkout;
the traced run's spans are kept there as ``traces/<workload>-<seed>.json``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("service_requests", "stream_catchup")
LAYERS = ("api", "cache", "plans", "operators", "sinks", "sources", "streaming")


def _median(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


def tail(v: list[float]) -> tuple[str, float, int] | None:
    """The highest of p99.9/p99/p90/p50 with at least ten samples above it."""
    n = len(v)
    for label, q in (("p99.9", 0.999), ("p99", 0.99), ("p90", 0.9), ("p50", 0.5)):
        if n * (1 - q) >= 10:
            s = sorted(v)
            return label, s[min(n - 1, int(q * n))], n
    return None


# ---------------------------------------------------------------------------
# end-to-end metrics
# ---------------------------------------------------------------------------


def end_to_end(workload: str, out, sampler) -> tuple[dict, dict]:
    """Every time is net of steal: its wall times one minus the share of
    busy CPU time the hypervisor took from this VM in the same interval
    (``host.RssSampler.steal_share``). That time went to other guests of a
    shared host: on a 4-vCPU VM, phases in which 30-50 % of busy CPU time
    was stolen doubled walls, and no change to the program wins it back. An op is a request (service) or a micro-batch
    (stream). XES events per second divide by the net time of the calls
    that wrote them: the fresh requests (service) or the catch-ups, with
    query start and stop (stream). Returns the metrics and the raw walls
    and steal shares they came from, for the table."""
    ops = [o for o in out.ops if not o.traced]
    op_steal = [sampler.steal_share(o.start, o.start + o.wall) for o in ops]
    op_net = [o.wall * (1 - s) for o, s in zip(ops, op_steal)]
    if workload == "service_requests":
        writers = [(o.wall, s) for o, s in zip(ops, op_steal) if o.kind in ("narrow", "wide")]
    else:
        writers = [(u["wall"], sampler.steal_share(u["start"], u["start"] + u["wall"]))
                   for u in out.units if not u["traced"]]
    busy = sum(w * (1 - s) for w, s in writers)
    setup_steal = out.extra["setup_steal"]
    metrics = {
        "setup_s": (out.setup_s * (1 - setup_steal), "s"),
        "peak_rss_mb": (out.peak_rss_mb, "MB"),
        "op_p50_s": (_median(op_net), "s"),
        "xes_events_per_s": (out.xes_events / busy if busy else 0.0, "1/s"),
    }
    raw = {
        "setup_s": (out.setup_s, setup_steal),
        "op_p50_s": (_median([o.wall for o in ops]), _median(op_steal)),
        "xes_events_per_s": (out.xes_events / sum(w for w, _ in writers) if writers else 0.0,
                             sum(w * s for w, s in writers) / max(sum(w for w, _ in writers), 1e-9)),
    }
    return metrics, raw


def print_end_to_end(workload: str, out, metrics: dict, raw: dict) -> None:
    ops = [o for o in out.ops if not o.traced]
    print("== end to end (untraced; times net of steal, raw wall and steal share beside them) ==")
    for name, (value, unit) in metrics.items():
        note = f"  (raw {raw[name][0]:.4f}, steal share {raw[name][1]:.3f})" if name in raw else ""
        print(f"  {name:<22} {value:>14.4f} {unit}{note}")
    print(f"  {'fail_ratio':<22} {out.failed / max(out.attempted, 1):>14.4f} (base: {out.attempted} attempts)")
    if workload == "service_requests":
        busy = sum(o.wall for o in ops)
        print(f"  {'requests_per_s':<22} {len(ops) / busy if busy else 0.0:>14.4f} 1/s (base: {len(ops)} requests)")
        for cls in ("narrow", "empty", "wide", "repeat"):
            walls = [o.wall for o in ops if o.kind == cls]
            t = tail(walls)
            tail_txt = f"{t[0]} {t[1]:.4f} s" if t else "no percentile has 10 samples beyond it"
            print(f"  {cls + '_p50_s':<22} {_median(walls):>14.4f} s  raw (n={len(walls)}; tail: {tail_txt})")
        for c in sorted({u["cycle"] for u in out.units if not u["traced"]}):
            walls = ", ".join(f"{u['cls']} {u['n_ids']} {u['wall']:.2f}" for u in out.units
                              if u["cycle"] == c and not u["traced"])
            print(f"    cycle {c}: {walls} s")
    else:
        units = [u for u in out.units if not u["traced"]]
        walls = [u["wall"] for u in units]
        print(f"  {'catchup_s':<22} {_median(walls):>14.4f} s  raw (n={len(walls)} catch-ups, "
              f"{len(ops)} micro-batches)")
        for u in units:
            batches = ", ".join(f"{p['trigger_ms'] / 1e3:.2f}" for p in u["progress"])
            print(f"    catch-up {u['tag']}: {u['wall']:.2f} s; micro-batches {batches} s")
        t = tail([o.wall for o in ops])
        print(f"  {'batch tail':<22} " + (f"{t[0]} {t[1]:.4f} s (n={t[2]})" if t else "no percentile has 10 samples beyond it"))


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------


def per_layer(workload: str, out, tracer) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced half of the timed window (set-up spans
    only feed the ``session`` and ``sources.load`` figures). An op is a
    request (service) or a micro-batch (stream)."""
    import tracing

    spans = tracer.spans
    kids = tracer.children()
    by_id = {s.sid: s for s in spans}
    setup = [s for s in spans if (s.req or "").startswith("setup")]
    timed = [s for s in spans if not (s.req or "").startswith("setup")]
    top_wall = sum(s.wall for s in timed if s.parent is None)
    traced_ops = [o for o in out.ops if o.traced]
    plain_ops = [o for o in out.ops if not o.traced]
    n_ops = max(len(traced_ops), 1)
    op_name = "streaming.batch" if workload == "stream_catchup" else None

    def op_of(s):
        while s is not None:
            if (op_name and s.name == op_name) or (not op_name and s.parent is None):
                return s.sid
            s = by_id.get(s.parent)
        return None

    self_by_layer = {layer: 0.0 for layer in LAYERS}
    driver_only = run_s = cpu_s = covered = 0.0
    shuffle = spill = 0
    per_op: dict[int, list[int]] = {s.sid: [0, 0, 0] for s in timed if op_of(s) == s.sid}
    loose = [0, 0, 0]  # jobs outside any op (a catch-up's own start-up jobs)
    for s in timed:
        own = tracer.self_intervals(s, kids.get(s.sid, []))
        self_s = tracing.length(own)
        self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + self_s
        job_iv = tracing.union([(j.submit, max(j.end, j.submit)) for j in s.jobs])
        driver_only += self_s - tracing.length(tracing.clip(job_iv, own))
        counts = per_op.get(op_of(s), loose)
        for j in s.jobs:
            counts[0], counts[1], counts[2] = counts[0] + 1, counts[1] + j.stages, counts[2] + j.tasks
            run_s, cpu_s = run_s + j.run_s, cpu_s + j.cpu_s
            shuffle, spill = shuffle + j.shuffle_read + j.shuffle_write, spill + j.spill
        if s.parent is None:
            covered += tracing.length(tracing.union([(k.start, k.end) for k in kids.get(s.sid, [])]))

    def calls(name: str) -> list[float]:
        return [s.wall for s in timed if s.name == name]

    lookups = [s for s in timed if s.name == "cache.lookup"]
    hits = sum(1 for s in lookups if s.attrs.get("hit"))
    if workload == "stream_catchup":
        t_units = [u for u in out.units if u["traced"]]
        traced_mean = sum(u["wall"] for u in t_units) / n_ops
        plain_mean = sum(u["wall"] for u in out.units if not u["traced"]) / max(len(plain_ops), 1)
        files = sum(u.get("shards", 0) for u in t_units)
        written = t_units
    else:
        traced_mean = sum(o.wall for o in traced_ops) / n_ops
        plain_mean = sum(o.wall for o in plain_ops) / max(len(plain_ops), 1)
        written = [u for u in out.units if u["traced"] and u.get("xes_events") is not None]
        files = len(written)
    xes_bytes = sum(u.get("xes_bytes", 0) for u in written)
    xes_events = sum(u.get("xes_events", 0) for u in written)
    progress = [p for u in out.units if u["traced"] for p in u.get("progress", [])]
    trig = sum(p["trigger_ms"] for p in progress)
    load_name = "sources.load_table" if workload == "service_requests" else "sources.stream_events"

    ratios = {  # name: (numerator, base, what the base is)
        "trace.span_cover_ratio": (covered, top_wall, "s of traced op wall"),
        **{f"{layer}.self_share": (self_by_layer.get(layer, 0.0), top_wall, "s of traced op wall")
           for layer in LAYERS},
        "spark.driver_only_share": (driver_only, top_wall, "s of traced op wall"),
        "cache.hit_ratio": (hits, len(lookups), "lookups"),
        **{f"streaming.{k}_share": (sum(p[f"{k}_ms"] for p in progress), trig, "ms of trigger execution")
           for k in ("add_batch", "query_planning", "wal_commit", "state_commit")},
    }
    job_counts = {
        "spark.jobs_per_op": [c[0] for c in per_op.values()],
        "spark.stages_per_op": [c[1] for c in per_op.values()],
        "spark.tasks_per_op": [c[2] for c in per_op.values()],
    }
    m = {
        "session.get_spark_s": (_median([s.wall for s in setup if s.name == "session.get_spark"]), "s"),
        "sources.load_s": (_median([s.wall for s in spans if s.name == load_name]), "s"),
        "sinks.write_xes_s": (_median(calls("sinks.write_xes")), "s"),
        "sinks.traces_to_xml_s": (_median(calls("sinks.traces_to_xml")), "s"),
        "spark.executor_run_s_per_op": (run_s / n_ops, "s"),
        "spark.executor_cpu_s_per_op": (cpu_s / n_ops, "s"),
        "spark.driver_only_s_per_op": (driver_only / n_ops, "s"),
        "trace.overhead_s_per_op": (traced_mean - plain_mean, "s"),
        **{name: (num / base if base else 0.0, "ratio") for name, (num, base, _) in ratios.items()},
        "cache.lookups_per_op": (len(lookups) / n_ops, "count"),
        **{name: ((sum(v) + loose[i]) / n_ops, "count") for i, (name, v) in enumerate(job_counts.items())},
        "spark.shuffle_bytes_per_op": (shuffle / n_ops, "bytes"),
        "spark.spill_bytes_per_op": (spill / n_ops, "bytes"),
        "spark.codegen_fallbacks": (sum(u.get("codegen", 0) for u in out.units if u["traced"]), "count"),
        "sinks.files_per_op": (files / n_ops, "count"),
        "sinks.xes_bytes_per_event": (xes_bytes / xes_events if xes_events else 0.0, "bytes"),
        "streaming.state_rows_max": (max([p["state_rows"] for p in progress], default=0), "count"),
        "streaming.state_memory_bytes_max": (max([p["state_memory_bytes"] for p in progress], default=0), "bytes"),
        "streaming.rows_dropped_by_watermark": (sum(p["rows_dropped_by_watermark"] for p in progress), "count"),
    }
    lines = _layer_table(tracer, timed, kids, hits, lookups, progress)
    lines.append(f"-- metrics ({n_ops} traced ops; ratios as numerator / base, counts with their repeat status)")
    for name, (value, unit) in m.items():
        note = ""
        if name in ratios:
            num, base, what = ratios[name]
            note = f"= {num:.4g} / {base:.4g} {what}"
        elif name in job_counts:
            v = job_counts[name]
            note = (f"per op: {'exact' if len(set(v)) <= 1 else f'varies {min(v)}-{max(v)}'}"
                    + (f"; {loose[0]} jobs outside any op" if name == "spark.jobs_per_op" and loose[0] else ""))
        lines.append(f"   {name:<38} {value:>14.4f} {unit:<6} {note}")
    lines.append(f"   tracing overhead per op: traced {traced_mean:.4f} s - untraced {plain_mean:.4f} s "
                 f"= {traced_mean - plain_mean:+.4f} s")
    return m, lines


def _layer_table(tracer, timed, kids, hits, lookups, progress) -> list[str]:
    """Per request class (or per catch-up): every span name with its calls,
    median wall, self time and Spark counts; counts say whether they repeat
    exactly across the calls of that class."""
    import tracing

    by_id = {s.sid: s for s in timed}

    def root_of(s):
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    lines = ["== per layer (traced) =="]
    groups: dict[str, list] = {}
    for s in timed:
        r = root_of(s)
        cls = r.attrs.get("cls", "catchup")
        groups.setdefault(cls, []).append(s)
    for cls in sorted(groups):
        ss = groups[cls]
        n_root = sum(1 for s in ss if s.parent is None)
        root_wall = sum(s.wall for s in ss if s.parent is None)
        cover = sum(tracing.length(tracing.union([(k.start, k.end) for k in kids.get(s.sid, [])]))
                    for s in ss if s.parent is None)
        lines.append(f"-- {cls}: {n_root} ops, wall {root_wall:.3f} s, spans cover "
                     f"{cover / root_wall if root_wall else 0:.3f} of it (base {root_wall:.3f} s)")
        lines.append(f"   {'span':<34}{'calls':>6}{'p50 s':>9}{'self s':>9}{'jobs':>12}{'stages':>12}"
                     f"{'tasks':>12}{'exec s':>9}{'drv-only s':>11}")
        names = sorted({s.name for s in ss})
        for name in names:
            sel = [s for s in ss if s.name == name]
            selfs = [tracing.length(tracer.self_intervals(s, kids.get(s.sid, []))) for s in sel]
            drv = 0.0
            for s, own_len in zip(sel, selfs):
                own = tracer.self_intervals(s, kids.get(s.sid, []))
                job_iv = tracing.union([(j.submit, max(j.end, j.submit)) for j in s.jobs])
                drv += own_len - tracing.length(tracing.clip(job_iv, own))

            def count(f):
                per = [sum(f(j) for j in s.jobs) for s in sel]
                tag = "exact" if len(set(per)) == 1 else "varies"
                return f"{sum(per) / len(per):.1f}/{tag}"

            lines.append(
                f"   {name:<34}{len(sel):>6}{_median([s.wall for s in sel]):>9.4f}{sum(selfs):>9.3f}"
                f"{count(lambda j: 1):>12}{count(lambda j: j.stages):>12}{count(lambda j: j.tasks):>12}"
                f"{sum(j.run_s for s in sel for j in s.jobs):>9.3f}{drv:>11.3f}"
            )
    lines.append("   (jobs/stages/tasks: mean per call / whether every call of the class had the same count)")
    # the named figures of the layer census
    named = []
    for cls in ("narrow", "wide"):
        b = [s.wall for s in groups.get(cls, []) if s.name == "plans.build_eventlog"]
        if b:
            named.append(f"plans.build_eventlog_s.{cls}={_median(b):.4f}")
    e = [s.wall for c in ("narrow", "wide") for s in groups.get(c, []) if s.name == "operators.is_empty"]
    if e:
        named.append(f"operators.is_empty_s={_median(e):.4f}")
    nj = [len(s.jobs) + sum(len(d.jobs) for d in timed if root_of(d) is s and d is not s)
          for s in groups.get("narrow", []) if s.parent is None]
    if nj:
        named.append(f"spark.jobs.narrow={_median(nj):.1f} ({'exact' if len(set(nj)) == 1 else 'varies'})")
    if lookups:
        named.append(f"cache.lookup_ms={1e3 * _median([s.wall for s in lookups]):.3f} "
                     f"cache.hit_ratio={hits}/{len(lookups)}")
    if progress:
        for k in ("trigger", "add_batch", "query_planning", "wal_commit", "state_commit"):
            named.append(f"streaming.{k}_ms={_median([p[k + '_ms'] for p in progress]):.1f}")
        named.append(f"streaming.batches={len(progress)}")
    lines.append("   named: " + " ".join(named))
    return lines


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import mobsos_event_log_generator_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2

    import host
    import tracing
    import workloads
    from bench import _LOG4J2_TEMPLATE, _CodegenWatch

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.prepare_env(ROOT, work)
    logfile = os.path.join(work, "spark.log")
    with open(os.path.join(work, "log4j2.properties"), "w") as f:
        f.write(_LOG4J2_TEMPLATE.format(logfile=logfile))

    record = host.host_record(args.seed)
    tracer = tracing.Tracer() if args.trace else None
    sampler = host.RssSampler()
    bench = workloads.Bench(work, args.seed, args.seconds, args.size, tracer, _CodegenWatch(logfile), sampler)
    sampler.start()
    t_run = time.perf_counter()
    ticks0 = host.cpu_ticks()
    try:
        run = workloads.run_service if args.workload == "service_requests" else workloads.run_stream
        out = run(bench)
        if tracer is not None:
            extra = {u["span"]: u["run_id"] for u in out.units
                     if u.get("traced") and u.get("span") and u.get("run_id")}
            if args.workload == "stream_catchup":
                _add_batches(tracer, out)
            tracer.collect_spark(extra)
    finally:
        sampler.stop()
        _shutdown(bench)

    ticks1 = host.cpu_ticks()
    record.update(steal_share_of_busy_cpu=round((ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), 4),
                  calib_s=out.extra.get("calib_s"), input=out.extra.get("input"),
                  gen_s=round(out.extra["gen_s"], 2), check_s=round(out.extra["check_s"], 2),
                  requests=out.extra.get("requests"), expected_sessions=out.extra.get("expected_sessions"),
                  run_s=round(time.perf_counter() - t_run, 2))
    print("== host and inputs (compare only runs with equal cpus and master) ==")
    print("  " + json.dumps(record, sort_keys=True))
    for line in out.failures[:20]:
        print(f"  FAIL {line}")
    if args.trace:
        metrics, lines = per_layer(args.workload, out, tracer)
        print("\n".join(lines))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"),
                    {"host": record, "metrics": metrics, "units": out.units})
    else:
        metrics, raw = end_to_end(args.workload, out, sampler)
        print_end_to_end(args.workload, out, metrics, raw)
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _add_batches(tracer, out) -> None:
    """Micro-batches of each traced catch-up (from ``recentProgress``) as
    child spans; the sink spans that ran inside a batch move under it."""
    by_id = {s.sid: s for s in tracer.spans}
    for u in out.units:
        if not u.get("traced") or not u.get("span"):
            continue
        parent = by_id[u["span"]]
        batches = [tracer.add("streaming.batch", p["start"], p["start"] + p["trigger_ms"] / 1e3, parent,
                              batch=p["batch"]) for p in u["progress"]]
        for s in tracer.spans:
            if s.parent == parent.sid and s.name.startswith("sinks."):
                inside = [b for b in batches if b.start <= s.start <= b.end]
                if inside:
                    s.parent = inside[0].sid


def _shutdown(bench) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    bench.stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
