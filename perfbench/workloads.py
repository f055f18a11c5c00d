"""The benchmark's workloads and their output checks.

``service_requests``: a closed loop with one client against
``api.EventLogService`` over the generated EVENTLOG table. Each cycle sends
three narrow requests (1, 2 and 3 ids over two weeks), one request that
matches no event, two wide requests (400 and 1,500 ids over 24 days,
``deserialize_remarks``) and two repeats of this cycle's parameter sets,
which the artifact cache serves (``gen.RequestPlan``); every cycle has the
same mix, and the timed window holds whole cycles. An operation is one
request.

``stream_catchup``: ``stream_events`` -> ``sessionized_traces`` ->
``stream_xes_sink`` with ``Trigger.AvailableNow`` over the generated lake,
from an empty checkpoint each time, two files per trigger. An operation is
one micro-batch; a catch-up is one whole query.

Each workload times one cold set-up (JVM and session start, input load,
warm-up), then measures. Peak memory is sampled up to the end of the timed
window; the output checks run after it and never inside it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time
import xml.etree.ElementTree as ET
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import gen
import host

XES_NS = "{http://www.xes-standard.org/}"


@dataclass
class Op:
    kind: str  # request class, or "batch"
    wall: float
    traced: bool = False
    start: float = 0.0  # time.time() at its start


@dataclass
class Outcome:
    setup_s: float
    peak_rss_mb: float
    ops: list[Op]  # timed operations (both halves in a traced run)
    units: list[dict]  # request or catch-up records, for checks and tables
    xes_events: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Bench:
    """State shared by a run: paths, the session, the optional tracer."""

    def __init__(self, work: str, seed: int, seconds: float, size: str, tracer, codegen, sampler) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.codegen = codegen
        self.sampler = sampler
        self.spark = None
        self.log4j = os.path.join(work, "log4j2.properties")

    def span(self, name: str, req: str | None = None, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, req=req, **attrs)

    def start_session(self):
        from mobsos_event_log_generator_spark import session

        with self.span("session.get_spark", req="setup"):
            self.spark = session.get_spark(
                "perfbench",
                master=host.MASTER,
                shuffle_partitions=host.SHUFFLE_PARTITIONS,
                extra_conf=host.spark_conf(self.work, self.log4j),
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            if self.tracer is not None:
                self.tracer.sc = None


def _timed_pairs(bench: Bench, run_unit, unit_s: float) -> float:
    """Run ``bench.seconds / unit_s`` whole units (at least one); a unit is
    one request cycle or one catch-up, and ``unit_s`` its length on an
    uncontended 4-vCPU host. Every run of a workload so does the same work
    and the same mix of operations; stopping at a clock instead made the
    unit count, and with it the figures, flip between runs. Only when the
    host is so slow that the window passes 1.5 times ``bench.seconds`` does
    the run stop early, so that it still ends within its time limit. A
    traced run runs each unit twice, untraced and traced, so each half does
    the work of an untraced run; which half goes first alternates (and
    starts by seed parity), so the difference is the tracing overhead and
    not warm-up order. Returns the peak memory of the run so far, in MB."""
    n = max(1, int(bench.seconds / unit_s))
    cap = time.perf_counter() + 1.5 * bench.seconds * (1 if bench.tracer is None else 2)
    for i in range(n):
        if i and time.perf_counter() > cap:
            break
        if bench.tracer is None:
            run_unit(i, False)
        else:
            for traced in ((False, True) if (i + bench.seed) % 2 == 0 else (True, False)):
                bench.tracer.enabled = traced
                run_unit(i, traced)
            bench.tracer.enabled = True
    return bench.sampler.stop()


# ---------------------------------------------------------------------------
# service_requests
# ---------------------------------------------------------------------------

SERVICE_SIZES = {"full": dict(n_events=150_000, n_resources=10_000), "tiny": dict(n_events=20_000, n_resources=2_000)}
DAYS = 28
CYCLE_S = 10.0  # one warm request cycle at full size on a 4-vCPU host, local[2]


def run_service(bench: Bench) -> Outcome:
    from mobsos_event_log_generator_spark import api
    from mobsos_event_log_generator_spark.cache import ArtifactCache
    from mobsos_event_log_generator_spark.plans.eventlog import EventLogParams
    from mobsos_event_log_generator_spark.sinks import xes
    from mobsos_event_log_generator_spark.sources import parquet

    data_dir = os.path.join(bench.work, "data")
    os.makedirs(data_dir, exist_ok=True)
    t_gen = time.perf_counter()
    data = gen.eventlog_table(bench.seed, data_dir, days=DAYS, **SERVICE_SIZES[bench.size])
    params = EventLogParams(remarks_keys=list(gen.REMARKS_KEYS))
    gen_s = time.perf_counter() - t_gen

    if bench.tracer is not None:
        t = bench.tracer
        t.install(api, "build_eventlog", "plans.build_eventlog")
        t.install(api, "is_empty", "operators.is_empty")
        t.install(api, "write_xes", "sinks.write_xes")
        t.install(api, "resolve_bot_resources", "sources.resolve_bot_resources")
        t.install(xes, "traces_to_xml", "sinks.traces_to_xml")
        t.install(xes, "assemble_traces", "operators.assemble_traces")

    def service(cache_dir: str):
        svc = api.EventLogService(events, ArtifactCache(cache_dir, ttl_seconds=1e9), params)
        if bench.tracer is not None:
            bench.tracer.install(svc.cache, "lookup", "cache.lookup", note=lambda sp, r: sp.attrs.update(hit=r is not None))
            bench.tracer.install(svc.cache, "path_for", "cache.path_for")
        return svc

    t0, t0_wall = time.perf_counter(), time.time()
    spark = bench.start_session()
    with bench.span("sources.load_table", req="setup"):
        events = parquet.load_table(spark, data_dir, "eventlog")
    # warm-up: one whole cycle of other parameter sets, so that every path
    # the timed cycles take has run (and compiled) once
    svc = service(os.path.join(bench.work, "cache-setup"))
    warm = gen.RequestPlan(bench.seed + 7919, data, DAYS)
    reqs = warm.cycle()
    done = [r for r in reqs if _call(bench, svc, r, "setup")["path"]]
    for req in warm.repeats(done):
        _call(bench, svc, req, "setup")
    setup_s = time.perf_counter() - t0
    setup_steal = bench.sampler.steal_share(t0_wall, time.time())
    calib = host.calibrate(spark)
    bench.codegen.poll()

    services = {False: service(os.path.join(bench.work, "cache")), True: None}
    if bench.tracer is not None:
        services[True] = service(os.path.join(bench.work, "cache-traced"))
    plan = gen.RequestPlan(bench.seed, data, DAYS)
    cycles: list[list] = []
    units: list[dict] = []
    ops: list[Op] = []
    snapshots: dict[tuple[bool, int], tuple[str, str]] = {}

    def send(c: int, reqs: list, traced: bool) -> list[dict]:
        recs = []
        for req in reqs:
            rec = _call(bench, services[traced], req, "timed", traced)
            rec["cycle"] = c
            recs.append(rec)
            ops.append(Op(req.cls, rec["wall"], traced, rec["start"]))
            if rec["path"] and req.cls != "repeat":
                snapshots[(traced, req.rid)] = (rec["path"], _sha(rec["path"]))
        units.extend(recs)
        return recs

    def run_cycle(c: int, traced: bool) -> None:
        if c < len(cycles):  # the other half of a traced pair replays it
            send(c, cycles[c], traced)
            return
        cycles.append(plan.cycle())
        recs = send(c, cycles[c], traced)
        reps = plan.repeats([r for r, rec in zip(cycles[c], recs) if rec["path"]])
        cycles[c].extend(reps)
        send(c, reps, traced)

    peak = _timed_pairs(bench, run_cycle, CYCLE_S)
    out = Outcome(setup_s, peak, ops, units, extra={"calib_s": calib, "input": data.props, "gen_s": gen_s,
                                                       "setup_steal": setup_steal})
    t_check = time.perf_counter()
    _check_service(data, units, [r for c in cycles for r in c], snapshots, out)
    out.extra["check_s"] = time.perf_counter() - t_check
    return out


def _call(bench: Bench, svc, req, phase: str, traced: bool = False) -> dict:
    from mobsos_event_log_generator_spark.api import EmptyEventLog

    fn = getattr(svc, req.call)
    rec = {"rid": req.rid, "cls": req.cls, "call": req.call, "n_ids": req.n_ids, "phase": phase, "traced": traced,
           "path": None, "outcome": "ok", "error": None, "start": time.time()}
    t0 = time.perf_counter()
    with bench.span(f"api.{req.call}", req=f"{phase}-{req.rid}-{int(traced)}", cls=req.cls, n_ids=req.n_ids):
        try:
            rec["path"] = fn(**req.args)
        except EmptyEventLog:
            rec["outcome"] = "empty"
        except Exception as ex:  # noqa: BLE001 - a failed request is counted, not fatal
            rec["outcome"] = "error"
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
    rec["wall"] = time.perf_counter() - t0
    rec["codegen"] = bench.codegen.poll()
    return rec


def _sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _expected_counts(data: gen.EventLogInput, reqs: list) -> dict[int, tuple[int, int]]:
    """(traces, events) per request from DuckDB over the generated parquet:
    an independent statement of the reference's filter semantics."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    out = {}
    for req in reqs:
        a = req.args
        ids = pa.table({"id": pa.array(req.ids, pa.string())})
        con.register("ids", ids)
        where = ["e.CASE_ID IS NOT NULL", "e.RESOURCE IN (SELECT id FROM ids)",
                 "e.TIME_STAMP >= CAST(? AS TIMESTAMPTZ)", "e.TIME_STAMP <= CAST(? AS TIMESTAMPTZ)"]
        if not a["include_bot_messages"]:
            where.append("e.EVENT_TYPE IN ('SERVICE_CUSTOM_MESSAGE_1', 'SERVICE_CUSTOM_MESSAGE_3')")
        if not a["include_life_cycle_start"]:
            where.append("e.LIFECYCLE_PHASE = 'complete'")
        sql = f"SELECT count(DISTINCT e.CASE_ID), count(*) FROM read_parquet(?) e WHERE {' AND '.join(where)}"
        out[req.rid] = tuple(con.execute(sql, [data.path, a["start_date"] + "+00", a["end_date"] + "+00"]).fetchone())
        con.unregister("ids")
    con.close()
    return out


def _parse_xes(path: str, schema) -> tuple[int, int, int]:
    """(traces, events, schema violations) of one XES document."""
    root = ET.parse(path).getroot()
    errors = sum(1 for _ in schema.iter_errors(root))
    traces = root.findall(f"{XES_NS}trace")
    return len(traces), sum(len(t.findall(f"{XES_NS}event")) for t in traces), errors


def _check_service(data, units, sent: list, snapshots, out: Outcome) -> None:
    from mobsos_event_log_generator_spark.sinks.xsd_validate import xes_schema

    schema = xes_schema()
    by_rid = {r.rid: r for r in sent}
    originals = {r.rid: r for r in by_rid.values() if r.cls != "repeat"}
    repeats_of = {r.rid: r.src for r in by_rid.values() if r.cls == "repeat"}
    expected = _expected_counts(data, list(originals.values()))
    parsed: dict[str, tuple[int, int, int]] = {}
    for u in units:
        out.attempted += 1
        src = repeats_of.get(u["rid"], u["rid"])
        want_traces, want_events = expected[src]
        problem = None
        if u["outcome"] == "error":
            problem = u["error"]
        elif u["outcome"] == "empty":
            if want_events:
                problem = f"EmptyEventLog but {want_events} events match"
        elif u["cls"] == "repeat":
            snap = snapshots.get((u["traced"], src))
            if snap is None or snap[0] != u["path"] or _sha(u["path"]) != snap[1]:
                problem = "cache hit is not the byte-identical artifact"
        else:
            if u["path"] not in parsed:
                parsed[u["path"]] = _parse_xes(u["path"], schema)
            traces, events, errors = parsed[u["path"]]
            u["xes_events"], u["xes_bytes"] = events, os.path.getsize(u["path"])
            if not u["traced"]:
                out.xes_events += events
            if errors:
                problem = f"{errors} XES schema violations"
            elif (traces, events) != (want_traces, want_events):
                problem = f"XES has {traces} traces/{events} events, expected {want_traces}/{want_events}"
        u["expected_events"] = want_events
        if problem:
            out.failed += 1
            out.failures.append(f"request {u['rid']} ({u['cls']} {u['call']}, {u['n_ids']} ids): {problem}")
    timed = [u for u in units if not u["traced"]]
    rep = sum(1 for u in timed if u["cls"] == "repeat")
    id_counts = {c: sorted(u["n_ids"] for u in timed if u["cls"] == c) for c in ("narrow", "empty", "wide", "repeat")}
    out.extra["requests"] = {
        "n": len(timed),
        "repeat_share": round(rep / len(timed), 4) if timed else 0.0,
        "empty": sum(1 for u in timed if u["outcome"] == "empty"),
        "ids_per_request": {c: {"n": len(v), "min": v[0], "median": statistics.median(v), "max": v[-1]}
                            for c, v in id_counts.items() if v},
    }


# ---------------------------------------------------------------------------
# stream_catchup
# ---------------------------------------------------------------------------

STREAM_SIZES = {"full": dict(n_events=18_000, n_files=6, n_users=240), "tiny": dict(n_events=4_000, n_files=4, n_users=60)}
FILES_PER_TRIGGER = 2
CATCHUP_S = 8.0  # one warm catch-up at full size on a 4-vCPU host, local[2]
GAP_S = 30 * 60
DELAY_S = 3600


def run_stream(bench: Bench) -> Outcome:
    from mobsos_event_log_generator_spark.sinks import xes
    from mobsos_event_log_generator_spark.streaming import ingest, sessionize

    t_gen = time.perf_counter()
    size = STREAM_SIZES[bench.size]
    lake = gen.events_lake(bench.seed, os.path.join(bench.work, "lake"), **size)
    # the warm-up catch-up runs two micro-batches of the size of a timed one:
    # the second one merges into state the first one left, as timed ones do
    warm_lake = gen.events_lake(bench.seed + 7919, os.path.join(bench.work, "warm-lake"),
                                n_events=size["n_events"] * 2 * FILES_PER_TRIGGER // size["n_files"],
                                n_files=2 * FILES_PER_TRIGGER, n_users=size["n_users"])
    gen_s = time.perf_counter() - t_gen
    if bench.tracer is not None:
        bench.tracer.install(xes, "write_xes", "sinks.write_xes")
        bench.tracer.install(xes, "traces_to_xml", "sinks.traces_to_xml")
        bench.tracer.install(xes, "assemble_traces", "operators.assemble_traces")

    def catch_up(spark, src_dir: str, tag: str, traced: bool = False) -> dict:
        out_dir = os.path.join(bench.work, "xes", tag)
        ckpt = os.path.join(bench.work, "ckpt", tag)
        rec = {"tag": tag, "traced": traced, "out": out_dir, "error": None, "start": time.time()}
        t0 = time.perf_counter()
        with bench.span("streaming.catchup", req=tag) as sp:
            try:
                with bench.span("sources.stream_events"):
                    events = ingest.stream_events(spark, src_dir, max_files_per_trigger=FILES_PER_TRIGGER)
                with bench.span("streaming.sessionized_traces"):
                    traces = sessionize.sessionized_traces(events)
                if sp is not None:
                    bench.tracer.ambient = sp
                with bench.span("streaming.stream_xes_sink"):
                    q = sessionize.stream_xes_sink(traces, out_dir, ckpt)
                q.awaitTermination()
                rec["progress"] = [_progress(p) for p in q.recentProgress]
                rec["run_id"] = str(q.runId)
            except Exception as ex:  # noqa: BLE001 - a failed catch-up is counted, not fatal
                rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
                rec["progress"] = []
            finally:
                if bench.tracer is not None:
                    bench.tracer.ambient = None
        rec["wall"] = time.perf_counter() - t0
        rec["span"] = sp.sid if sp is not None else None
        rec["codegen"] = bench.codegen.poll()
        return rec

    t0, t0_wall = time.perf_counter(), time.time()
    spark = bench.start_session()
    catch_up(spark, warm_lake.path, "setup")
    setup_s = time.perf_counter() - t0
    setup_steal = bench.sampler.steal_share(t0_wall, time.time())
    calib = host.calibrate(spark)
    bench.codegen.poll()

    units: list[dict] = []
    ops: list[Op] = []

    def run_catchup(i: int, traced: bool) -> None:
        rec = catch_up(spark, lake.path, f"run{i}-{int(traced)}", traced)
        units.append(rec)
        for p in rec["progress"]:
            ops.append(Op("batch", p["trigger_ms"] / 1e3, traced, p["start"]))

    peak = _timed_pairs(bench, run_catchup, CATCHUP_S)
    out = Outcome(setup_s, peak, ops, units, extra={"calib_s": calib, "input": lake.props, "gen_s": gen_s,
                                                       "setup_steal": setup_steal})
    t_check = time.perf_counter()
    _check_stream(lake, units, out)
    out.extra["check_s"] = time.perf_counter() - t_check
    return out


def _progress(p) -> dict:
    d = p.durationMs or {}
    states = p.stateOperators or []
    return {
        "batch": p.batchId,
        "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
        "rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "state_rows": sum(s.numRowsTotal for s in states),
        "state_memory_bytes": sum(s.memoryUsedBytes for s in states),
        "state_commit_ms": sum(s.commitTimeMs for s in states),
        "rows_dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in states),
    }


def finalized_sessions(lake_dir: str) -> int:
    """Independent count of the sessions an AvailableNow run must emit:
    gap-split sessions (30 min) per user whose window end (last event +
    gap) is at or before the final watermark (latest event - 1 h delay)."""
    import pandas as pd

    df = pd.concat(pd.read_parquet(p, columns=["ts", "user_id"]) for p in sorted(glob.glob(f"{lake_dir}/*.parquet")))
    df = df.sort_values(["user_id", "ts"])
    t = df["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    u = df["user_id"].to_numpy()
    new = (u[1:] != u[:-1]) | (t[1:] - t[:-1] >= GAP_S * 1_000_000)
    last_of_session = list(new) + [True]
    ends = t[[i for i, last in enumerate(last_of_session) if last]]
    watermark = t.max() - DELAY_S * 1_000_000
    return int(((ends + GAP_S * 1_000_000) <= watermark).sum())


def _check_stream(lake: gen.LakeInput, units: list[dict], out: Outcome) -> None:
    from mobsos_event_log_generator_spark.sinks.xsd_validate import xes_schema

    schema = xes_schema()
    want = finalized_sessions(lake.path)
    out.extra["expected_sessions"] = want
    for u in units:
        out.attempted += 1
        problem = u["error"]
        if problem is None:
            traces = events = errors = 0
            shards = sorted(glob.glob(os.path.join(u["out"], "batch=*", "part-*.xes")))
            for path in shards:
                t, e, err = _parse_xes(path, schema)
                traces, events, errors = traces + t, events + e, errors + err
            u.update(shards=len(shards), xes_events=events,
                     xes_bytes=sum(os.path.getsize(p) for p in shards))
            if not u["traced"]:
                out.xes_events += events
            if errors:
                problem = f"{errors} XES schema violations"
            elif traces != want or events != want:
                problem = f"shards hold {traces} traces/{events} events, expected {want} finalized sessions"
        if problem:
            out.failed += 1
            out.failures.append(f"catch-up {u['tag']}: {problem}")
        shutil.rmtree(u["out"], ignore_errors=True)
