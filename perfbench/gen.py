"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed and the size arguments: the
same seed writes the same bytes. Two inputs are generated:

* an EVENTLOG table in the reference schema (``eventlog.parquet``) plus the
  bot-manager ``/bots`` payload that maps bot names to its resource ids;
* an ``events``-schema lake for the streaming path: time-ordered parquet files
  whose modification times follow event time, so a file source with
  ``maxFilesPerTrigger`` replays the history in order.

The request mix for the service workload is drawn from the same seed by
``RequestPlan``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = datetime(2026, 1, 5, tzinfo=timezone.utc)
EVENT_TYPES = ("SERVICE_CUSTOM_MESSAGE_1", "SERVICE_CUSTOM_MESSAGE_2", "SERVICE_CUSTOM_MESSAGE_3", "SERVICE_MESSAGE")
EVENT_TYPE_P = (0.40, 0.30, 0.20, 0.10)
ACTIVITIES = ("requestMenu", "getMenu", "orderFood", "confirm", "greet", "help", "cancel", "feedback")
LIFECYCLES = ("complete", "start", None)
LIFECYCLE_P = (0.75, 0.15, 0.10)
REMARKS_KEYS = ["user", "intent", "serviceEndpoint", "stateLabel", "in-service-context"]
INTENTS = ("order", "menu", "smalltalk", "help", "cancel")
STATES = ("init", "await_choice", "confirming", "done")


def _hex_ids(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    raw = rng.bytes(n * nbytes)
    return [raw[i * nbytes:(i + 1) * nbytes].hex() for i in range(n)]


def _uuid4s(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    for h in _hex_ids(rng, n, 16):
        h = h[:12] + "4" + h[13:16] + "89ab"[int(h[16], 16) % 4] + h[17:]
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    return out


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


@dataclass
class EventLogInput:
    path: str  # the parquet file
    resources: list[str]
    bots: dict  # bot-manager payload: {resource_id: {"name": bot}, ...} plus junk entries
    bot_members: dict[str, list[str]]  # bot name -> resource ids
    case_res: np.ndarray  # resource index of each case
    case_start: np.ndarray  # start of each case, seconds after T0
    props: dict = field(default_factory=dict)


def eventlog_table(seed: int, out_dir: str, n_events: int, n_resources: int, days: int = 28) -> EventLogInput:
    """Reference-schema EVENTLOG (FIXTURES.md §1): UUID cases of 3-10 events,
    one resource per case, 128-hex resource ids, bot/start/NULL-lifecycle
    shares, ~5 % NULL cases and multi-key JSON REMARKS with missing keys and a
    few malformed rows. Rows are in time order, as an append-only log is."""
    rng = np.random.default_rng([seed, 1])
    resources = _hex_ids(rng, n_resources, 64)
    res_type = np.where(rng.random(n_resources) < 0.3, "bot", "service")
    users = _hex_ids(rng, max(64, n_resources // 8), 64)

    sizes = rng.integers(3, 11, size=n_events // 3 + 16)
    n_cases = int(np.searchsorted(np.cumsum(sizes), n_events)) + 1
    sizes = sizes[:n_cases]
    sizes[-1] -= int(sizes.sum()) - n_events
    case_ids = _uuid4s(rng, n_cases)
    case_res = rng.integers(0, n_resources, size=n_cases)
    case_user = rng.integers(0, len(users), size=n_cases)
    span_s = days * 86400
    case_start = rng.integers(0, span_s - 7200, size=n_cases)

    case_of = np.repeat(np.arange(n_cases), sizes)
    gaps = rng.exponential(90.0, size=n_events).astype(np.int64) + 1
    first = np.zeros(n_events, dtype=bool)
    first[np.cumsum(sizes)[:-1]] = True
    first[0] = True
    gaps[first] = 0
    # offset within case = cumulative gap since the case's first event
    csum = np.cumsum(gaps)
    base = np.repeat(csum[first], sizes)
    ts_s = case_start[case_of] + (csum - base)

    null_case = rng.random(n_events) < 0.05
    etype = rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_TYPE_P)
    activity = rng.integers(0, len(ACTIVITIES), size=n_events)
    lifecycle = rng.choice(len(LIFECYCLES), size=n_events, p=LIFECYCLE_P)
    has_intent = rng.random(n_events) < 0.6
    intent = rng.integers(0, len(INTENTS), size=n_events)
    endpoint = rng.choice(3, size=n_events, p=(0.5, 0.3, 0.2))  # absent / url / ''
    has_state = rng.random(n_events) < 0.3
    state = rng.integers(0, len(STATES), size=n_events)
    ctx = rng.choice(3, size=n_events, p=(0.6, 0.2, 0.2))  # absent / true / false
    malformed = rng.random(n_events) < 0.005

    def pick(values, idx) -> np.ndarray:
        return np.asarray(values, dtype=object)[idx]

    def opt(mask, text: np.ndarray) -> pa.Array:
        return pa.array(np.where(mask, text, ""), pa.string())

    ev_user = pick(users, case_user[case_of])
    url = pick([f"https://svc.example.org/api/{a}" for a in ACTIVITIES], activity)
    remarks = pc.binary_join_element_wise(
        '{"user":"',
        pa.array(ev_user, pa.string()),
        '"',
        opt(has_intent, pick([f',"intent":"{x}"' for x in INTENTS], intent)),
        opt(endpoint == 1, ',"serviceEndpoint":"' + url + '"'),
        opt(endpoint == 2, np.full(n_events, ',"serviceEndpoint":""', dtype=object)),
        opt(has_state, pick([f',"stateLabel":"{x}"' for x in STATES], state)),
        opt(ctx > 0, np.where(ctx == 1, ',"in-service-context":true', ',"in-service-context":false')),
        "}",
        "",
    )
    # malformed rows: JSON text cut off mid-value, as a truncated write leaves it
    cut = pc.utf8_slice_codeunits(remarks, 0, 40)
    remarks = pc.if_else(pa.array(malformed), cut, remarks)

    order = np.argsort(ts_s, kind="stable")
    ev_order = pa.array(order)
    epoch_us = int(T0.timestamp()) * 1_000_000
    case_col = pick(case_ids, case_of)
    case_col[null_case] = None
    table = pa.table(
        {
            "EVENT_TYPE": pa.array(pick(EVENT_TYPES, etype), pa.string()),
            "CASE_ID": pa.array(case_col, pa.string()),
            "ACTIVITY_NAME": pa.array(pick(ACTIVITIES, activity), pa.string()),
            "TIME_STAMP": pa.array(epoch_us + ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
            "LIFECYCLE_PHASE": pa.array(pick(LIFECYCLES, lifecycle), pa.string()),
            "RESOURCE": pa.array(pick(resources, case_res[case_of]), pa.string()),
            "RESOURCE_TYPE": pa.array(res_type[case_res[case_of]].astype(object), pa.string()),
            "REMARKS": remarks,
        }
    ).take(ev_order)
    path = os.path.join(out_dir, "eventlog.parquet")
    _write(table, path, row_group_size=65536)

    # Bot manager payload: small bots of exactly 1, 2 or 3 resources and big
    # bots of exactly WIDE_IDS resources, disjoint, plus the junk entries the
    # resolver must skip.
    perm = iter(rng.permutation(n_resources).tolist())
    bot_members: dict[str, list[str]] = {}
    for k in RequestPlan.NARROW_IDS:
        for b in range(16):
            bot_members[f"bot{k}-{b}"] = [resources[next(perm)] for _ in range(k)]
    per_size = max(1, min(3, n_resources // (2 * sum(RequestPlan.WIDE_IDS))))
    for k in RequestPlan.WIDE_IDS:
        for b in range(per_size):
            bot_members[f"bot{k}-{b}"] = [resources[next(perm)] for _ in range(k)]
    bots: dict = {rid: {"name": name, "active": True} for name, members in bot_members.items() for rid in members}
    bots["not-a-dict"] = "ignored"
    bots["no-name"] = {"active": False}

    props = {
        "events": n_events,
        "cases": n_cases,
        "resources": n_resources,
        "events_per_case_mean": round(n_events / n_cases, 3),
        "bot_event_share": round(float(np.mean(etype == 1)), 4),
        "bot_resource_share": round(float(np.mean(res_type == "bot")), 4),
        "start_share": round(float(np.mean(lifecycle == 1)), 4),
        "null_lifecycle_share": round(float(np.mean(lifecycle == 2)), 4),
        "null_case_share": round(float(np.mean(null_case)), 4),
        "remarks_keys": len(REMARKS_KEYS),
        "malformed_remarks_share": round(float(np.mean(malformed)), 4),
        "bytes_on_disk": os.path.getsize(path),
        "days": days,
    }
    return EventLogInput(path, resources, bots, bot_members, case_res, case_start, props)


@dataclass
class Request:
    rid: int
    cls: str  # narrow | empty | wide | repeat
    call: str  # resource | resources | bot
    args: dict  # keyword arguments of the EventLogService call
    ids: list[str]  # resource ids the call resolves to
    src: int | None = None  # for a repeat: the request it repeats
    n_ids: int = 0

    def __post_init__(self) -> None:
        self.n_ids = len(self.ids)


class RequestPlan:
    """Endless, seeded stream of request cycles for the closed loop.

    Every cycle has the same mix: three narrow requests (1, 2 and 3 ids over
    two weeks; one plain, one with bot messages and remarks, one with
    lifecycle starts), one empty request (1 id with no case in its two
    weeks, answered with ``EmptyEventLog``), two wide requests over 24 days
    (400 ids with both flags and 1,500 ids without, both with remarks) and
    then ``REPEATS`` repeats of this cycle's requests that produced an
    artifact, which the cache serves. The ids of a narrow request have at
    least one case each and ``NARROW_MIN_CASES`` together in its range, so
    whether it is empty does not depend on the seed. A narrow or wide
    request is a ``bot`` call with probability ``NARROW_BOT_SHARE`` or
    ``WIDE_BOT_SHARE``. These sizes, shares and ranges are assumptions
    chosen to cover each path, not figures taken from a trace of real
    callers. The seed picks ids, dates, call types and order."""

    NARROW_IDS = (1, 2, 3)
    NARROW_FLAGS = ((False, False, False), (True, False, True), (False, True, False))  # bot, start, remarks
    WIDE_IDS = (400, 1500)
    WIDE_FLAGS = ((True, True, True), (False, False, True))
    NARROW_DAYS = 14
    WIDE_DAYS = 24
    NARROW_BOT_SHARE = 0.2
    WIDE_BOT_SHARE = 0.25
    NARROW_MIN_CASES = 3
    REPEATS = 2

    def __init__(self, seed: int, data: EventLogInput, days: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.data = data
        self.days = days
        self.index = {r: i for i, r in enumerate(data.resources)}
        self.seen: set[tuple] = set()
        self.next_id = 0

    def _fits(self, cls: str, counts: np.ndarray) -> bool:
        """Whether ids with these case counts in the range suit the class."""
        if cls == "narrow":
            return bool(counts.min() >= 1 and counts.sum() >= self.NARROW_MIN_CASES)
        if cls == "empty":
            return bool(counts.max() == 0)
        return True

    def _make(self, cls: str, n_ids: int, flags: tuple[bool, bool, bool], bot_share: float) -> Request:
        """A request of the class with a parameter set no earlier request of
        the plan had, so that only repeats hit the cache."""
        for _ in range(1000):
            lo, hi, call, ids, args = self._draw(cls, n_ids, bot_share)
            key = (call, tuple(sorted(ids)), lo, flags)
            if key not in self.seen:
                break
        else:
            raise ValueError(f"no new parameter set fits a {cls} request: the table is too small")
        self.seen.add(key)
        start, end = ((T0 + timedelta(seconds=t)).strftime("%Y-%m-%d %H:%M:%S") for t in (lo, hi))
        args.update(start_date=start, end_date=end, include_bot_messages=flags[0],
                    include_life_cycle_start=flags[1], deserialize_remarks=flags[2], use_cache=True)
        req = Request(self.next_id, cls, call, args, list(ids))
        self.next_id += 1
        return req

    def _draw(self, cls: str, n_ids: int, bot_share: float) -> tuple[int, int, str, list[str], dict]:
        d, res = self.data, self.data.resources
        span = self.WIDE_DAYS if cls == "wide" else self.NARROW_DAYS
        lo = int(self.rng.integers(0, self.days - span + 1)) * 86400
        hi = lo + span * 86400 - 1
        if cls == "empty":  # no case may reach into the range, even one started 2 h before it
            inside = (d.case_start >= lo - 7200) & (d.case_start <= hi)
        else:  # cases that start, and within an hour end, inside the range
            inside = (d.case_start >= lo) & (d.case_start <= hi - 3600)
        counts = np.bincount(d.case_res[inside], minlength=len(res))
        bots = [b for b, m in d.bot_members.items()
                if len(m) == n_ids and self._fits(cls, counts[[self.index[r] for r in m]])]
        if bots and self.rng.random() < bot_share:
            bot = bots[int(self.rng.integers(len(bots)))]
            call, ids = "bot", d.bot_members[bot]
            args = {"bot_name": bot, "bots_payload": d.bots}
        else:
            if cls == "narrow":
                pool = np.flatnonzero(counts >= 1)
            elif cls == "empty":
                pool = np.flatnonzero(counts == 0)
            else:
                pool = np.arange(len(res))
            for _ in range(1000):
                pick = self.rng.choice(pool, size=n_ids, replace=False)
                if self._fits(cls, counts[pick]):
                    break
            else:
                raise ValueError(f"no {n_ids} ids fit a {cls} request: the table is too small")
            ids = [res[j] for j in pick]
            call = "resource" if n_ids == 1 else "resources"
            args = {"resource_id": ids[0]} if n_ids == 1 else {"resource_ids": ids}
        return lo, hi, call, list(ids), args

    def cycle(self) -> list[Request]:
        """The next cycle's narrow, empty and wide requests, in seeded order."""
        fresh = [self._make("narrow", n, f, self.NARROW_BOT_SHARE) for n, f in zip(self.NARROW_IDS, self.NARROW_FLAGS)]
        fresh.append(self._make("empty", 1, (False, False, False), 0.0))
        fresh += [self._make("wide", n, f, self.WIDE_BOT_SHARE) for n, f in zip(self.WIDE_IDS, self.WIDE_FLAGS)]
        return [fresh[int(i)] for i in self.rng.permutation(len(fresh))]

    def repeats(self, done_ok: list[Request]) -> list[Request]:
        """``REPEATS`` repeats drawn from ``done_ok``, the requests of the
        cycle that produced an artifact."""
        out = []
        for _ in range(self.REPEATS if done_ok else 0):
            src = done_ok[int(self.rng.integers(len(done_ok)))]
            out.append(Request(self.next_id, "repeat", src.call, dict(src.args), list(src.ids), src=src.rid))
            self.next_id += 1
        return out


@dataclass
class LakeInput:
    path: str  # directory of parquet files
    props: dict = field(default_factory=dict)


def events_lake(seed: int, out_dir: str, n_events: int, n_files: int, n_users: int) -> LakeInput:
    """``events``-schema lake (FIXTURES.md §5) split into ``n_files``
    time-ordered parquet files. Each user's events form sessions: gaps inside
    a session stay under 20 minutes, gaps between sessions exceed 40 minutes,
    so a 30-minute session gap splits them unambiguously. Events are jittered
    by up to 5 minutes, which is out of order but inside a 1-hour watermark
    delay, so nothing is late."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    per_user = rng.multinomial(n_events, np.full(n_users, 1.0 / n_users))
    ts_parts, user_parts = [], []
    for u, k in enumerate(per_user):
        if k == 0:
            continue
        new_session = rng.random(k) < 0.15
        gaps = np.where(
            new_session,
            rng.uniform(40 * 60, 6 * 3600, size=k),
            rng.uniform(1, 20 * 60, size=k),
        )
        offset = rng.uniform(0, 2 * 3600)
        ts_parts.append(((offset + np.cumsum(gaps)) * 1_000_000).astype(np.int64))
        user_parts.append(np.full(k, u, dtype=np.int64))
    ts = np.concatenate(ts_parts)
    user = np.concatenate(user_parts)
    jitter = rng.integers(-300_000_000, 300_000_000, size=ts.size)
    order = np.argsort(ts + jitter, kind="stable")  # files follow jittered arrival
    ts, user = ts[order], user[order]
    event_type = rng.choice(np.array(["error", "signup", "purchase", "view", "click"]), size=ts.size)
    value = np.round(rng.uniform(0.01, 500.0, size=ts.size), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ts.size)]
    epoch_us = int(T0.timestamp()) * 1_000_000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(ts.size, dtype=np.int64)),
            "ts": pa.array(epoch_us + ts, pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(event_type.tolist(), pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, pa.string()),
        }
    )
    bounds = np.linspace(0, ts.size, n_files + 1).astype(int)
    base_mtime = 1_700_000_000
    total = 0
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p, row_group_size=1 << 20)
        os.utime(p, (base_mtime + i, base_mtime + i))
        total += os.path.getsize(p)
    lake_props = {
        "events": int(ts.size),
        "users": n_users,
        "files": n_files,
        "events_per_file": int(ts.size // n_files),
        "bytes_on_disk": total,
        "span_hours": round(float(ts.max() - ts.min()) / 3.6e9, 1),
    }
    return LakeInput(out_dir, lake_props)
