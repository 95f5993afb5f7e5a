"""Seeded CDC envelope generators and the outcome model of each job.

Pure Python (no Spark): the benchmark process uses it to build inputs
and to predict every job output, and the open-loop publisher process
(``publisher.py``) uses it to write the same inputs on a schedule.
The same ``(workload, seed, phase)`` always yields the same events.

Every event is one newline-JSON envelope line in the wire format the
jobs read (``streamforge_spark.envelope.parse_stream_envelop``).  The
model replays the events in publish order with each job's documented
semantics and predicts, per event, one outcome:

- ``primary``: reaches the job's primary sink;
- ``parse_dlq``: not a JSON object, dead-lettered by the parser;
- ``schema_dlq`` / ``constraint_dlq``: dead-lettered by the payload check;
- ``suppressed``: dropped on purpose (unknown op, duplicate, no-op update).

Generators keep every event time unique per key, so no outcome depends
on how the engine orders ties inside a micro-batch.
"""

from __future__ import annotations

import datetime
import json
import random
from collections import Counter
from dataclasses import dataclass

#: 2024-01-01T00:00:00Z in epoch microseconds: event time of phase 0.
BASE_US = 1_704_067_200_000_000
#: event-time distance between phases; a run's whole span stays far
#: inside MongoToKafka's 10-minute dedup watermark, so no event is late.
PHASE_SPAN_US = 60_000_000
#: bounded out-of-orderness of event time against publish order
OOO_US = 2_000_000
#: event-time step between consecutive events of a phase
STEP_US = 500

EXCLUDED_FIELDS = ("updatedAt", "modifiedAt")   # MongoToKafka merger
TOMBSTONE = "<tombstone>"


@dataclass(frozen=True)
class Event:
    line: str                 # the wire line as published
    key: str | None = None    # None for a malformed line
    op: str | None = None
    payload: str | None = None
    ts_us: int = 0


def ts_str(us: int) -> str:
    dt = (datetime.datetime(1970, 1, 1)
          + datetime.timedelta(microseconds=us))
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")


def _envelope(rng: random.Random, key: str, op: str, payload: str,
              ts_us: int, i: int) -> str:
    env = {"operation": op, "source": "users", "payload_json": payload,
           "event_time": ts_str(ts_us), "primary_key": key}
    if rng.random() < 0.8:            # the rest exercise trace backfill
        env["trace_id"] = f"tr-{i}"
    if rng.random() < 0.1:            # the reference's camelCase wire
        env["payloadJson"] = env.pop("payload_json")
        env["eventTime"] = env.pop("event_time")
        env["primaryKey"] = env.pop("primary_key")
    return json.dumps(env, separators=(",", ":"))


def _malformed(rng: random.Random, i: int) -> Event:
    forms = (f"not json {i}", f'{{"operation":"insert","primary_key":"m{i}"',
             f'["array", {i}]', f"{{broken {i}}}")
    return Event(line=rng.choice(forms))


class _Clock:
    """Event times: publish order plus bounded disorder, unique per key,
    and optionally non-decreasing per key."""

    def __init__(self, rng: random.Random, phase: int, per_key_order: bool):
        self.rng, self.per_key_order = rng, per_key_order
        self.t0 = BASE_US + phase * PHASE_SPAN_US
        self.last: dict[str, int] = {}
        self.used: set[tuple[str, int]] = set()

    def next(self, i: int, key: str) -> int:
        t = self.t0 + OOO_US + i * STEP_US - self.rng.randrange(OOO_US)
        if self.per_key_order and key in self.last:
            t = max(t, self.last[key] + 1)
        while (key, t) in self.used:
            t += 1
        self.used.add((key, t))
        self.last[key] = t
        return t


def _payload(key: str | None, i: int, rng: random.Random, ts_us: int) -> dict:
    p = {"name": f"user-{i}", "amount": rng.randrange(100_000),
         "tier": rng.choice(("free", "pro", "team")),
         "updatedAt": ts_str(ts_us)}
    if key is not None:
        p = {"_id": key, **p}
    return p


def egress_events(seed: int, phase: int, n: int,
                  keyspace: int = 1_000_000) -> list[Event]:
    """MongoToKafka input: uniform keys; ~10% byte-identical duplicates,
    ~20% updates that change only ``updatedAt``, 3% unknown ops, 2%
    malformed lines, 2% payloads without ``_id``, 4% deletes."""
    rng = random.Random(f"egress/{seed}/{phase}")
    clock = _Clock(rng, phase, per_key_order=False)
    out: list[Event] = []
    recent: list[Event] = []          # valid envelopes, for dups/touches
    for i in range(n):
        r = rng.random()
        if r < 0.02:
            out.append(_malformed(rng, i))
            continue
        if r < 0.12 and recent:                       # byte-identical dup
            out.append(rng.choice(recent))
            continue
        if r < 0.32 and recent:                       # updatedAt-only touch
            src = rng.choice(recent)
            ts = clock.next(i, src.key)
            body = json.loads(src.payload)
            body["updatedAt"] = ts_str(ts)
            payload = json.dumps(body, separators=(",", ":"))
            ev = Event(_envelope(rng, src.key, "update", payload, ts, i),
                       src.key, "update", payload, ts)
        else:
            key = f"u{rng.randrange(keyspace):07d}"
            ts = clock.next(i, key)
            if r < 0.35:
                op, body = "unknown", _payload(key, i, rng, ts)
            elif r < 0.37:
                op, body = "update", _payload(None, i, rng, ts)
            elif r < 0.41:
                op, body = "delete", {"_id": key}
            else:
                op = rng.choice(("insert", "update"))
                body = _payload(key, i, rng, ts)
            payload = json.dumps(body, separators=(",", ":"))
            ev = Event(_envelope(rng, key, op, payload, ts, i),
                       key, op, payload, ts)
        out.append(ev)
        if ev.op != "delete":
            recent.append(ev)
            if len(recent) > 256:
                recent.pop(0)
    return out


def changelog_events(seed: int, phase: int, n: int,
                     keyspace: int = 20_000, zipf_s: float = 1.1) -> list[Event]:
    """UserStateMaterialize input: Zipf-skewed keys, per-key event time
    non-decreasing in publish order (so the changelog does not depend on
    micro-batch boundaries); inserts, updates, deletes and 1% malformed."""
    rng = random.Random(f"changelog/{seed}/{phase}")
    clock = _Clock(rng, phase, per_key_order=True)
    weights = [1.0 / (k + 1) ** zipf_s for k in range(keyspace)]
    # a seeded rank->key permutation, so hot keys differ between seeds
    ranks = list(range(keyspace))
    rng.shuffle(ranks)
    keys = rng.choices(ranks, weights=weights, k=n)
    live: set[str] = set()
    out: list[Event] = []
    for i, k in enumerate(keys):
        if rng.random() < 0.01:
            out.append(_malformed(rng, i))
            continue
        key = f"k{k:06d}"
        ts = clock.next(i, key)
        r = rng.random()
        if key in live:
            op = "delete" if r < 0.10 else ("insert" if r < 0.15 else "update")
        else:
            op = "delete" if r < 0.03 else "insert"
        body = {"_id": key} if op == "delete" else _payload(key, i, rng, ts)
        (live.discard if op == "delete" else live.add)(key)
        payload = json.dumps(body, separators=(",", ":"))
        out.append(Event(_envelope(rng, key, op, payload, ts, i),
                         key, op, payload, ts))
    return out


def ingress_events(seed: int, phase: int, n: int,
                   keyspace: int = 200_000) -> list[Event]:
    """KafkaToMongo input: uniform keys, per-key event time
    non-decreasing (a key-partitioned topic keeps per-key order) while
    keys interleave out of event-time order; inserts, updates, deletes,
    2% payloads without ``_id`` and 2% malformed lines."""
    rng = random.Random(f"ingress/{seed}/{phase}")
    clock = _Clock(rng, phase, per_key_order=True)
    live: set[str] = set()
    out: list[Event] = []
    for i in range(n):
        r = rng.random()
        if r < 0.02:
            out.append(_malformed(rng, i))
            continue
        key = f"c{rng.randrange(keyspace):06d}"
        ts = clock.next(i, key)
        if r < 0.04:
            op, body = "update", _payload(None, i, rng, ts)
        elif key in live and r < 0.16:
            op, body = "delete", {"_id": key}
            live.discard(key)
        else:
            op, body = ("update" if key in live else "insert"), _payload(key, i, rng, ts)
            live.add(key)
        payload = json.dumps(body, separators=(",", ":"))
        out.append(Event(_envelope(rng, key, op, payload, ts, i),
                         key, op, payload, ts))
    return out


def reference_rows(seed: int, keyspace: int = 200_000,
                   n: int = 20_000) -> list[tuple[str, str, int]]:
    """KafkaToMongo's REFERENCE_PATH snapshot as (primary_key,
    payload_json, event_time_us); ~10% of keys appear twice, so the
    join must pick the latest row per key."""
    rng = random.Random(f"reference/{seed}")
    rows = []
    for i in range(n):
        key = f"c{rng.randrange(keyspace):06d}"
        for v in range(2 if rng.random() < 0.1 else 1):
            t = BASE_US - 86_400_000_000 + i * 1000 + v
            rows.append((key, json.dumps({"segment": f"s{i % 7}", "v": v},
                                         separators=(",", ":")), t))
    return rows


# --- outcome model ----------------------------------------------------

def canonical(payload: str | None) -> str:
    """The merger's content identity: the payload as a string map minus
    the excluded fields, order-normalized (mirrors
    ``streaming.dedup.content_fingerprint``)."""
    try:
        body = json.loads(payload) if payload is not None else None
    except ValueError:
        body = None
    if not isinstance(body, dict):
        return "<not-a-map>"
    flat = {k: (v if isinstance(v, str) else json.dumps(v))
            for k, v in body.items() if k not in EXCLUDED_FIELDS}
    return json.dumps(sorted(flat.items()), separators=(",", ":"))


def _has_id(payload: str | None) -> bool:
    try:
        body = json.loads(payload)
    except (TypeError, ValueError):
        return False
    return isinstance(body, dict) and body.get("_id") is not None


@dataclass
class Expected:
    """Predicted outputs; multisets are compared, so no prediction
    depends on which of several identical rows the engine keeps."""
    outcomes: Counter          # outcome -> events
    parse_dlq: Counter         # raw lines
    payload_dlq: Counter       # (key, canonical payload)
    primary: Counter           # workload-specific row identity
    table: dict | None = None  # upsert table: key -> (payload, enrichedRef1)


def egress_model(events: list[Event]) -> Expected:
    """MongoToKafka: parse -> drop ``unknown`` -> first-seen dedup on
    (key, event_time) -> first-seen (key, content) merger -> ``_id``
    schema check -> compacted (key, value) with delete tombstones."""
    seen_ts: set[tuple[str, int]] = set()
    seen_fp: set[tuple[str, str]] = set()
    exp = Expected(Counter(), Counter(), Counter(), Counter())
    for ev in events:
        if ev.key is None:
            exp.outcomes["parse_dlq"] += 1
            exp.parse_dlq[ev.line] += 1
            continue
        fp = (ev.key, canonical(ev.payload))
        if ev.op == "unknown" or (ev.key, ev.ts_us) in seen_ts:
            exp.outcomes["suppressed"] += 1
            continue
        seen_ts.add((ev.key, ev.ts_us))
        if fp in seen_fp:
            exp.outcomes["suppressed"] += 1
            continue
        seen_fp.add(fp)
        if not _has_id(ev.payload):
            exp.outcomes["schema_dlq"] += 1
            exp.payload_dlq[fp] += 1
            continue
        exp.outcomes["primary"] += 1
        exp.primary[(ev.key, TOMBSTONE if ev.op == "delete" else fp[1])] += 1
    return exp


def changelog_model(events: list[Event]) -> Expected:
    """UserStateMaterialize: per key in event-time order, a delete of a
    live key emits DELETE, any other op emits INSERT (key absent) or
    UPDATE (key live); a delete of an absent key emits nothing."""
    latest: dict[str, str] = {}
    exp = Expected(Counter(), Counter(), Counter(), Counter())
    for ev in sorted((e for e in events if e.key is not None),
                     key=lambda e: (e.key, e.ts_us)):
        before = latest.get(ev.key)
        if ev.op == "delete":
            if before is None:
                exp.outcomes["suppressed"] += 1
                continue
            row = ("DELETE", before, None)
            del latest[ev.key]
        else:
            row = ("INSERT" if before is None else "UPDATE", before, ev.payload)
            latest[ev.key] = ev.payload
        exp.outcomes["primary"] += 1
        exp.primary[(ev.key, *row)] += 1
    for ev in events:
        if ev.key is None:
            exp.outcomes["parse_dlq"] += 1
            exp.parse_dlq[ev.line] += 1
    return exp


def ingress_model(events: list[Event],
                  reference: list[tuple[str, str, int]]) -> Expected:
    """KafkaToMongo: parse -> enrich from the latest reference row per
    key -> ``_id`` not-null constraint -> latest-per-key upsert by event
    time, a key whose latest event is a delete is absent."""
    ref: dict[str, tuple[int, str]] = {}
    for key, payload, t in reference:
        if key not in ref or t > ref[key][0]:
            ref[key] = (t, payload)
    exp = Expected(Counter(), Counter(), Counter(), Counter(), table={})
    latest: dict[str, Event] = {}
    for ev in events:
        if ev.key is None:
            exp.outcomes["parse_dlq"] += 1
            exp.parse_dlq[ev.line] += 1
        elif not _has_id(ev.payload):
            exp.outcomes["constraint_dlq"] += 1
            exp.payload_dlq[(ev.key, canonical(ev.payload))] += 1
        else:
            exp.outcomes["primary"] += 1
            if ev.key not in latest or ev.ts_us > latest[ev.key].ts_us:
                latest[ev.key] = ev
    for key, ev in latest.items():
        if ev.op != "delete":
            exp.table[key] = (ev.payload, ref.get(key, (0, None))[1])
    return exp


def model(workload: str, events: list[Event],
          reference: list[tuple[str, str, int]] | None = None) -> Expected:
    if workload == "cdc_ingress_upsert":
        return ingress_model(events, reference)
    return {"cdc_egress": egress_model,
            "changelog_materialize": changelog_model}[workload](events)


GENERATORS = {"cdc_egress": egress_events,
              "changelog_materialize": changelog_events,
              "cdc_ingress_upsert": ingress_events}


def events_for(workload: str, seed: int, phase: int, n: int) -> list[Event]:
    """Events of one phase, with event times in that phase's span."""
    return GENERATORS[workload](seed, phase, n)


def mismatches(expected: Counter, actual: Counter, what: str = "",
               report=None) -> int:
    """Rows in one multiset and not the other (each counts once); the
    first few of each side go to ``report``."""
    missing, extra = expected - actual, actual - expected
    if report is not None and (missing or extra):
        report(f"{what}: {sum(missing.values())} expected rows missing, e.g. "
               f"{list(missing)[:3]}; {sum(extra.values())} unexpected rows, "
               f"e.g. {list(extra)[:3]}")
    return sum(missing.values()) + sum(extra.values())
