"""Generator and outcome-model tests (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest

import publisher
import run
import workloads as wl


@pytest.mark.parametrize("workload", sorted(wl.GENERATORS))
def test_same_seed_same_events(workload):
    a = wl.events_for(workload, 7, 1, 500)
    assert a == wl.events_for(workload, 7, 1, 500)
    assert [e.line for e in a] != [e.line for e in wl.events_for(workload, 8, 1, 500)]


@pytest.mark.parametrize("workload", sorted(wl.GENERATORS))
def test_event_times_unique_per_key_and_bounded(workload):
    events = wl.events_for(workload, 3, 0, 3000)
    seen = {}
    for i, e in enumerate(events):
        if e.key is None:
            continue
        if (e.key, e.ts_us) in seen:   # only byte-identical duplicates share one
            assert seen[(e.key, e.ts_us)] == e.line
        seen[(e.key, e.ts_us)] = e.line
        assert wl.BASE_US <= e.ts_us < wl.BASE_US + wl.PHASE_SPAN_US


@pytest.mark.parametrize("workload", ["changelog_materialize", "cdc_ingress_upsert"])
def test_per_key_event_time_follows_publish_order(workload):
    last = {}
    for e in wl.events_for(workload, 5, 0, 5000):
        if e.key is not None:
            assert e.ts_us > last.get(e.key, -1)
            last[e.key] = e.ts_us


def test_egress_mix():
    events = wl.events_for("cdc_egress", 1, 0, 20_000)
    lines = Counter(e.line for e in events)
    dups = sum(n - 1 for n in lines.values())
    assert 0.08 < dups / len(events) < 0.12
    exp = wl.egress_model(events)
    assert sum(exp.outcomes.values()) == len(events)
    assert 0.01 < exp.outcomes["parse_dlq"] / len(events) < 0.03
    assert 0.01 < exp.outcomes["schema_dlq"] / len(events) < 0.03
    assert 0.25 < exp.outcomes["suppressed"] / len(events) < 0.40


def _ev(key, op, payload, ts, line=None):
    payload = json.dumps(payload) if payload is not None else None
    return wl.Event(line or f"{key}/{op}/{ts}", key, op, payload, ts)


def test_egress_model_outcomes():
    ins = _ev("a", "insert", {"_id": "a", "n": 1, "updatedAt": "t1"}, 1)
    events = [
        ins,
        ins,                                                        # byte dup
        _ev("a", "update", {"_id": "a", "n": 1, "updatedAt": "t2"}, 2),  # no-op
        _ev("a", "update", {"_id": "a", "n": 2, "updatedAt": "t3"}, 3),
        _ev("b", "unknown", {"_id": "b"}, 4),
        _ev("c", "update", {"n": 5}, 5),                            # no _id
        wl.Event("not json"),
        _ev("a", "delete", {"_id": "a"}, 6),
        _ev("a", "delete", {"_id": "a"}, 7),                        # same content
    ]
    exp = wl.egress_model(events)
    assert exp.outcomes == Counter(primary=3, suppressed=4, schema_dlq=1, parse_dlq=1)
    assert exp.primary[("a", wl.TOMBSTONE)] == 1
    assert exp.parse_dlq == Counter({"not json": 1})
    assert exp.payload_dlq == Counter({("c", wl.canonical('{"n": 5}')): 1})


def test_canonical_ignores_excluded_fields_and_order():
    assert (wl.canonical('{"b": 1, "a": "x", "updatedAt": "1"}')
            == wl.canonical('{"a": "x", "modifiedAt": "2", "b": 1}'))
    assert wl.canonical("[1]") == wl.canonical(None) == "<not-a-map>"


def test_changelog_model():
    events = [
        _ev("k", "delete", {"_id": "k"}, 1),     # absent: nothing
        _ev("k", "insert", {"v": 1}, 2),
        _ev("k", "insert", {"v": 2}, 3),         # live: UPDATE
        _ev("k", "delete", {"_id": "k"}, 4),
        wl.Event("garbage"),
    ]
    exp = wl.changelog_model(events)
    v1, v2 = json.dumps({"v": 1}), json.dumps({"v": 2})
    assert exp.primary == Counter({("k", "INSERT", None, v1): 1,
                                   ("k", "UPDATE", v1, v2): 1,
                                   ("k", "DELETE", v2, None): 1})
    assert exp.outcomes == Counter(primary=3, suppressed=1, parse_dlq=1)


def test_ingress_model():
    ref = [("a", "r-old", 1), ("a", "r-new", 2)]
    events = [
        _ev("a", "insert", {"_id": "a", "v": 1}, 10),
        _ev("a", "update", {"_id": "a", "v": 2}, 11),
        _ev("b", "insert", {"_id": "b"}, 12),
        _ev("b", "delete", {"_id": "b"}, 13),
        _ev("c", "update", {"v": 3}, 14),          # no _id: constraint DLQ
    ]
    exp = wl.ingress_model(events, ref)
    assert exp.table == {"a": (json.dumps({"_id": "a", "v": 2}), "r-new")}
    assert exp.outcomes == Counter(primary=4, constraint_dlq=1)


def test_mismatches_counts_both_sides():
    assert wl.mismatches(Counter(a=2, b=1), Counter(a=1, c=1)) == 3
    assert wl.mismatches(Counter(a=1), Counter(a=1)) == 0


def test_publisher_publishes_every_file_on_schedule(tmp_path):
    spec = dict(workload="cdc_egress", seed=1, phase=1, files=10,
                events_per_file=3, interval_s=0.01,
                stage_dir=str(tmp_path / "stage"), source_dir=str(tmp_path / "src"),
                log_path=str(tmp_path / "log.json"), start_at=time.time() + 0.2)
    os.makedirs(spec["source_dir"])
    (tmp_path / "spec.json").write_text(json.dumps(spec))
    publisher.main(str(tmp_path / "spec.json"))
    log = json.loads((tmp_path / "log.json").read_text())
    assert [row[0] for row in log] == [publisher.file_name(i) for i in range(10)]
    assert all(published >= due for _, due, published in log)
    lines = []
    for name, _, _ in log:
        lines += (tmp_path / "src" / name).read_text().splitlines()
    assert lines == [e.line for e in wl.events_for("cdc_egress", 1, 1, 30)]


def test_file_batches_skips_no_data_batches(tmp_path):
    """Source offsets are not micro-batch ids: a no-data batch repeats
    its predecessor's source offset."""
    src, offsets = tmp_path / "sources" / "0", tmp_path / "offsets"
    src.mkdir(parents=True)
    offsets.mkdir()
    (src / "0").write_text('v1\n{"path":"file:///x/bl-0.json","timestamp":1,"batchId":0}\n')
    (src / "1").write_text('v1\n{"path":"file:///x/ol-0.json","timestamp":2,"batchId":1}\n'
                           '{"path":"file:///x/ol-1.json","timestamp":2,"batchId":1}\n')
    for batch, source_offset in ((0, 0), (1, 0), (2, 1)):
        (offsets / str(batch)).write_text(f'v1\n{{}}\n{{"logOffset":{source_offset}}}\n')
    assert run.file_batches(str(tmp_path)) == {"bl-0.json": 0, "ol-0.json": 2,
                                               "ol-1.json": 2}


def test_percentile_nearest_rank():
    values = list(range(1, 201))
    assert run.percentile(values, 0.95) == 190
    assert run.percentile(values, 0.5) == 100


def test_tree_cpu_counts_children_and_optionally_the_root():
    import subprocess
    import sys

    import procstat
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.time()\nwhile time.time() - t < 0.3: pass\n"
                              "time.sleep(5)"])
    try:
        time.sleep(1.0)
        kids = procstat.tree_cpu_s(os.getpid())
        assert kids >= 0.2
        assert procstat.tree_cpu_s(os.getpid(), include_root=True) > kids
    finally:
        child.kill()
        child.wait()


def test_spawned_counts_new_processes():
    import subprocess
    import sys

    import procstat
    before = procstat.spawned()
    subprocess.run([sys.executable, "-c", "pass"], check=True)
    assert procstat.spawned() > before
