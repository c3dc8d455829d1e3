"""Self-tests of the benchmark's own helpers (no Spark session needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import batch  # noqa: E402
import rcgen  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(100, 0, -1))          # 1..100, unsorted
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_support_rule_needs_ten_samples_beyond():
    assert stats.supports(1000, 99) and not stats.supports(999, 99)
    assert stats.supports(20, 50) and not stats.supports(19, 50)
    assert stats.highest_supported(1000) == 99.0
    assert stats.highest_supported(999) == 95.0
    assert stats.highest_supported(100) == 90.0
    assert stats.highest_supported(19) is None


def _progress(bid, start_ms, dur_ms, start_n, end_n, as_json=False):
    iso = pd.Timestamp(start_ms, unit="ms", tz="UTC").strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    off = (lambda n: json.dumps({"n": n, "last_event_id": f"e{n - 1}"})) \
        if as_json else (lambda n: {"n": n, "last_event_id": f"e{n - 1}"})
    return {"batchId": bid, "timestamp": iso, "numInputRows": end_n - start_n,
            "durationMs": {"triggerExecution": dur_ms},
            "sources": [{"startOffset": None if start_n == 0 else off(start_n),
                         "endOffset": off(end_n)}]}


def test_offset_ranges_map_events_to_their_batch_end():
    # events 0-4 are warm-up; the schedule starts at k0=5, t0=1000 s,
    # 10 ev/s, so event i is due at 1000 + (i - 5) / 10
    t0_ms = 1_000_000
    log = [
        _progress(0, t0_ms - 4000, 3000, 0, 5),           # warm-up only
        _progress(1, t0_ms, 1000, 5, 12, as_json=True),   # ends at 1001 s
        _progress(2, t0_ms + 1000, 2000, 12, 30),         # ends at 1003 s
        {"batchId": 2, "numInputRows": 0},                # idle tick: ignored
    ]
    bs = stream.batches(log)
    assert [(b["id"], b["start_n"], b["end_n"]) for b in bs] == [
        (0, 0, 5), (1, 5, 12), (2, 12, 30)]
    lat = stream.event_latencies(bs, 1000.0, 5, 10.0)
    want = [[], [1001 - (1000 + (i - 5) / 10) for i in range(5, 12)],
            [1003 - (1000 + (i - 5) / 10) for i in range(12, 30)]]
    assert [len(xs) for xs in lat] == [len(xs) for xs in want] == [0, 7, 18]
    assert all(abs(a - b) < 1e-9
               for xs, ws in zip(lat, want) for a, b in zip(xs, ws))


def test_median_percentile_resists_one_slow_batch():
    steady = [[1.0 + k / 100 for k in range(100)] for _ in range(5)]
    slow = [[x + 5.0 for x in steady[0]]]
    # pooled, the slow batch's events set the tail; per batch it is one
    # of six percentiles and the median passes over it
    pooled = [x for xs in steady + slow for x in xs]
    assert stats.percentile(pooled, 90) > 5.0
    assert stats.median_percentile(steady + slow, 90) == steady[0][89]
    assert stats.median_percentile(steady + slow, 50) == steady[0][49]


def test_backlog_counts_sent_but_unread_events():
    bs = stream.batches([_progress(1, 10_000, 500, 5, 12),
                         _progress(2, 10_500, 500, 12, 30)])
    send_log = [(9.0, 8), (10.2, 14), (10.6, 31)]
    assert stream.backlog_series(send_log, bs) == [[1, 3], [2, 2]]


def test_claimed_self_times_are_disjoint():
    import statusstore

    fold, report, jobs = [(0, 10)], [(20, 30)], [(5, 25), (40, 50)]
    # jobs overlapping the fold and the report count only outside them
    assert statusstore.claim([fold, report, jobs]) == [10, 10, 20]
    assert statusstore.union_ms(fold + report + jobs) == 40
    assert statusstore.claim([[], jobs]) == [0, 30]


def test_stream_mix_follows_the_repository_derivation():
    ev = _events(2000)
    by = {e["seq"]: e for e in ev}
    for i in (0, 5, 13, 65, 130):
        e = by[i]
        # event_id % 5 -> dewiki, event_id % 13 -> namespace 1 (derive.py)
        assert (e["wiki"] == "dewiki") == (i % 5 == 0)
        assert e["namespace"] == (1 if i % 13 == 0 else 0)
    logs = [e for e in ev if e["log_type"] is not None]
    assert logs and all(e["log_action"] in ("move", "delete", "protect")
                        for e in logs)
    assert all(e["log_target"] == e["title"].replace("Page_", "Moved_")
               for e in logs if e["log_action"] == "move")


def _events(n=600):
    # 10 ev/s: 600 events span a minute of event time, long enough for
    # every threshold of the shortened cleaner to fire
    spec = rcgen.Spec(rate=10.0, pages=40, zipf_s=1.1)
    return rcgen.flat_events(spec, n, seed=5)


def test_replay_agrees_with_itself_and_depends_on_batch_split():
    ev = _events()
    purge = stream.purge_params()
    a = stream.replay(ev, [200, 400, 600], purge)
    assert stream.mismatches(a, stream.replay(ev, [200, 400, 600], purge)) == []
    assert stream.mismatches(
        a, stream.replay(ev, [200, 400, 600], purge, workers=3)) == []
    assert a, "the replay kept no page"
    # the cleaner runs per batch, so moving the boundaries changes state
    assert stream.mismatches(a, stream.replay(ev, [600], purge))


def test_replay_check_fails_on_one_planted_event():
    ev = _events()
    purge = stream.purge_params()
    expected = stream.replay(ev, [300, 600], purge)
    # the last surviving edit (not a bot edit, not dropped at the source)
    i = next(k for k in range(599, 300, -1) if ev[k]["log_type"] is None
             and not ev[k]["bot"] and ev[k]["namespace"] == 0
             and "Fixed" not in ev[k]["comment"] and _page_id(ev[k]) in expected)
    planted = [dict(e) for e in ev]
    planted[i]["length_new"] += 1          # one byte more on one edit
    bad = stream.mismatches(stream.replay(planted, [300, 600], purge), expected)
    assert bad == [_page_id(ev[i])]


def _page_id(ev):
    if ev["wiki"] == "enwiki":
        return ev["title"]
    return f"{ev['wiki']}/{ev['title']}"


def test_wire_payload_round_trips_the_flat_fields():
    ev = _events(50)
    for e in ev:
        body = json.loads(rcgen.wire_json(e))
        assert body["meta"]["offset"] == e["seq"]
        assert body["meta"]["dt"] == e["dt"]
        assert body.get("log_params", {}).get("target") == e["log_target"]
    # the same seed gives the same events
    assert ev == _events(50)


def test_oracle_compare_ignores_order_and_time_unit_only():
    a = pd.DataFrame({"id": ["x", "y"], "n": [1, 2],
                      "t": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    b = a[["t", "n", "id"]].iloc[::-1].copy()
    b["t"] = b["t"].astype("datetime64[us]")
    assert batch.same_result(a, b)
    c = b.copy()
    c.loc[c["id"] == "x", "n"] = 3
    assert not batch.same_result(a, c)


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
    print(f"{len(tests)} passed")
