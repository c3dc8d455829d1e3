"""``stream_hot``: the live chain under an open-loop SSE feed.

Chain under test, exactly as a deployment wires it:
``sources.sse`` (``wikimedia_sse`` + ``rc_from_sse``) ->
``streaming.processor.page_state_changelog(move_closed_group(), purge)`` ->
``sources.sinks.state_snapshot_sink(report=...)``, which merges each
micro-batch into the parquet snapshot and renders the three top-5 reports.

Timeline of one run: the generator process starts and the Spark session
comes up; the query starts and its first micro-batch runs on the warm-up
trickle; then the scheduled feed starts, and after ``WARM_BATCHES`` more
batches set-up ends. The next ``MEASURED_BATCHES`` batches are measured
(the query keeps running for at least ``--seconds``): each contributes
its events' latencies (due time -> batch end) and its duration, and each
latency percentile is the median over those batches of the batch's own
percentile. The
source runs with its default options (drain wait included) and the JVM
with its default JIT, as a deployment gets them. A traced run also times
the report renders and the snapshot lookups of the sink, and afterwards
reads the per-layer split from the progress records and Spark's status
stores.
"""

from __future__ import annotations

import bisect
import json
import multiprocessing
import os
import re
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime

import pandas as pd

import rcgen
import stats
import statusstore

#: 50 events/s lies inside the order of 10-100 events/s the Wikimedia
#: recent-changes feed carries across all wikis (BASELINE.md). The rate
#: sets how much of a micro-batch is per-event work: the more events a
#: batch holds, the more a slow batch grows the next one in an open loop.
HOT = rcgen.Spec(rate=50.0, pages=2000, zipf_s=1.1)
WARM_RATE = 10.0
#: scheduled micro-batches before the window opens. The first batch runs
#: for about 15 s while the JVM and the Python workers start, so the next
#: two drain a backlog of 300-400 events; with only two warm batches the
#: window caught that drain on a slow host and its batches stayed long.
WARM_BATCHES = 3
#: micro-batches measured after set-up. A fixed count, not a time window:
#: batch durations still fall while the JVM warms, so a time window would
#: mix a varying number of batches from a drifting phase.
MEASURED_BATCHES = 6
#: a run whose generator sent later than this is invalid, not slow.
LAG_P99_LIMIT_S = 0.1
LAG_MAX_LIMIT_S = 1.0
START_TIMEOUT_S = 90.0
#: the plan node of the keyed fold (groupBy(...).applyInPandasWithState).
FOLD_NODE = "FlatMapGroupsInPandasWithState"


def purge_params():
    """The reference cleaner with thresholds shortened from hours to
    seconds so that it evicts pages inside a one-minute run."""
    from wikitrender_spark.streaming.fold import PurgeParams

    return PurgeParams(max_lifespan=1.0, max_inactivity=0.25, min_speed=3.0,
                       min_purge_time=0.1)


class Generator:
    """The ssegen.py process: launched first, stopped last."""

    def __init__(self, work: str, spec: rcgen.Spec, seed: int, events: int):
        self.status_path = os.path.join(work, "gen.json")
        self.proc = subprocess.Popen(
            [sys.executable,
             os.path.join(os.path.dirname(__file__), "ssegen.py"),
             "--seed", str(seed), "--rate", str(spec.rate),
             "--pages", str(spec.pages), "--zipf", str(spec.zipf_s),
             "--warm-rate", str(WARM_RATE), "--events", str(events),
             "--status", self.status_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline().split()
        if line[:1] != ["PORT"]:
            self.stop()
            raise RuntimeError("generator did not start")
        self.url = f"http://127.0.0.1:{line[1]}/sse"

    def go(self) -> None:
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()

    def stop(self) -> dict | None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if not os.path.exists(self.status_path):
            return None
        with open(self.status_path, encoding="utf-8") as f:
            return json.load(f)


def _n(off) -> int:
    if off is None:
        return 0
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["n"])


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def batches(progress: list[dict]) -> list[dict]:
    """One record per completed micro-batch that read events: offsets,
    wall-clock start/end (epoch ms) and the raw progress entry."""
    out = {}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = _epoch_ms(p["timestamp"])
        out[p["batchId"]] = dict(
            id=p["batchId"], start_n=_n(src.get("startOffset")),
            end_n=_n(src.get("endOffset")), start_ms=start,
            end_ms=start + p["durationMs"]["triggerExecution"], p=p)
    return [out[k] for k in sorted(out)]


def event_latencies(bs: list[dict], t0: float, k0: int,
                    rate: float) -> list[list[float]]:
    """Per micro-batch, seconds from each scheduled event's due time to
    the end of the batch, whose offset range [start_n, end_n) holds it."""
    return [[b["end_ms"] / 1e3 - (t0 + (i - k0) / rate)
             for i in range(max(b["start_n"], k0), b["end_n"])]
            for b in bs]


# ---------------------------------------------------------------------------
# correctness: the final snapshot against an exact replay
# ---------------------------------------------------------------------------

_GROUP_RE = re.compile(r"_(\d+)$")


def wal_ends(ckpt: str) -> dict[int, int]:
    """Batch id -> end offset ``n`` from the checkpoint's offset log."""
    out = {}
    d = os.path.join(ckpt, "offsets")
    for name in os.listdir(d):
        if name.isdigit():
            with open(os.path.join(d, name), encoding="utf-8") as f:
                lines = f.read().splitlines()
            out[int(name)] = _n(lines[2])
    return out


def flat_frame(events: list[dict]) -> pd.DataFrame:
    """Generated events as the flat, source-filtered rows the fold sees."""
    df = pd.DataFrame(events)
    df["ts"] = pd.to_datetime(df.pop("dt").str.rstrip("Z"))
    keep = (df["namespace"] == 0) & ~df["comment"].str.contains("Fixed error")
    return df[keep]


def _group_key(df: pd.DataFrame) -> pd.Series:
    """operators.derive.move_closed_group, on the flat frame."""
    return df["wiki"] + "#" + df["title"].str.extract(
        _GROUP_RE, expand=False).fillna("")


def _replay_frame(df: pd.DataFrame, ends: list[int], purge) -> dict:
    from wikitrender_spark.streaming import fold

    groups: dict[str, dict] = {}
    start = 0
    for end in ends:
        part = df[(df["seq"] >= start) & (df["seq"] < end)]
        for g, gdf in part.groupby(_group_key(part), sort=False):
            titles = groups.setdefault(g, {})
            fold.fold_pdf(titles, gdf)
            ev = gdf[gdf["log_type"] != "control"]
            if len(ev):
                fold.purge_titles(titles, ev["ts"].max(), purge)
        start = end
    return {pid: fold.page_record(page) | {"safe": page["safe"]}
            for titles in groups.values() for pid, page in titles.items()}


def replay(events: list[dict], ends: list[int], purge,
           workers: int = 1) -> dict:
    """Exact replay: fold each micro-batch's slice per move-closed group
    and run the cleaner per group at the batch's max event time, as the
    keyed processor does. Returns page id -> snapshot record. Groups are
    independent, so ``workers`` processes can replay disjoint shards."""
    df = flat_frame(events)
    if workers <= 1:
        return _replay_frame(df, ends, purge)
    shard = pd.util.hash_array(_group_key(df).to_numpy()) % workers
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        parts = pool.map(_replay_frame,
                         [df[shard == k] for k in range(workers)],
                         [ends] * workers, [purge] * workers)
        return {pid: rec for part in parts for pid, rec in part.items()}


def _canon(v):
    if v is None:
        return None
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.value // 1000
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and v != v:
        return None
    return v


def mismatches(snapshot: dict, expected: dict) -> list[str]:
    """Page ids whose snapshot row differs from the replay, or that only
    one side holds."""
    bad = []
    for pid in sorted(set(snapshot) | set(expected)):
        a, b = snapshot.get(pid), expected.get(pid)
        if a is None or b is None or any(
                _canon(a[c]) != _canon(b[c]) for c in b):
            bad.append(pid)
    return bad


def read_snapshot(table: str) -> tuple[int, dict]:
    """(batch id, page id -> row) of the snapshot the manifest names."""
    import pyarrow.parquet as pq

    with open(table + "_MANIFEST", encoding="utf-8") as f:
        vdir = f.read().strip()
    batch_id = int(re.search(r"_v(\d+)_[0-9a-f]+$", vdir).group(1))
    pdf = pq.read_table(vdir).to_pandas()
    rows = {}
    for r in pdf.to_dict("records"):
        rows[r["id"]] = {k: (pd.Timestamp(v) if k in ("start", "updated")
                             and v is not None else v) for k, v in r.items()}
    return batch_id, rows


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _await_batch(q, batch_id: int, deadline: float) -> None:
    """Wait until micro-batch ``batch_id`` has completed."""
    while True:
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"query failed: {exc}")
        last = q.lastProgress
        if (last is not None and last["batchId"] >= batch_id
                and last["numInputRows"]):
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"micro-batch {batch_id} did not complete")
        time.sleep(0.25)


def _measure(q, seconds: float, last_id: int, deadline: float) -> None:
    """Let the query run for at least ``seconds`` and until micro-batch
    ``last_id`` has completed."""
    end = time.monotonic() + seconds
    while time.monotonic() < end:
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        time.sleep(0.25)
    _await_batch(q, last_id, deadline)


def _timer(f, intervals: list):
    """``f``, recording the epoch-ms interval of every call."""
    def timed(*a, **k):
        t = time.time() * 1e3
        try:
            return f(*a, **k)
        finally:
            intervals.append((t, time.time() * 1e3))

    return timed


def run(ctx) -> dict:
    from wikitrender_spark.operators.derive import move_closed_group
    from wikitrender_spark.sources import sinks, sse
    from wikitrender_spark.streaming import processor

    spec = HOT
    t_launch = time.perf_counter()
    n_events = int(WARM_RATE * START_TIMEOUT_S + spec.rate * (
        ctx.seconds + 60))
    gen = Generator(ctx.work, spec, ctx.seed, n_events)
    q = None
    reports: list[int] = []
    timed: dict[str, list] = {"render_top5": [], "read_snapshot": []}
    try:
        spark = ctx.session()
        t_session = time.perf_counter()
        sse.register_sse_source(spark)
        c0 = time.time() * 1e3
        raw = (spark.readStream.format("wikimedia_sse")
               .option("url", gen.url).load())
        changelog = processor.page_state_changelog(
            sse.rc_from_sse(raw), move_closed_group(), purge_params())
        c1 = time.time() * 1e3
        table = os.path.join(ctx.work, "state")
        ckpt = os.path.join(ctx.work, "ckpt")
        q = sinks.state_snapshot_sink(
            changelog, table, ckpt,
            report=lambda name, rows: reports.append(len(rows)))
        deadline = time.monotonic() + START_TIMEOUT_S
        t_started = time.perf_counter()
        _await_batch(q, 0, deadline)
        t_first = time.perf_counter()
        gen.go()
        _await_batch(q, WARM_BATCHES, deadline)
        setup_s = time.perf_counter() - t_launch

        real = {name: getattr(sinks, name) for name in timed}
        if ctx.trace:
            for name in timed:
                setattr(sinks, name, _timer(real[name], timed[name]))
        try:
            _measure(q, ctx.seconds, WARM_BATCHES + MEASURED_BATCHES,
                     time.monotonic() + START_TIMEOUT_S)
        finally:
            for name, f in real.items():
                setattr(sinks, name, f)
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    finally:
        if q is not None and q.isActive:
            q.stop()
        status = gen.stop()

    if status is None or status["t0"] is None:
        raise RuntimeError("generator wrote no status")
    bs = batches(progress)
    t0, k0 = status["t0"], status["k0"]
    in_window = [b for b in bs if WARM_BATCHES < b["id"]
                 <= WARM_BATCHES + MEASURED_BATCHES]
    if len(in_window) != MEASURED_BATCHES:
        raise RuntimeError(f"progress holds {len(in_window)} of the "
                           f"{MEASURED_BATCHES} measured micro-batches")
    per_batch = event_latencies(in_window, t0, k0, spec.rate)
    lat = [x for xs in per_batch for x in xs]
    smallest = min(len(xs) for xs in per_batch)

    # correctness, outside the timed window
    snap_batch, snap = read_snapshot(os.path.join(ctx.work, "state"))
    wal = wal_ends(ckpt)
    ends = [wal[b] for b in range(snap_batch + 1)]
    offset_disagree = sum(1 for b in bs if b["id"] in wal
                          and wal[b["id"]] != b["end_n"])
    events = rcgen.flat_events(spec, n_events, ctx.seed)[:ends[-1]]
    expected = replay(events, ends, purge_params(), workers=ctx.cpus)
    bad = mismatches(snap, expected)
    for pid in bad[:3]:
        print(f"replay mismatch {pid}: snapshot={snap.get(pid)} "
              f"replay={expected.get(pid)}", file=sys.stderr)
    gen_ok = (status["late_p99_s"] <= LAG_P99_LIMIT_S
              and status["late_max_s"] <= LAG_MAX_LIMIT_S)

    info = {
        "events": len(lat), "batches": len(in_window),
        "events_folded": ends[-1], "pages_checked": len(snap),
        "replay_mismatches": len(bad), "offset_disagreements": offset_disagree,
        "generator": {k: status[k] for k in
                      ("sent", "late_max_s", "late_p99_s", "connections")},
        "generator_ok": gen_ok,
        "setup_phases_s": {"session": t_session - t_launch,
                           "query_start": t_started - t_session,
                           "first_batch": t_first - t_started,
                           "warm_batches": setup_s - (t_first - t_launch)},
        "backlog": backlog_series(status["send_log"], bs),
        "batch_rows_ms": [[b["id"], b["end_n"] - b["start_n"],
                           b["p"]["durationMs"]["triggerExecution"]]
                          for b in bs],
        "reports_rendered": len(reports) // 3,
        # percentiles are taken per micro-batch, so a batch's own event
        # count is what supports them
        "latency_events_per_batch_min": smallest,
        "latency_supported_pct": stats.highest_supported(smallest),
        # pooled over the window's events: one slow batch sets the tail,
        # so these are for reading, not for gating
        "pooled_latency_s": {f"p{q}": stats.percentile(lat, q)
                             for q in (50, 90, 99)},
    }
    result = {
        "attempted": ends[-1],
        "failed": len(bad) + offset_disagree,
        "info": info,
        "valid": gen_ok,
        "samples": {"latency_p50_s": smallest, "latency_p90_s": smallest,
                    "pass_s": len(in_window), "setup_s": 1},
        "latency_sample_note": f"events in the smallest of "
                               f"{len(in_window)} micro-batches; median "
                               "over the batches",
        "metrics": {
            "latency_p50_s": stats.median_percentile(per_batch, 50),
            "latency_p90_s": stats.median_percentile(per_batch, 90),
            "pass_s": statistics.median(
                [b["p"]["durationMs"]["triggerExecution"] / 1e3
                 for b in in_window]),
            "setup_s": setup_s,
        },
    }
    if ctx.trace:
        result["layers"] = layers(spark, in_window, timed, status, snap,
                                  events, c0, c1)
    return result


def backlog_series(send_log, bs) -> list[list[float]]:
    """[batch id, events sent but not yet read when the batch started]."""
    times = [t for t, _ in send_log]
    out = []
    for b in bs:
        k = bisect.bisect_right(times, b["start_ms"] / 1e3) - 1
        sent = send_log[k][1] if k >= 0 else 0
        out.append([b["id"], max(0, sent - b["start_n"])])
    return out


def layers(spark, win: list[dict], timed: dict, status, snap,
           events: list[dict], c0: float, c1: float) -> dict:
    """Per-layer readings over the window's micro-batches (medians per
    batch unless noted), from their progress records, the status stores
    and the sink timers.

    A micro-batch's wall time (``triggerExecution``) splits into disjoint
    self times, each measured on its own: the source's offset and batch
    calls (``latestOffset``, ``getBatch``; the drain wait sits here),
    planning (``queryPlanning``), the checkpoint (``walCommit``,
    ``commitOffsets``) and, inside ``addBatch``, in this order of claim:
    the keyed fold (wall span of the stage that runs the fold node, first
    task launch to completion), the report render (timer around
    ``render_top5``), the snapshot lookup (timer around
    ``read_snapshot``), the other executor jobs, and the rest of the
    sink's own SQL executions (their planning and driver-side work,
    submission to completion). Each later part counts only the time no
    earlier part claimed. Python code of the sink between those calls is
    the unaccounted rest."""
    med = statistics.median
    n = len(win)
    t0, t1 = win[0]["start_ms"], win[-1]["end_ms"]
    jobs = statusstore.jobs(spark, t0, t1)
    execs = statusstore.nested_executions(spark, t0, t1)
    # per batch, the first stage running the fold computes the persisted
    # batch; later stages showing the node only read it
    fold_st = statusstore.stages(spark, [
        ids[0] for b in win if (ids := statusstore.stages_running(
            spark, [sid for j in jobs
                    if b["start_ms"] <= j["submit"] <= b["end_ms"]
                    for sid in j["stages"]], FOLD_NODE))])
    flat = flat_frame(events)
    group = _group_key(flat)
    backlog = dict(backlog_series(status["send_log"], win))
    inner = ("fold", "report", "snapshot", "executor", "sink_sql")
    split = {k: [] for k in ("source", "plan", "checkpoint", *inner,
                             "accounted", "groups")}
    for b in win:
        s, e = b["start_ms"], b["end_ms"]

        def inside(ivs, s=s, e=e):
            return [(a, z) for a, z in ivs if z is not None and s <= a <= e]

        d = b["p"]["durationMs"]
        parts = {
            "source": d.get("latestOffset", 0) + d.get("getBatch", 0),
            "plan": d.get("queryPlanning", 0),
            "checkpoint": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        }
        parts.update(zip(inner, statusstore.claim([
            inside((x["launch"], x["end"]) for x in fold_st),
            inside(timed["render_top5"]),
            inside(timed["read_snapshot"]),
            inside((j["submit"], j["end"]) for j in jobs),
            inside((x["submit"], x["end"]) for x in execs)])))
        for k, v in parts.items():
            split[k].append(v)
        split["accounted"].append(sum(parts.values())
                                  / d["triggerExecution"])
        rows = (flat["seq"] >= b["start_n"]) & (flat["seq"] < b["end_n"])
        split["groups"].append(group[rows].nunique())
    st = [b["p"]["stateOperators"][0] for b in win]
    jobs_c = statusstore.jobs(spark, c0, c1)
    out = {
        "plans.construct_s": (c1 - c0) / 1e3,
        "barrier.jobs": len(jobs_c),
        "barrier.job_s": statusstore.union_ms(
            (j["submit"], j["end"]) for j in jobs_c) / 1e3,
        "catalyst.plan_ms": med(split["plan"]),
        "sse.read_ms": med(split["source"]),
        "sse.rows": med([b["p"]["numInputRows"] for b in win]),
        "sse.backlog_events": med([backlog[b["id"]] for b in win]),
        "processor.groups": med(split["groups"]),
        "processor.fold_s": med(split["fold"]) / 1e3,
        "statestore.rows_total": st[-1]["numRowsTotal"],
        "statestore.rows_updated": med([s["numRowsUpdated"] for s in st]),
        "statestore.memory_bytes": st[-1]["memoryUsedBytes"],
        "statestore.commit_ms": med([s["commitTimeMs"] for s in st]),
        # summed over the state partitions, so it may exceed the wall span
        "statestore.update_ms": med([s["allUpdatesTimeMs"] for s in st]),
        "sinks.batch_ms": med([b["p"]["durationMs"].get("addBatch", 0)
                               for b in win]),
        "sinks.report_ms": med(split["report"]),
        "sinks.snapshot_ms": med(split["snapshot"]),
        "sinks.sql_ms": med(split["sink_sql"]),
        "sinks.snapshot_rows": len(snap),
        "checkpoint.ms": med(split["checkpoint"]),
        "trace.accounted": med(split["accounted"]),
        "trace.pass_s": med([b["p"]["durationMs"]["triggerExecution"] / 1e3
                             for b in win]),
    }
    # executor totals per micro-batch; exec_s is the jobs' wall time that
    # the fold, the report and the snapshot lookup did not claim
    for k, v in statusstore.executor_summary(spark, jobs).items():
        out[k] = v if k == "executor.skew" else v / n
    out["executor.exec_s"] = med(split["executor"]) / 1e3
    return out
