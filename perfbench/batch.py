"""``batch_wt``: the nine wt headline rows, timed as a reporting job.

One pass runs the rows in a fixed order, as a reporting job started on
demand would: each row is built by its public query function (plan
construction on the Spark driver, including any barrier jobs it
submits) and its result is collected to the Spark driver. The pass time
is the wall time of the nine rows; a row's latency is its own
construction plus collection time.

Set-up is the Spark session and the seeded events table. Exactly one
pass, the first in the session, is measured, whatever ``--seconds`` says,
as a reporting job started on demand runs it. A warmed pass (after one
unmeasured pass) was tried: it is half as long (15-16 s against 31-39 s
on a 4-core host), so a host slowdown of a few seconds covers more of it,
and its figures spread wider between runs of the same code, while the
warm-up pass cost about 15 s more per run. After the timed window every
collected row is compared with its DuckDB oracle from
``registry.all_oracles()``.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

import stats
import statusstore
import wtdata

ROWS = (
    "wt_page_state", "wt_most_edited", "wt_most_vibrant",
    "wt_purge_survivors", "wt_page_state_lifecycle", "wt_lifecycle_replay",
    "wt_windowed_activity", "wt_session_activity", "wt_protect_followups",
)
#: events in the generated table (the scale of the shared sf0.01 data;
#: at this size a pass is dominated by per-row construction and job
#: overheads, which is the cost this workload exists to track).
N_EVENTS = 10_000


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (bool, int, float)):
        return (1, float(v))
    return (2, str(v))


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Column names and rows, in a form both engines' frames share:
    timestamps as epoch micros, nulls as None, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "M":
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            cols.append([None if pd.isna(v) else pd.Timestamp(v).value // 1000
                         for v in s])
            continue
        vals = []
        for v in s:
            if hasattr(v, "item"):
                v = v.item()
            if v is pd.NA or v is pd.NaT or (isinstance(v, float) and v != v):
                v = None
            vals.append(v)
        cols.append(vals)
    rows = sorted(zip(*cols), key=lambda r: tuple(_key(v) for v in r))
    return list(df.columns), rows


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return canon(got) == canon(want)


def _pass(spark, queries, sf_dir: str) -> dict:
    """One timed pass: per-row epoch instants (ms), row latencies and the
    collected results (or the exception a row raised)."""
    rows = []
    t0 = time.perf_counter()
    for name in ROWS:
        r0 = time.perf_counter()
        c0 = c1 = time.time() * 1e3
        try:
            df = queries[name](spark, sf_dir)
            c1 = time.time() * 1e3
            got = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed row is a result
            got = exc
        rows.append(dict(name=name, c0=c0, c1=c1, e1=time.time() * 1e3,
                         row_s=time.perf_counter() - r0, result=got))
    return dict(rows=rows, wall_s=time.perf_counter() - t0)


def check(passes: list[dict], oracles: dict, sf_dir: str) -> list[str]:
    """Row results (one per row per pass) that raised or differ from the
    row's DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'events.parquet')}'")
    want = {name: con.sql(oracles[name]).df() for name in ROWS}
    con.close()
    bad = []
    for p in passes:
        for r in p["rows"]:
            got = r.pop("result")
            if isinstance(got, Exception):
                print(f"{r['name']}: {got}")
            if (isinstance(got, Exception)
                    or not same_result(got, want[r["name"]])):
                bad.append(r["name"])
    return bad


def run(ctx) -> dict:
    t_launch = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "wt")
    wtdata.write_events(sf_dir, N_EVENTS, ctx.seed)
    spark = ctx.session()
    from wikitrender_spark.plans import registry

    queries, oracles = registry.all_queries(), registry.all_oracles()
    setup_s = time.perf_counter() - t_launch

    measured = [_pass(spark, queries, sf_dir)]
    lat = [r["row_s"] for p in measured for r in p["rows"]]
    pass_s = statistics.median([p["wall_s"] for p in measured])
    bad = check(measured, oracles, sf_dir)
    result = {
        "attempted": len(ROWS) * len(measured),
        "failed": len(bad),
        "valid": True,
        "info": {"passes": len(measured), "rows_checked": len(ROWS),
                 "oracle_mismatches": bad, "events": N_EVENTS,
                 "row_s": {r["name"]: r["row_s"] for r in measured[0]["rows"]},
                 # nine rows support no percentile (stats.supports): the
                 # latency figures are the median and the slowest row
                 "latency_supported_pct": stats.highest_supported(len(lat))},
        "samples": {"latency_p50_s": len(lat), "latency_p90_s": len(lat),
                    "pass_s": len(measured), "setup_s": 1},
        "metrics": {"latency_p50_s": stats.percentile(lat, 50),
                    "latency_p90_s": stats.percentile(lat, 90),
                    "pass_s": pass_s, "setup_s": setup_s},
    }
    if ctx.trace:
        result["layers"] = layers(spark, measured)
    return result


def layers(spark, passes: list[dict]) -> dict:
    """Per-layer self times of the traced passes, averaged per pass.

    A row's wall time splits into: construction (plans) minus the jobs
    it submits (barrier); from the end of construction to its first
    execution job (catalyst: analysis, optimisation and planning of the
    collect); the union of its execution jobs (executor); the remainder is
    unaccounted time on the Spark driver."""
    n = len(passes)
    acc = dict(plans=0.0, barrier=0.0, catalyst=0.0, executor=0.0, wall=0.0)
    barrier_jobs = 0
    t0 = passes[0]["rows"][0]["c0"]
    t1 = passes[-1]["rows"][-1]["e1"]
    all_jobs = statusstore.jobs(spark, t0, t1)
    for p in passes:
        for r in p["rows"]:
            cjobs = [j for j in all_jobs if r["c0"] <= j["submit"] <= r["c1"]]
            ejobs = [j for j in all_jobs if r["c1"] < j["submit"] <= r["e1"]]
            b = statusstore.union_ms((j["submit"], j["end"]) for j in cjobs)
            acc["plans"] += (r["c1"] - r["c0"]) - b
            acc["barrier"] += b
            first = min((j["submit"] for j in ejobs), default=r["e1"])
            acc["catalyst"] += first - r["c1"]
            acc["executor"] += statusstore.union_ms(
                (j["submit"], j["end"]) for j in ejobs)
            acc["wall"] += r["e1"] - r["c0"]
            barrier_jobs += len(cjobs)
    fold_stages = statusstore.stages_running(
        spark, [s for j in all_jobs for s in j["stages"]],
        "FlatMapGroupsInPandas")
    fold_ms = statusstore.union_ms(
        (s["launch"], s["end"])
        for s in statusstore.stages(spark, fold_stages))
    out = {
        "plans.construct_s": acc["plans"] / 1e3 / n,
        "barrier.jobs": barrier_jobs / n,
        "barrier.job_s": acc["barrier"] / 1e3 / n,
        "catalyst.plan_s": acc["catalyst"] / 1e3 / n,
        "executor.exec_s": acc["executor"] / 1e3 / n,
        "processor.fold_s": fold_ms / 1e3 / n,
        "trace.accounted": (acc["plans"] + acc["barrier"] + acc["catalyst"]
                            + acc["executor"]) / acc["wall"],
        "trace.pass_s": statistics.median([p["wall_s"] for p in passes]),
    }
    for k, v in statusstore.executor_summary(spark, all_jobs).items():
        out[k] = v if k == "executor.skew" else v / n
    return out
