"""Seeded recent-changes events for the streaming workload.

One generator feeds both sides of the benchmark: the SSE server sends
``wire_json(ev)`` for each event over HTTP, and the correctness check
rebuilds the same events as the flat rows ``sources.sse.rc_from_sse``
produces from them.

The event mix is not invented here. Each event is a row of the generic
``events`` table (``wtdata.make_events``, the shape of the shared test
data) mapped to a recent change by the repository's own derivation,
``operators.derive.rc_derive_sql`` (run by DuckDB), which the wt queries
and the tests use: its wiki, namespace, bot, anonymous-user, page
creation, comment (revert, notability, dropped fixup) and log
(move/delete/protect) branches decide the shares. Only two things are the
benchmark's own: the page, drawn Zipf-skewed over ``Spec.pages`` instead
of the derivation's ``event_id % 211``, and the event time.

Event ``i`` carries ``meta.dt = EPOCH + i / rate``, so event time, and
with it the purge clock, is the same on every run with the same seed.
Wall-clock due times are the generator's business (ssegen.py): it reports
the instant its schedule started, which maps each scheduled event to the
wall time it was due for the latency measurement.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

import wtdata

#: event time of event 0 (the wire carries it as meta.dt).
EPOCH = pd.Timestamp("2024-03-01T00:00:00")

_FLAT = ("seq", "title", "comment", "namespace", "user", "bot", "type",
         "length_new", "length_old", "wiki", "server_name", "log_type",
         "log_action", "log_target", "log_action_comment")
_PAGE_RE = re.compile(r"_\d+")


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's stream."""
    rate: float          # events per second, open loop
    pages: int           # distinct page numbers
    zipf_s: float        # skew of page choice, p(k) ~ 1 / k**s


def _page_probs(pages: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, pages + 1, dtype=float) ** s
    return w / w.sum()


def _dt(i: int, rate: float) -> str:
    ts = EPOCH + pd.Timedelta(microseconds=round(1e6 * i / rate))
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def flat_events(spec: Spec, n: int, seed: int) -> list[dict]:
    """``n`` events as flat dicts, ``seq`` 0..n-1. The draws depend on
    ``n``: the checker regenerates the generator's full list and slices
    it."""
    import duckdb

    from wikitrender_spark.operators.derive import rc_derive_sql

    con = duckdb.connect()
    con.register("events", wtdata.make_events(n, seed))
    rows = con.sql(f"SELECT {', '.join(_FLAT)} FROM ({rc_derive_sql('duckdb')})"
                   " ORDER BY seq").fetchall()
    con.close()
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(spec.pages)
    pages = perm[rng.choice(spec.pages, n,
                            p=_page_probs(spec.pages, spec.zipf_s))]
    out = []
    for row, page in zip(rows, pages):
        ev = dict(zip(_FLAT, row))
        # the derivation's page number, wherever it appears, becomes the
        # Zipf-drawn one (move targets stay 1:1 with their source page)
        for k in ("title", "log_target", "log_action_comment"):
            if ev[k] is not None:
                ev[k] = _PAGE_RE.sub(f"_{page}", ev[k], count=1)
        ev["dt"] = _dt(ev["seq"], spec.rate)
        out.append(ev)
    return out


def wire_json(ev: dict) -> str:
    """The Wikimedia-shaped JSON payload of one flat event."""
    body = {k: ev[k] for k in (
        "title", "comment", "namespace", "user", "bot", "type", "wiki",
        "server_name")}
    if ev["length_new"] is not None:
        body["length"] = {"new": ev["length_new"], "old": ev["length_old"]}
    if ev["log_type"] is not None:
        body.update(log_type=ev["log_type"], log_action=ev["log_action"],
                    log_params={"target": ev["log_target"]},
                    log_action_comment=ev["log_action_comment"])
    body["meta"] = {"id": f"e{ev['seq']}", "dt": ev["dt"], "offset": ev["seq"]}
    return json.dumps(body)
