"""Benchmark of the wikitrender_spark engine: one command, one workload.

    python3 perfbench/run.py --workload stream_hot --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (why each exists, and the
layer -> metric -> workload map, are in perfbench/NOTES.md):

- ``stream_hot``: the live SSE -> keyed fold -> snapshot sink chain under
  an open-loop 50 ev/s feed with Zipf-skewed page choice (stream.py).
- ``batch_wt``: the nine wt headline rows over a seeded events table,
  construction plus collection timed per row (batch.py).

Every run prints each end-to-end metric by name, unit and sample count,
the attempted and failed operation counts and the correctness verdict;
``--trace 1`` instead prints the per-layer metrics. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

Exit codes: 0 measured; 1 the program failed; 2 the program is missing
from the checkout; 3 the run is invalid because the load generator fell
behind its schedule (a generator fault, not a slow program).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    _SPEC = json.load(_f)
WORKLOADS = tuple(w["name"] for w in _SPEC["workloads"])
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
#: layer self times must cover the traced wall time to within this share.
ACCOUNTING_TOLERANCE = 0.10


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = args.cpus
        self.work = work
        self._spark = None

    def session(self):
        if self._spark is None:
            from pyspark.sql import SparkSession

            from wikitrender_spark.session import get_spark

            tmp = os.path.join(self.work, "tmp")
            os.makedirs(tmp, exist_ok=True)
            SparkSession.builder.config("spark.driver.extraJavaOptions",
                                        f"-Djava.io.tmpdir={tmp}")
            self._spark = get_spark("perfbench", cpus=self.cpus)
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
        self._spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def _print_metrics(metrics: dict, units: dict, samples: dict,
                   latency_note: str | None = None) -> None:
    for name, unit in units.items():
        n = samples.get(name)
        tail = f"  (n={n})" if n is not None else ""
        q = re.fullmatch(r"latency_p(\d+)_s", name)
        if q and latency_note:
            tail = f"  (n={n}: {latency_note})"
        if q and n is not None and not stats.supports(n, float(q.group(1))):
            tail += ", below the sample-support rule"
        print(f"{name:26s} {metrics[name]:14.6g} {unit}{tail}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one core of a 4-core host stays free for the Spark driver's compiler
    # and collector threads, the Python driver and the load generator; with
    # all four given to tasks, runs of the same code spread wider
    # (perfbench/NOTES.md)
    ap.add_argument("--cpus", type=int, default=3,
                    help="local[N] cores (1 gives the single-thread baseline)")
    args = ap.parse_args()

    try:
        import wikitrender_spark  # noqa: F401
    except ImportError as exc:
        print(f"wikitrender_spark is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package from the checkout; every temporary
    # file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    ctx = Ctx(args, work)
    try:
        if args.workload == "stream_hot":
            import stream as wl
        else:
            import batch as wl
        res = wl.run(ctx)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    info = json.dumps({"workload": args.workload, "seed": args.seed,
                       "cpus": args.cpus, **res["info"]})
    if not res["valid"]:
        print(f"{info}\nINVALID run: the load generator fell behind its "
              "schedule", file=sys.stderr)
        return 3
    print(info)
    if args.trace:
        # a layer the workload does not run reads 0
        layers = {k: res["layers"].get(k, 0) for k in PER_LAYER}
        _print_metrics(layers, PER_LAYER, {})
        ok = abs(1.0 - layers["trace.accounted"]) <= ACCOUNTING_TOLERANCE
        print(f"layer self times cover {layers['trace.accounted']:.1%} of the "
              f"traced wall time (tolerance {ACCOUNTING_TOLERANCE:.0%}): "
              f"{'ok' if ok else 'OUTSIDE'}. Tracing overhead is trace.pass_s "
              "minus pass_s of an untraced run with the same seed.")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        _print_metrics(res["metrics"], END_TO_END, res["samples"],
                       res.get("latency_sample_note"))
        metrics = {k: {"value": res["metrics"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    correct = res["failed"] == 0
    print(f"correct={correct} attempted={res['attempted']} "
          f"failed={res['failed']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
