"""Per-layer readings from Spark's own status stores.

Everything here runs after the timed window: it reads the application
status store (jobs, stages, their RDD operation graphs, task
distributions) and the SQL status store (executions) that Spark keeps
even with the web UI disabled.
Wall-clock instants are epoch milliseconds, the unit Spark records.
"""

from __future__ import annotations

import statistics


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def jobs(spark, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted within [t0_ms, t1_ms], oldest first."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or not t0_ms <= sub <= t1_ms:
            continue
        out.append(dict(id=j.jobId(), submit=sub,
                        end=_opt_ms(j.completionTime()),
                        stages=list(_seq(j.stageIds())),
                        failed=str(j.status()) == "FAILED"))
    return sorted(out, key=lambda d: d["id"])


def union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stages(spark, stage_ids) -> list[dict]:
    """Executor-side totals of each stage (last attempt), with task skew
    as max over median task run time, and its first task launch and
    completion instants."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    qs = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = []
    for sid in sorted(set(stage_ids)):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        skew = None
        summ = store.taskSummary(sid, s.attemptId(), qs)
        if s.numTasks() > 1 and summ.isDefined():
            rt = summ.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            skew = mx / med if med > 0 else None
        out.append(dict(
            id=sid, launch=_opt_ms(s.firstTaskLaunchedTime()),
            end=_opt_ms(s.completionTime()),
            tasks=s.numTasks(), run_ms=s.executorRunTime(),
            cpu_ns=s.executorCpuTime(),
            shuffle_bytes=s.shuffleReadBytes() + s.shuffleWriteBytes(),
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            skew=skew))
    return out


def executor_summary(spark, job_list: list[dict]) -> dict:
    """executor.* totals over the stages of ``job_list``."""
    st = stages(spark, [s for j in job_list for s in j["stages"]])
    skews = [s["skew"] for s in st if s["skew"] is not None]
    return {
        "executor.jobs": len(job_list),
        "executor.stages": len(st),
        "executor.tasks": sum(s["tasks"] for s in st),
        "executor.run_s": sum(s["run_ms"] for s in st) / 1e3,
        "executor.cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "executor.shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
        "executor.spill_bytes": sum(s["spill_bytes"] for s in st),
        "executor.skew": statistics.median(skews) if skews else 1.0,
    }


def nested_executions(spark, t0_ms: float, t1_ms: float) -> list[dict]:
    """SQL executions submitted within [t0_ms, t1_ms] that run inside
    another one (a sink's own actions inside a micro-batch), with their
    submission and completion instants."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(sql.executionsList()):
        if (t0_ms <= e.submissionTime() <= t1_ms
                and e.rootExecutionId() != e.executionId()):
            out.append(dict(id=e.executionId(), submit=e.submissionTime(),
                            end=_opt_ms(e.completionTime())))
    return out


def claim(parts) -> list[float]:
    """Disjoint self times of interval lists taken in order: each part
    counts the length of its union that no earlier part covers."""
    out, taken = [], []
    for ivs in parts:
        ivs = list(ivs)
        out.append(union_ms(taken + ivs) - union_ms(taken))
        taken += ivs
    return out


def _graph_names(cluster) -> set:
    names = {cluster.name()}
    for c in _seq(cluster.childClusters()):
        names |= _graph_names(c)
    return names


def stages_running(spark, stage_ids, node: str) -> list[int]:
    """Those of ``stage_ids`` that ran (were not skipped) and whose RDD
    operation graph holds a cluster named ``node``: the plan node's scope
    names the cluster. A stage that reads a persisted result of the node
    shows it as well."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for sid in sorted(set(stage_ids)):
        try:
            store.lastStageAttempt(sid)      # raises for a skipped stage
            graph = store.operationGraphForStage(sid)
        except Exception:  # noqa: BLE001
            continue
        if node in _graph_names(graph.rootCluster()):
            out.append(sid)
    return out
