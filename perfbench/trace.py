"""Per-layer record of one pass, taken from outside the program.

Each public call of a traced pass runs under its own Spark job group.
After the pass, the jobs of every group are read back from Spark's
status store (``job(id).stageIds()`` then ``lastStageAttempt(sid)``,
which works with the UI disabled), and CPU is read from ``/proc`` for
the driver JVM and its Python workers. Spans stay in memory until
``write`` dumps them at the end of the run.
"""
from __future__ import annotations

import json
import os
import time
from pathlib import Path

from . import workloads

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
# a size-gated graph call on its driver arm runs the gate's count and the
# collect (plus whatever lazy input they execute); the distributed arm
# runs a checkpointed loop of many jobs
DRIVER_ARM_MAX_JOBS = 12


def _proc_cpu_s(pid: int, children: bool = False) -> float:
    try:
        f = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if children:
        ticks += int(f[13]) + int(f[14])  # reaped children
    return ticks / _TICK


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(open(f"/proc/{d}/stat").read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_snapshot(spark) -> dict:
    """Driver-JVM CPU and Python-worker CPU (daemon, live workers and the
    workers they already reaped) and this process's own CPU."""
    pid = jvm_pid(spark)
    return {
        "jvm": _proc_cpu_s(pid),
        "pyworker": sum(_proc_cpu_s(p, children=True) for p in _descendants(pid)),
        "driver_py": time.process_time(),
    }


def peak_rss_mb(spark) -> float:
    for line in open(f"/proc/{jvm_pid(spark)}/status"):
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def driver_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) / MB for i in infos)


# per-stage metrics summed into spark.<name> over every stage run
STAGE_SUMS = ("tasks", "exec_run_s", "exec_cpu_s", "jvm_gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class Tracer:
    """Wraps every public call of a pass in its own job group and span."""

    def __init__(self, spark, inner):
        self.sc = spark.sparkContext
        self.inner = inner
        self.spans: list[dict] = []

    def call(self, layer, fn, *args, **kwargs):
        name = getattr(fn, "__name__", type(fn).__name__)
        group = f"perfbench-{len(self.spans)}-{layer}-{name}"
        self.sc.setJobGroup(group, f"{layer}.{name}")
        t0 = time.perf_counter()
        try:
            return self.inner(layer, fn, *args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"layer": layer, "fn": name, "group": group, "start": t0, "end": t1})

    def _stage(self, store, sid: int) -> dict:
        st = store.lastStageAttempt(sid)
        return {
            "status": st.status().toString(),
            "tasks": st.numTasks(),
            "exec_run_s": st.executorRunTime() / 1e3,
            "exec_cpu_s": st.executorCpuTime() / 1e9,
            "jvm_gc_s": st.jvmGcTime() / 1e3,
            "input_mb": st.inputBytes() / MB,
            "shuffle_read_mb": st.shuffleReadBytes() / MB,
            "shuffle_write_mb": st.shuffleWriteBytes() / MB,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
        }

    def collect(self) -> None:
        """Attach each span's jobs and their stages (after the pass)."""
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            s["jobs"] = []
            for jid in self.sc.statusTracker().getJobIdsForGroup(s["group"]):
                sids = store.job(jid).stageIds()
                stages = [self._stage(store, sids.apply(i)) for i in range(sids.size())]
                s["jobs"].append({"id": jid, "stages": stages})


def layer_metrics(spans: list[dict], extra: dict) -> dict:
    """Fold one traced pass's spans into the per-layer metric table."""
    m: dict[str, float] = {f"{layer}.{k}": 0 for layer in workloads.LAYERS for k in ("s", "jobs")}
    for k in ("builder.s", "builder.jobs", "action.s", "action.jobs", "graph.distributed_calls",
              "spark.stages_run", "spark.stages_skipped", *(f"spark.{k}" for k in STAGE_SUMS)):
        m[k] = 0
    for s in spans:
        wall, jobs = s["end"] - s["start"], len(s["jobs"])
        side = "action" if s["layer"] in workloads.ACTION_LAYERS else "builder"
        for prefix in (s["layer"], side):
            m[f"{prefix}.s"] += wall
            m[f"{prefix}.jobs"] += jobs
        if s["layer"] == "graph":
            s["arm"] = "distributed" if jobs > DRIVER_ARM_MAX_JOBS else "driver"
            m["graph.distributed_calls"] += s["arm"] == "distributed"
        for st in (st for j in s["jobs"] for st in j["stages"]):
            if st["status"] == "SKIPPED":
                m["spark.stages_skipped"] += 1
                continue
            m["spark.stages_run"] += 1
            for k in STAGE_SUMS:
                m[f"spark.{k}"] += st[k]
    total_jobs = m["builder.jobs"] + m["action.jobs"]
    m["builder.job_share"] = m["builder.jobs"] / total_jobs if total_jobs else 0.0
    stages = m["spark.stages_run"] + m["spark.stages_skipped"]
    m["spark.stage_skip_ratio"] = m["spark.stages_skipped"] / stages if stages else 0.0
    m.update(extra)
    return m


def traced_pass(spark, tracer, one_pass, cold_digest, expect, cold_s, pass_s) -> dict:
    """Run one pass through ``tracer`` and return its per-layer metrics."""
    gc0, cpu0 = driver_gc_s(spark), cpu_snapshot(spark)
    traced_s, d, paths = one_pass(tracer.call)
    cpu1, gc1 = cpu_snapshot(spark), driver_gc_s(spark)
    expect(d == cold_digest, "traced pass digest differs from the cold pass")
    storage = storage_mb(spark)  # before the pass's caches are released
    tracer.collect()
    edges = workloads.graph_edges(paths) if paths else {}
    for s in tracer.spans:
        if s["layer"] == "graph":
            s["edges"] = edges.get(s["fn"], 0)
    return layer_metrics(tracer.spans, {
        "session.jvm_peak_rss_mb": peak_rss_mb(spark),
        "session.driver_gc_s": gc1 - gc0,
        "jvm.cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "pyworker.cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
        "driver.py_cpu_s": cpu1["driver_py"] - cpu0["driver_py"],
        "cache.storage_mb": storage,
        "jit.cold_minus_warm_s": cold_s - pass_s,
        "trace.overhead_s": traced_s - pass_s,
        "graph.edges": max(edges.values(), default=0),
    })


def write(path: Path, record: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(record, indent=1, default=str))
