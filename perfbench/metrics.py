"""Turns the harness's raw measurements into the benchmark's metrics.

End-to-end metrics come from an untraced run; per-layer metrics from the
job spans of a traced run. A job belongs to the query execution whose tags
(query, qid, pass, phase) were set on the calling thread; its layer comes
from the phase and the call site of the Spark action that caused it, its
module from the innermost `graft.*` frame of that call site.

End-to-end timings are scaled to a fixed host speed. The harness probes
the host (`SpeedProbe`: a fixed JVM task, on every core) after set-up and
after every timed pass. A timed pass, and every query execution in it, is
scaled by PROBE_REF_S over the mean of the probes just before and after
it; set-up by PROBE_REF_S over the run's median probe. On the shared
4-core host the benchmark was sized on, other tenants moved pass times
by up to 2x between runs of the same code, and the probe moved with them.
"""
import statistics

MODULES = ["queries", "util", "glm", "image", "design", "dedup", "similarity",
           "text", "multimodal", "timeseries"]
PROBE_METHODS = {"count", "isEmpty", "head", "take", "collect", "first",
                 "collectAsList", "takeAsList", "toLocalIterator", "tail",
                 "reduce", "foreach", "foreachPartition"}
TABLE_WRITES = {"saveAsTable", "insertInto", "save"}
# DataFrameReader and DataFrameWriter share these names; a job that wrote
# no bytes is a read (file listing / schema inference)
FILE_METHODS = {"parquet", "json", "csv", "orc", "text", "load", "table"}
CHECKPOINT_METHODS = {"localCheckpoint", "checkpoint"}
PIN_FRAME = "graft.util.Loops$.collectCapped"
DEMOTE_FRAME = "graft.util.Loops$.pinWithCap"
MB = 1048576.0
# the probe's typical time on the sizing host (4 cores, under the load
# its other tenants put on it then): scaled seconds read close to raw
# seconds there
PROBE_REF_S = 0.040


def pass_scales(raw):
    """Host-speed scale of each timed pass (see the module docstring)."""
    probe = raw["speed_probe_s"]
    return {p["pass"]: 2 * PROBE_REF_S / (probe[i] + probe[i + 1])
            for i, p in enumerate(raw["passes"])}


def end_to_end(raw, failed, attempted):
    scale = pass_scales(raw)
    probe_s = statistics.median(raw["speed_probe_s"])
    timed = [e for e in raw["executions"] if e["pass"] >= 1]
    lat = sorted(e["build_s"] + e["exec_s"] for e in timed)
    # each query's median, then their geometric mean: the median of all
    # samples pooled would fall between the latency clusters of different
    # queries and move with their extremes
    by_query = {}
    for e in timed:
        by_query.setdefault(e["query"], []).append(
            (e["build_s"] + e["exec_s"]) * scale[e["pass"]])
    walls = [p["wall_s"] for p in raw["passes"]]
    cpus = [p["cpu_s"] for p in raw["passes"]]
    metrics = {
        "setup_s": raw["setup_s"] * PROBE_REF_S / probe_s,
        "wall_s": statistics.median(w * scale[p["pass"]]
                                    for w, p in zip(walls, raw["passes"])),
        "query_p50_s": statistics.geometric_mean(
            statistics.median(v) for v in by_query.values()),
        "cpu_s": statistics.median(c * scale[p["pass"]]
                                   for c, p in zip(cpus, raw["passes"])),
        "heap_live_mb": raw["heap_live_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    notes = {"query_samples": len(lat), "query_max_s": lat[-1], "passes": len(walls),
             "probe_s": probe_s, "raw_setup_s": raw["setup_s"],
             "raw_wall_s": statistics.median(walls), "raw_cpu_s": statistics.median(cpus)}
    return metrics, notes


def module_of(frames):
    """Repo module (package under graft/) of the innermost graft frame."""
    for f in frames:
        parts = f.split(".")
        if len(parts) > 2 and parts[0] == "graft" and parts[1][:1].islower():
            return parts[1]
        if len(parts) > 1 and parts[0] == "graft":
            return "graft"
    return None


def classify(job):
    """(phase, layer, module) of one job span; layer None = unattributed."""
    phase = job["tags"].get("phase")
    module = module_of(job["frames"])
    if phase == "exec":
        return phase, "tail", module
    if phase != "build" or module is None:
        return phase, None, module
    frames, method = job["frames"], job["method"]
    if PIN_FRAME in frames:
        return phase, "pin", module
    if method in CHECKPOINT_METHODS:
        return phase, "checkpoint", module
    if method in TABLE_WRITES or (method in FILE_METHODS and job["output"] > 0):
        return phase, "store", module
    if method in FILE_METHODS:
        return phase, "scan", module
    if method in PROBE_METHODS:
        return phase, "probe", module
    return phase, "build_other", module


def _wall(job):
    return max(job["end_ms"] - job["start_ms"], 0) / 1e3


def _is_int(s):
    return s is not None and s.lstrip("-").isdigit()


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(raw, cores):
    """Per traced timed pass: layer, module, engine and JVM figures."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    passes = {str(p["pass"]) for p in traced}
    n = max(len(traced), 1)
    execs = {e["qid"]: e for e in raw["executions"]}
    jobs = [j for j in raw["jobs"] if j["tags"].get("pass") in passes]
    m = {}

    def add(name, v):
        m[name] = m.get(name, 0.0) + v

    for name in (["queries.build_s", "queries.exec_s", "driver.gap_s",
                  "pin.jobs", "pin.wall_s", "pin.result_mb", "pin.demoted",
                  "checkpoint.jobs", "checkpoint.wall_s", "checkpoint.task_s",
                  "probe.jobs", "probe.wall_s", "scan.jobs", "scan.wall_s",
                  "store.jobs", "store.wall_s",
                  "store.write_mb", "tail.jobs", "tail.wall_s", "tail.task_s"]
                 + [f"{mod}.{k}" for mod in MODULES
                    for k in ("jobs", "job_wall_s", "task_s")]
                 + ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
                    "spark.sched_wait_s", "spark.shuffle_read_mb",
                    "spark.shuffle_write_mb", "spark.input_mb", "spark.result_mb",
                    "spark.failed_tasks"]):
        m[name] = 0.0
    unattributed = total_wall = 0.0
    by_qid = {}
    for j in jobs:
        phase, layer, module = classify(j)
        e = execs.get(j["tags"].get("qid"))
        # a tag inherited by a long-lived thread names a query that is no
        # longer running: such a job is not attributed to it
        if e is None or not (e["start_ms"] <= j["start_ms"] <= e["end_ms"]):
            layer = None
        w, task_s = _wall(j), j["run_ms"] / 1e3
        total_wall += w
        add("spark.jobs", 1)
        add("spark.stages", j["stages"])
        add("spark.tasks", j["tasks"])
        add("spark.task_s", task_s)
        add("spark.failed_tasks", j["failed_tasks"])
        add("spark.shuffle_read_mb", j["shuffle_read"] / MB)
        add("spark.shuffle_write_mb", j["shuffle_write"] / MB)
        add("spark.input_mb", j["input"] / MB)
        add("spark.result_mb", j["result"] / MB)
        if j["first_launch_ms"] is not None:
            add("spark.sched_wait_s", max(j["first_launch_ms"] - j["start_ms"], 0) / 1e3)
        if layer is None:
            unattributed += w
            continue
        by_qid.setdefault(j["tags"]["qid"], []).append((j["start_ms"], j["end_ms"]))
        if layer in ("pin", "checkpoint", "probe", "scan", "store", "tail"):
            add(f"{layer}.jobs", 1)
            add(f"{layer}.wall_s", w)
        if layer == "pin":
            add("pin.result_mb", j["result"] / MB)
        if layer == "checkpoint":
            add("checkpoint.task_s", task_s)
            if DEMOTE_FRAME in j["frames"]:
                add("pin.demoted", 1)
        if layer == "store":
            add("store.write_mb", j["output"] / MB)
        if layer == "tail":
            add("tail.task_s", task_s)
        if phase == "build" and module in MODULES:
            add(f"{module}.jobs", 1)
            add(f"{module}.job_wall_s", w)
            add(f"{module}.task_s", task_s)
    for e in raw["executions"]:
        if str(e["pass"]) in passes:
            add("queries.build_s", e["build_s"])
            add("queries.exec_s", e["exec_s"])
            span = e["end_ms"] - e["start_ms"]
            busy = _union_ms([(max(s, e["start_ms"]), min(t, e["end_ms"]))
                              for s, t in by_qid.get(e["qid"], []) if t > s])
            add("driver.gap_s", max(span - busy, 0) / 1e3)
    out = {k: v / n for k, v in m.items()}
    wall = statistics.median(p["wall_s"] for p in traced) if traced else 0.0
    out["spark.busy_frac"] = out["spark.task_s"] / (wall * cores) if wall else 0.0
    out["jvm.gc_s"] = sum(p["gc_s"] for p in traced) / n
    out["jvm.gc_count"] = sum(p["gc_count"] for p in traced) / n
    setup_store = [j for j in raw["jobs"] if _is_int(j["tags"].get("pass"))
                   and int(j["tags"]["pass"]) <= 0 and classify(j)[1] == "store"]
    out["setup.store_jobs"] = float(len(setup_store))
    out["setup.store_wall_s"] = sum(_wall(j) for j in setup_store)
    out["trace.wall_s"] = wall
    base = statistics.median(p["wall_s"] for p in untraced) if untraced else 0.0
    out["trace.untraced_wall_s"] = base
    out["trace.overhead_frac"] = wall / base - 1 if base else 0.0
    out["trace.unattributed_frac"] = unattributed / total_wall if total_wall else 0.0
    return out

