"""Turns the raw run record written by the benchmark JVM into metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run's spans, Spark job/stage records and store observations.
"""
import re
import statistics

# source file of the innermost program frame -> layer
MODULES = {
    "Engine.scala": "tables",
    "Pipeline.scala": "queries",
    "Relational.scala": "queries",
    "CacheScope.scala": "cachescope",
    "EventStreams.scala": "streaming",
    "TextOps.scala": "textops",
    "Dedup.scala": "dedup",
    "Similarity.scala": "similarity",
    "Retrieval.scala": "retrieval",
    "Compaction.scala": "compaction",
}
OPERATORS = ["textops", "dedup", "similarity", "retrieval", "compaction"]
_FRAME_FILE = re.compile(r"\(([A-Za-z0-9_]+\.scala):\d+\)")
_SITE_FILE = re.compile(r" at ([A-Za-z0-9_]+\.scala):\d+")


def percentile(xs, q):
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie above the q-th percentile."""
    return n - 1 - int(q * (n - 1))


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals."""
    cut = sorted((max(a, start), min(b, end)) for a, b in intervals
                 if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


def module_of(frames, site):
    """Layer a Spark job or stage belongs to: the innermost program frame of
    the SQL execution that ran it, else the call site Spark names it by
    (`collect at TextOps.scala:417`)."""
    for f in frames or []:
        m = _FRAME_FILE.search(f)
        if m and m.group(1) in MODULES:
            return MODULES[m.group(1)]
        if m and f.startswith("graft."):
            return "other"
    m = _SITE_FILE.search(site or "")
    if m:
        return MODULES.get(m.group(1), "other")
    return "other"


# ops whose completion times make op_s: the requests a user waits on
# (queries; probe batches), not index maintenance, which wall_s covers
REQUEST_KINDS = ("query", "probe")


def request_percentile(rec, q):
    """q-th percentile of the successful request ops' completion times;
    None when none succeeded, so the run still reports its failures."""
    ok = [o["dur_s"] for o in rec["ops"]
          if o["dur_s"] is not None and o["kind"] in REQUEST_KINDS]
    return percentile(ok, q) if ok else None


def end_to_end(rec, setup_s, input_rows):
    """End-to-end metrics as (value, unit). The median is the only op-time
    percentile here: a run has 4 to 8 request ops, too few for a higher
    percentile to have ten samples beyond it (p90 is a per-layer figure)."""
    wall = statistics.median(rec["pass_wall_s"])
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "op_s.p50": (request_percentile(rec, 0.5), "s"),
        "input_rows_per_s": (input_rows / wall, "rows/s"),
        "rss_peak_mb": (rec["vm_hwm_mb"], "MB"),
    }


def op_medians(rec):
    """Median completion time of each op name over its successful runs."""
    by = {}
    for o in rec["ops"]:
        if o["dur_s"] is not None:
            by.setdefault(o["name"], []).append(o["dur_s"])
    return {n: statistics.median(v) for n, v in sorted(by.items())}


def failures(rec):
    ops = rec["ops"]
    failed = [o for o in ops if o["error"] is not None]
    return len(ops), len(failed)


def per_layer(rec):
    tr = rec["trace"]
    # jobs, stages and spans carry the index of their timed op; warm-up and
    # check work carry a negative one
    ops = {o["pass"] * 10000 + o["index"]: o for o in rec["ops"]}
    passes = len(rec["pass_wall_s"])
    wall = statistics.median(rec["pass_wall_s"])
    cores = rec["cores"]
    frames = tr["exec_frames"]
    jobs = [j for j in tr["jobs"] if j["op"] in ops]
    stages = [s for s in tr["stages"] if s["op"] in ops and "run_s" in s]
    spans = [s for s in tr["spans"] if s["op"] in ops]

    def mod(x):
        return module_of(frames.get(str(x["exec"])) if x["exec"] is not None else None,
                         x.get("site") or x.get("name"))

    def per_op(key):
        vals = [o.get(key, 0) for o in ops.values()]
        return sum(vals) / len(vals) if vals else 0.0

    def per_pass(v):
        return v / passes

    def span_mean(name):
        d = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return sum(d) / len(d) if d else 0.0

    def ssum(key, xs=None):
        return sum(s.get(key, 0) for s in (stages if xs is None else xs))

    # construct self time: the construct span minus the intervals of the
    # jobs it ran (job times are epoch seconds, span times run-relative)
    construct = [s for s in spans if s["name"] == "queries.construct"]
    cjobs = [j for j in jobs if j["span"] == "queries.construct" and "end" in j]
    offset = tr["epoch_offset"]
    cself = [self_time(s["start"], s["end"],
                       [(j["start"] - offset, j["end"] - offset) for j in cjobs
                        if j["op"] == s["op"]]) for s in construct]
    m = {
        "op_s.p90": (request_percentile(rec, 0.9), "s"),
        "tables.resolve_s": (per_op("tables_resolve_s"), "s"),
        "tables.files_opened": (per_op("files_discovered"), "count"),
        "queries.construct_s": (span_mean("queries.construct"), "s"),
        "queries.construct_self_s": (sum(cself) / len(cself) if cself else 0.0, "s"),
        "queries.construct_jobs": (len(cjobs) / max(1, len(construct)), "count"),
        "catalyst.analysis_s": (per_op("analysis_s"), "s"),
        "catalyst.optimization_s": (per_op("optimization_s"), "s"),
        "catalyst.planning_s": (per_op("planning_s"), "s"),
        "catalyst.plan_nodes": (per_op("plan_nodes"), "count"),
        "catalyst.exchanges": (per_op("exchanges"), "count"),
        "exec.action_s": (span_mean("exec.action"), "s"),
        "exec.jobs": (per_pass(len(jobs)), "count"),
        "exec.stages": (per_pass(len(stages)), "count"),
        "exec.tasks": (per_pass(ssum("tasks")), "count"),
        "exec.tasks_failed": (per_pass(ssum("tasks_failed")), "count"),
        "exec.task_run_s": (per_pass(ssum("run_s")), "s"),
        "exec.task_cpu_s": (per_pass(ssum("cpu_s")), "s"),
        "exec.task_gc_s": (per_pass(ssum("gc_s")), "s"),
        "exec.sched_delay_s": (per_pass(ssum("sched_delay_s")), "s"),
        "exec.cpu_util": (per_pass(ssum("cpu_s")) / (wall * cores), "ratio"),
        "exec.shuffle_write_bytes": (per_pass(ssum("shuffle_write_bytes")), "bytes"),
        "exec.shuffle_read_bytes": (per_pass(ssum("shuffle_read_bytes")), "bytes"),
        "exec.shuffle_fetch_wait_s": (per_pass(ssum("fetch_wait_s")), "s"),
        "exec.spill_disk_bytes": (per_pass(ssum("spill_disk_bytes")), "bytes"),
        "exec.scan_bytes": (per_pass(ssum("input_bytes")), "bytes"),
        "exec.scan_files": (per_pass(sum(o.get("scan_files", o.get("files_read", 0))
                                         for o in ops.values())), "count"),
        "cachescope.blocks": (per_op("cache_blocks"), "count"),
        "cachescope.bytes": (per_op("cache_bytes"), "bytes"),
        "cachescope.drain_s": (span_mean("cachescope.drain"), "s"),
        "jvm.gc_s": (per_pass(rec["jvm_gc_s"]), "s"),
        "jvm.heap_used_peak_mb": (rec["heap_used_peak_mb"], "MB"),
        "trace.wall_s": (wall, "s"),
    }
    for op in OPERATORS:
        mj = [j for j in jobs if mod(j) == op]
        ms = [s for s in stages if mod(s) == op]
        m[f"{op}.jobs"] = (per_pass(len(mj)), "count")
        m[f"{op}.task_cpu_s"] = (per_pass(ssum("cpu_s", ms)), "s")
        m[f"{op}.stage_s"] = (per_pass(sum((s["complete"] or 0) - (s["submit"] or 0)
                                           for s in ms)), "s")
    m.update(store_layer(rec))
    return m


def store_layer(rec):
    """index_store layer numbers; zero on workloads without stored indexes."""
    ops = rec["ops"]
    passes = len(rec["pass_wall_s"])

    def kind(k, name=None):
        return [o for o in ops if o["kind"] == k and (name is None or o["name"] == name)]

    def dur(xs):
        return [o["dur_s"] for o in xs if o["dur_s"] is not None]

    def last(xs, key):
        v = [o[key] for o in xs if key in o]
        return v[-1] if v else 0

    probes = kind("probe")
    pd = dur(probes)
    ingest = [b for name in ("ivf", "bm25") for b in rec.get("streaming", {}).get(name, [])]
    compacts = kind("compact")
    ingests = kind("ingest")
    builds = kind("build")
    files_read = sum(o.get("files_read", 0) for o in probes)
    index_files = sum(o.get("index_files", 0) for o in probes)
    index_bytes_after = sum(last(kind("compact", n), "index_bytes")
                            for n in ("compact_ivf", "compact_bm25"))
    input_bytes = rec.get("input_bytes", 0)
    return {
        "build_s": (sum(dur(builds)) / passes, "s"),
        "ingest_s.p50": (percentile([b["batch_s"] for b in ingest], 0.5) if ingest else 0.0, "s"),
        "compact_s": (sum(dur(compacts)) / passes, "s"),
        "probe_s.p50": (percentile(pd, 0.5) if pd else 0.0, "s"),
        "probe_s.p90": (percentile(pd, 0.9) if pd else 0.0, "s"),
        "store_bytes_ratio": (index_bytes_after / input_bytes if input_bytes else 0.0, "ratio"),
        "store.write_bytes": (sum(o.get("bytes_written", 0)
                                  for o in builds + ingests) / passes, "bytes"),
        "store.files": (sum(last(kind("ingest", n), "index_files")
                            for n in ("ingest_ivf", "ingest_bm25")), "count"),
        "store.files_per_cell_dir": (
            statistics.mean([last(kind("ingest", n), "files_per_dir")
                             for n in ("ingest_ivf", "ingest_bm25")]) if ingests else 0.0,
            "count"),
        "probe.files_read": (files_read / len(probes) if probes else 0.0, "count"),
        "probe.files_read_ratio": (files_read / index_files if index_files else 0.0, "ratio"),
        "compaction.bytes_rewritten": (sum(o.get("bytes_written", 0)
                                           for o in compacts) / passes, "bytes"),
        "compaction.files_before": (sum(last(kind("ingest", n), "index_files")
                                        for n in ("ingest_ivf", "ingest_bm25")), "count"),
        "compaction.files_after": (sum(last(kind("compact", n), "index_files")
                                       for n in ("compact_ivf", "compact_bm25")), "count"),
        "streaming.add_batch_s": (percentile([b["add_batch_s"] for b in ingest], 0.5)
                                  if ingest else 0.0, "s"),
        "streaming.trigger_overhead_s": (
            percentile([b["batch_s"] - b["add_batch_s"] for b in ingest], 0.5)
            if ingest else 0.0, "s"),
        "streaming.rows_per_s": (sum(b["rows"] for b in ingest)
                                 / sum(b["batch_s"] for b in ingest)
                                 if ingest else 0.0, "rows/s"),
    }
