"""Per-layer metrics of a traced run.

The JVM side records a span around every call it makes into a layer and
keeps the raw Spark job, SQL-execution and streaming-progress events. Each
event attaches to the span whose interval holds its start (one caller, so
spans never overlap). Op metrics are means over the measured write ops:
land batches on `sink_microbatch`, upsert passes on `index_maintain`. Every
workload reports every metric; a layer the workload never calls reports 0.
See README.md for what each metric should move.
"""

import re

import analyze
import stats

STREAM_KEYS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
}

# the job descriptions `Maintenance.labeled` sets inside an upsert pass,
# as leg names: "x94 f: exact fold" → f_exact_fold; the nested labels of
# the near, sem and cluster helpers ("near: fp fold") count under their
# prefix
LEGS = ["snapshot_kdf", "snapshot_enriched", "snapshot_doomedstored",
        "dirty_detect", "snapshot_internalpairs", "snapshot_vecenriched",
        "snapshot_semselfkept", "p0_bm25_fold", "p0_agg_fold",
        "snapshot_probepairs", "f_corpus_fold", "f_exact_fold", "f_near_fold",
        "f_span_fold", "f_sem_fold", "f_ann_fold", "f_cluster_fold",
        "near", "sem", "cluster"]
# the disk indexes `DfCache` builds while the stored state is set up
INDEXES = ["pairs", "prefix", "shingled", "ivf_cent", "pq_cent"]

UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_ms": "ms", "spark.driver_gap_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.output_records": "count", "spark.unlabeled_job_share": "ratio",
    **{k: "ms" for k in STREAM_KEYS},
    "streaming.lifecycle_ms": "ms", "streaming.input_rows": "count",
    "landing.logdate_collect_ms": "ms", "landing.stage_write_ms": "ms",
    "landing.register_ms": "ms", "landing.epilogue_residual_ms": "ms",
    "landing.partitions_per_op": "count", "landing.files_per_op": "count",
    "notify.posts_per_op": "count",
    "completeness.fired": "count", "completeness.pending_at_end": "count",
    "completeness.lag_batches": "count",
    "counters.jobs": "count",
    "maintenance.upsert_jobs": "count", "maintenance.probe_jobs": "count",
    "maintenance.compact_jobs": "count", "maintenance.compact_fired_ratio": "ratio",
    **{f"maintenance.leg_job_wall_ms.{leg}": "ms" for leg in LEGS},
    "versioned_layers.layers_max": "count", "versioned_layers.layers_total": "count",
    "versioned_layers.files": "count", "versioned_layers.live_bytes": "bytes",
    "dedup.exact_admit_ratio": "ratio", "dedup.near_admit_ratio": "ratio",
    "similarity.sem_admit_ratio": "ratio",
    **{f"dfcache.build_s.{i}": "s" for i in INDEXES},
    "trace.items_per_s": "items/s",
}


def inside(span, t):
    return span["start"] <= t <= span["end"]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def leg(desc):
    """The upsert leg a job description names (see LEGS), or None."""
    if desc is None:
        return None
    head, _, rest = desc.partition(":")
    if not head.startswith("x94"):
        return head.strip()
    name = (head[3:] + " " + rest).strip().lower()
    return re.sub(r"[^0-9a-z]+", "_", name).strip("_")


def job_end(job, span):
    return job["end"] if job["end"] is not None else span["end"]


def span_jobs(span, trace):
    return [j for j in trace["jobs"] if inside(span, j["start"])]


def span_layers(span, trace, posts):
    jobs = span_jobs(span, trace)
    sql = [s for s in trace["sql"] if inside(span, s["start"])]
    prog = [p for p in trace["progress"] if inside(span, p["start"])]
    wall = span["end"] - span["start"]
    job_wall = union_ms([(j["start"], job_end(j, span)) for j in jobs],
                        span["start"], span["end"])

    def sql_ms(kind):
        return sum(s["end"] - s["start"] for s in sql if s["kind"] == kind)

    def dur(key):
        return sum(p["durations"].get(key, 0) for p in prog)

    m = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.job_wall_ms": job_wall,
        "spark.driver_gap_ms": wall - job_wall,
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spark.output_bytes": sum(j["output_bytes"] for j in jobs),
        "spark.output_records": sum(j["output_records"] for j in jobs),
        "streaming.lifecycle_ms": wall - dur("triggerExecution") if prog else 0,
        "streaming.input_rows": sum(p["rows"] for p in prog),
        "landing.logdate_collect_ms": sql_ms("collect") if prog else 0,
        "landing.stage_write_ms": sql_ms("write") if prog else 0,
        "landing.register_ms": sql_ms("register") if prog else 0,
        "landing.epilogue_residual_ms": dur("addBatch") - sql_ms("collect")
        - sql_ms("write") - sql_ms("register") if prog else 0,
        "landing.partitions_per_op": span.get("partitions", 0),
        "landing.files_per_op": span.get("files", 0),
        "notify.posts_per_op": sum(1 for p, t in posts
                                   if p.startswith("/sink/") and inside(span, t)),
    }
    for name, key in STREAM_KEYS.items():
        m[name] = dur(key)
    for g in LEGS:
        m[f"maintenance.leg_job_wall_ms.{g}"] = union_ms(
            [(j["start"], job_end(j, span)) for j in jobs if leg(j["desc"]) == g],
            span["start"], span["end"])
    return m, len(jobs), sum(1 for j in jobs if j["desc"] is None)


def completeness(result, manifest):
    """Logdates fired, landed but still pending, and for each fired
    logdate how many land ops after its last arrival it fired."""
    if not result["pipelines"]:
        return {"completeness.fired": 0, "completeness.pending_at_end": 0,
                "completeness.lag_batches": 0}
    pipe, ops = result["pipelines"][0], analyze.land_ops(result)
    done = analyze.posts_of(pipe, "complete")
    last = analyze.last_arrival(manifest, ops)
    pos = {id(o): i for i, o in enumerate(ops)}
    lags = []
    for ld, t in done:
        fire = max((i for i, o in enumerate(ops) if o["start"] <= t), default=0)
        if ld in last and last[ld].get("measured"):
            lags.append(fire - pos[id(last[ld])])
    return {
        "completeness.fired": len(done),
        "completeness.pending_at_end": len(pipe["landed"]) - len(done),
        "completeness.lag_batches": stats.median(lags) if lags else 0,
    }


def maintenance(result, manifest, op_spans):
    """The index workload's layers: jobs per op kind, compaction firing,
    layered-state size, dedup admission and index-build seconds."""
    by = analyze.files_by_name(manifest)
    trace = result["trace"]

    def jobs(kind):
        return stats.mean([len(span_jobs(s, trace)) for o, s in op_spans
                           if o["kind"] == kind]) or 0

    fired = [v for c in result["compactions"] for v in c.values()]
    census = result["census"]
    admits = result["admits"]
    net = sum(by[a["file"]]["net_inserts"] for a in admits)

    def ratio(key):
        return sum(a[key] for a in admits) / net if net else 0

    builds = result["dfcache_builds"]
    out = {
        "maintenance.upsert_jobs": jobs("upsert"),
        "maintenance.probe_jobs": jobs("probe"),
        "maintenance.compact_jobs": jobs("compact"),
        "maintenance.compact_fired_ratio": sum(fired) / len(fired) if fired else 0,
        "versioned_layers.layers_max": max((max(c["layers"].values()) for c in census),
                                           default=0),
        "versioned_layers.layers_total": stats.mean([c["leaves"] for c in census]) or 0,
        "versioned_layers.files": stats.mean([c["files"] for c in census]) or 0,
        "versioned_layers.live_bytes": stats.mean([c["live_bytes"] for c in census]) or 0,
        "dedup.exact_admit_ratio": ratio("exact"),
        "dedup.near_admit_ratio": ratio("near"),
        "similarity.sem_admit_ratio": ratio("sem"),
    }
    for i in INDEXES:
        # the index-cache key starts with the index's name: "ivf_cent:<sf>:…"
        secs = [sum(v for k, v in b.items() if k.split(":")[0] == i) for b in builds]
        out[f"dfcache.build_s.{i}"] = stats.median(secs) if secs else 0
    return out


def per_layer(result, manifest):
    trace = result["trace"]
    ops = result["ops"]
    op_spans = [(ops[s["op"]], s) for s in trace["spans"] if "op" in s]
    write_kind = {"sink_microbatch": "land", "index_maintain": "upsert"}[result["workload"]]
    posts = [p for pipe in result["pipelines"] for p in pipe["posts"]]
    per_op, jobs, unlabeled = [], 0, 0
    for op, span in op_spans:
        if op["kind"] == write_kind and op.get("measured"):
            m, n, u = span_layers(span, trace, posts)
            per_op.append(m)
            jobs, unlabeled = jobs + n, unlabeled + u
    out = {k: stats.mean([m[k] for m in per_op]) for k in per_op[0]} if per_op else {}
    out["spark.unlabeled_job_share"] = unlabeled / jobs if jobs else 0.0
    out.update(completeness(result, manifest))
    out["counters.jobs"] = stats.mean([len(span_jobs(s, trace)) for o, s in op_spans
                                       if o["kind"] == "counters"]) or 0
    out.update(maintenance(result, manifest, op_spans))
    e2e, _ = analyze.end_to_end(result, manifest)
    out["trace.items_per_s"] = e2e["items_per_s"][0]
    return {k: (out.get(k), u) for k, u in UNITS.items()}
