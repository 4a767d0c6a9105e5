"""Correctness gate and end-to-end metrics of one benchmark run, from the
JVM side's result file and the generator's manifest."""

import calendar
import time
from collections import Counter

import stats

WINDOW_S = 300             # the 5-minute logdate
WATERMARK_DELAY_S = 600    # landStream's `withWatermark("ts", "10 minutes")`
UNITS = {"items_per_s": "items/s", "read_s": "s", "settle_s": "s",
         "setup_s": "s", "live_heap_mb": "MB"}


def logdate_epoch(ld):
    return calendar.timegm(time.strptime(ld, "%Y%m%d%H%M"))


def files_by_name(manifest):
    return {f["name"]: f for f in manifest["files"]}


def secs(op):
    return (op["end"] - op["start"]) / 1000.0


def measured(result, kind):
    return [o for o in result["ops"] if o["kind"] == kind and o.get("measured")]


# --- sink_microbatch -------------------------------------------------------

def expected(manifest, names):
    """Truth for a pipeline that consumed `names`, one micro-batch each,
    in order: rows and missing-category rows per logdate, `/sink` POSTs,
    and the logdates the final watermark completes (window end at or
    below max event time of all batches but the last, minus the delay —
    the watermark a batch runs with is the one its predecessors set)."""
    by = files_by_name(manifest)
    fs = [by[n] for n in names]
    landed, missing = Counter(), Counter()
    for f in fs:
        landed.update(f["logdates"])
        missing.update(f["missing"])
    fired = set()
    if len(fs) > 1:
        wm = (max(f["max_ts_us"] for f in fs[:-1])
              - WATERMARK_DELAY_S * 1_000_000) // 1_000_000
        fired = {ld for ld in landed if logdate_epoch(ld) + WINDOW_S <= wm}
    return {
        "landed": dict(landed),
        "missing": dict(missing),
        "sink_posts": sum(len(f["logdates"]) for f in fs),
        "fired": fired,
    }


def expected_counters(manifest, names):
    by = files_by_name(manifest)
    out = {}
    for n in names:
        for key, (cnt, last) in by[n]["buckets"].items():
            c, m = out.get(key, (0, last))
            out[key] = (c + cnt, max(m, last))
    return out


def posts_of(pipe, kind):
    """(logdate, arrival ms) of every POST to `/<kind>/<logdate>`."""
    return [(p.split("/")[-1], t) for p, t in pipe["posts"]
            if p.startswith(f"/{kind}/")]


def check_sink(result, manifest):
    bad = []
    for i, pipe in enumerate(result["pipelines"]):
        exp = expected(manifest, pipe["files"])
        where = f"pipeline {i}"
        if pipe["landed"] != exp["landed"]:
            bad.append(f"{where}: landed rows per logdate differ from generated")
        nc = {k: v for k, v in pipe["no_category"].items() if v}
        if nc != exp["missing"]:
            bad.append(f"{where}: no_category rows differ from generated missing-category rows")
        if pipe["sinkcount"] != pipe["landed"]:
            bad.append(f"{where}: bookkeeping sinkcount differs from landed rows")
        sink_posts = len(posts_of(pipe, "sink"))
        if sink_posts != exp["sink_posts"]:
            bad.append(f"{where}: {sink_posts} /sink POSTs, expected {exp['sink_posts']}")
        complete = Counter(ld for ld, _ in posts_of(pipe, "complete"))
        if any(n != 1 for n in complete.values()):
            bad.append(f"{where}: a logdate got more than one completion POST")
        if set(complete) != exp["fired"]:
            bad.append(f"{where}: fired {len(complete)} logdates, the final "
                       f"watermark completes {len(exp['fired'])}")
        if not pipe["progress_delivered"]:
            bad.append(f"{where}: progress events were not all delivered")
        got = {f"{b}|{c}": (n, last) for b, c, n, last in pipe["counters"]}
        if got != expected_counters(manifest, pipe["counter_files"]):
            bad.append(f"{where}: counters differ from generated per-bucket counts")
    if not result["pipelines"]:
        bad.append("no pipeline was observed")
    return bad, set()


def last_arrival(manifest, ops):
    """logdate → the land op that carried its last events."""
    by = files_by_name(manifest)
    out = {}
    for op in ops:
        for ld in by[op["file"]]["logdates"]:
            out[ld] = op
    return out


def land_ops(result):
    return [o for o in result["ops"] if o["kind"] == "land"]


def notify_latencies(result, manifest):
    """One sample per measured arrival file whose logdates fired: seconds
    from the file's rename into the source dir to the stub receiving the
    last completion POST of the logdates it ended. The logdates a file
    ends fire together, on one progress event, so they are one sample."""
    pipe = result["pipelines"][0]
    last = last_arrival(manifest, land_ops(result))
    burst = {}
    for ld, t in posts_of(pipe, "complete"):
        op = last[ld]
        if op.get("measured"):
            burst[op["file"]] = max(burst.get(op["file"], 0.0), (t - op["moved"]) / 1000.0)
    return list(burst.values())


def end_to_end_sink(result, manifest):
    land = measured(result, "land")
    land_s = [secs(o) for o in land]
    counters = [secs(o) for o in measured(result, "counters")]
    notify = notify_latencies(result, manifest)
    metrics = {
        "items_per_s": sum(o["events"] for o in land) / sum(land_s) if land_s else None,
        "read_s": stats.mean(counters),
        "settle_s": stats.mean(notify),
    }
    info = {"n": {"land_ops": len(land), "counters": len(counters),
                  "notify_files": len(notify)}}
    for q in (50, 90):
        info[f"land_op_p{q}_ms"], _ = stats.percentile([s * 1000.0 for s in land_s], q)
    return metrics, info


# --- index_maintain --------------------------------------------------------

def check_index(result, manifest):
    """Each probe against the generator's truth after the pass it follows:
    live docs and tokens per source, the exact index's keepers, and the
    BM25 store's document count. A probe that fails is a failed op."""
    by = files_by_name(manifest)
    bad, failed_ops = [], set()
    probes = {p["after"]: p for p in result["probes"]}
    for i, op in enumerate(result["ops"]):
        if op["kind"] != "probe" or not op["ok"]:
            continue
        got, want = probes.get(op["file"]), by[op["file"]]
        if got is None:
            failed_ops.add(i)
            bad.append(f"probe after {op['file']}: no observation")
            continue
        wrong = []
        if got["sources"] != want["sources"]:
            wrong.append("live docs or tokens per source differ from generated")
        if got["exact_keepers"] != want["keepers"]:
            wrong.append(f"exact index keeps {got['exact_keepers']}, keep-first gives "
                         f"{want['keepers']}")
        if got["bm25_n_docs"] != want["live"]:
            wrong.append(f"BM25 n_docs {got['bm25_n_docs']}, live docs {want['live']}")
        if wrong:
            failed_ops.add(i)
            bad += [f"probe after {op['file']}: {w}" for w in wrong]
    if not result["probes"]:
        bad.append("no probe was observed")
    return bad, failed_ops


def end_to_end_index(result, manifest):
    by = files_by_name(manifest)
    upserts, compacts = measured(result, "upsert"), measured(result, "compact")
    probes = [secs(o) for o in measured(result, "probe")]
    maintain_s = sum(secs(o) for o in upserts + compacts)
    docs = sum(by[o["file"]]["inserts"] + by[o["file"]]["deletes"] for o in upserts)
    metrics = {
        "items_per_s": docs / maintain_s if upserts else None,
        "read_s": stats.mean(probes),
        "settle_s": stats.mean([secs(o) for o in compacts]),
    }
    info = {"n": {"upserts": len(upserts), "probes": len(probes),
                  "compactions": len(compacts)},
            "upsert_pass_s": [round(secs(o), 3) for o in upserts],
            "digests": {p["after"]: p["digest"] for p in result["probes"]}}
    return metrics, info


CHECKS = {"sink_microbatch": check_sink, "index_maintain": check_index}
METRICS = {"sink_microbatch": end_to_end_sink, "index_maintain": end_to_end_index}


def check(result, manifest):
    """(every failed check as one line, indices of ops that failed the
    gate); no lines means the run is correct."""
    return CHECKS[result["workload"]](result, manifest)


def end_to_end(result, manifest):
    """(metrics, info): the BENCHMARK.json end-to-end metrics as
    name → (value, unit), and what else a reader wants to see (sample
    counts, percentiles)."""
    m, info = METRICS[result["workload"]](result, manifest)
    m["setup_s"] = stats.median(result["setups"])
    m["live_heap_mb"] = result["live_heap_mb"]
    info = {"host_control_ms": result["host_control_ms"],
            **info, "n_setups": len(result["setups"])}
    return {k: (m[k], u) for k, u in UNITS.items()}, info
