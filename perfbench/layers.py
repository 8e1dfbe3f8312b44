"""Per-layer metrics of a traced run.

The traced JVM leaves behind, in its run dir: `progress.jsonl` (every
StreamingQueryProgress), `jobs.jsonl` (one record per Spark job with its
group, streaming query id and batch, interval, tasks, shuffle/spill/input
bytes), `pinned_peaks.json`, `dir_deltas.jsonl` (files new in the dim store
after each batch) and, from `spark.graft.profileBatch`, the warehouse's
`_profile.jsonl`. This module folds them into the named per-layer metrics.
Every listed metric is printed on every workload; a layer the workload does
not run reads 0. The panel's query names come from `jvm.json`, as the
harness defines them. The streaming DWM layers (`ow.*`, `pw.*`, `dwm.*`)
are printed by the `dwm_chain` workload only. Per-batch figures are medians
over the timed batches that read input (on `wh_stream`, those that carried
open-loop files); per-query figures are from the one timed pass.
"""
import datetime
import json
import os

import metrics as M

WH_SECTIONS = ["dirty_write", "facts_write", "stats_write", "dim_counts", "publish"]
DIM_PHASES = ["touched_collect", "bucket_open", "staged_write", "swap"]

UNITS = {"session.create_s": "s",
         "topics.offset_s": "s", "topics.rows_per_batch": "rows", "topics.files_per_batch": "files"}
UNITS.update({f"wh.{k}": "s" for k in ["trigger_s", "add_batch_s", "plan_s", "log_commit_s"]
              + [f"{s}_s" for s in WH_SECTIONS]})
UNITS.update({"wh.jobs_per_batch": "count", "wh.tasks_per_batch": "count", "wh.driver_gap_s": "s",
              "dim.upsert_s": "s"})
UNITS.update({f"dim.{p}_s": "s" for p in DIM_PHASES})
UNITS.update({"dim.touched_buckets": "count", "dim.bytes_written": "bytes", "dim.store_bytes": "bytes"})
UNITS.update({"serve.jobs": "count", "serve.files_read": "files", "serve.read_bytes": "bytes"})
for fam in ("olap", "corpus"):
    UNITS.update({f"{fam}.jobs": "count", f"{fam}.shuffle_bytes": "bytes",
                  f"{fam}.spill_bytes": "bytes", f"{fam}.driver_gap_s": "s"})
UNITS.update({"corpus.pinned_bytes": "bytes", "gen.late_max_s": "s", "jvm.rss_peak_mb": "MB",
              "trace.e2e_s": "s", "trace.untraced_e2e_s": "s", "trace.overhead_pct": "%",
              "trace.baseline_runs": "count"})
DWM_UNITS = {}  # dwm_chain only
for q in ("ow", "pw"):
    DWM_UNITS.update({f"{q}.trigger_s": "s", f"{q}.state_rows": "rows", f"{q}.state_bytes": "bytes",
                      f"{q}.state_commit_s": "s", f"{q}.late_rows": "rows", f"{q}.wm_lag_s": "s"})
DWM_UNITS.update({"dwm.jobs_per_batch": "count", "dwm.shuffle_bytes_per_batch": "bytes"})


def units(w: str, panel: dict) -> dict:
    """Every per-layer metric workload `w` prints, with its unit."""
    out = dict(UNITS, **{f"q.{q}_s": "s" for fam in panel.values() for q in fam})
    return dict(out, **DWM_UNITS) if w == "dwm_chain" else out


def epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def timed_batches(progress: list, ready: float) -> dict:
    """Query id → its progress records after warm-up that read input."""
    out = {}
    for p in progress:
        if p["numInputRows"] > 0 and epoch(p["timestamp"]) >= ready:
            out.setdefault(p["id"], []).append(p)
    return out


def dur(p: dict, *keys) -> float:
    return sum(p["durationMs"].get(k, 0) for k in keys) / 1e3


def window_jobs(jobs: list, p: dict) -> list:
    """Jobs that started inside a batch's trigger window, serving excluded
    (the warehouse's dim upserts run on pool threads that do not carry the
    streaming batch id, so attribution is by time)."""
    s = epoch(p["timestamp"])
    e = s + dur(p, "triggerExecution")
    return [j for j in jobs if s <= j["start"] <= e and not j["group"].startswith("serve")]


def stream_layers(w: str, run_dir: str, r: dict, out: dict) -> None:
    progress = M.load_jsonl(os.path.join(run_dir, "progress.jsonl"))
    jobs = M.load_jsonl(os.path.join(run_dir, "jobs.jsonl"))
    by_q = timed_batches(progress, r["ready"])
    batches = [p for ps in by_q.values() for p in ps]
    if w == "wh_stream":  # the batches behind freshness: those carrying open-loop files
        src = M.source_batches(os.path.join(run_dir, "ckpt", "wh"))
        carried = {src.get(e["name"]) for e in r["landings"] if e["phase"] == "open"}
        batches = [p for p in batches if p["batchId"] in carried]
    files = {}
    for q in ("wh", "ow", "pw"):
        if os.path.isdir(os.path.join(run_dir, "ckpt", q)):
            files.update(M.files_per_batch(os.path.join(run_dir, "ckpt", q)))
    out["topics.offset_s"] = M.med([dur(p, "latestOffset", "getBatch") for p in batches])
    out["topics.rows_per_batch"] = M.med([p["numInputRows"] for p in batches])
    out["topics.files_per_batch"] = M.med([files.get((p["id"], p["batchId"]), 0) for p in batches])
    out["gen.late_max_s"] = max(e["landed"] - e["due"] for e in r["landings"] if e["phase"] == "open")
    if w == "wh_stream":
        prof = {x["batch"]: x for x in M.load_jsonl(os.path.join(run_dir, "wh", "_profile.jsonl"))}
        rows = [prof.get(p["batchId"], {}) for p in batches]
        out["wh.trigger_s"] = M.med([dur(p, "triggerExecution") for p in batches])
        out["wh.add_batch_s"] = M.med([dur(p, "addBatch") for p in batches])
        out["wh.plan_s"] = M.med([dur(p, "queryPlanning") for p in batches])
        out["wh.log_commit_s"] = M.med([dur(p, "walCommit", "commitOffsets") for p in batches])
        for s in WH_SECTIONS:
            out[f"wh.{s}_s"] = M.med([x.get(s, 0.0) for x in rows])
        bj = [window_jobs(jobs, p) for p in batches]
        out["wh.jobs_per_batch"] = M.med([len(js) for js in bj])
        out["wh.tasks_per_batch"] = M.med([sum(j["tasks"] for j in js) for js in bj])
        out["wh.driver_gap_s"] = M.med([M.driver_gap(dur(p, "triggerExecution"), epoch(p["timestamp"]), js)
                                        for p, js in zip(batches, bj)])
        out["dim.upsert_s"] = M.med([sum(v for k, v in x.items() if k.startswith("dim_upsert_"))
                                     for x in rows])
        for ph in DIM_PHASES:
            out[f"dim.{ph}_s"] = M.med([x.get(f"dim_phase_{ph}", 0.0) for x in rows])
        deltas = {d["batch"]: d for d in M.load_jsonl(os.path.join(run_dir, "dir_deltas.jsonl"))}
        dd = [deltas[p["batchId"]] for p in batches if p["batchId"] in deltas]
        out["dim.touched_buckets"] = M.med([d["dirs"] for d in dd])
        out["dim.bytes_written"] = M.med([d["bytes"] for d in dd])
        out["dim.store_bytes"] = max([d["total_bytes"] for d in deltas.values()], default=0.0)
    else:
        names = {}
        for qid, ps in by_q.items():
            descs = " ".join(s["description"] for s in ps[0]["sources"])
            names["pw" if "payments" in descs else "ow"] = ps
        per_batch = []
        for q, ps in names.items():
            ops = [p["stateOperators"] for p in ps]
            out[f"{q}.trigger_s"] = M.med([dur(p, "triggerExecution") for p in ps])
            out[f"{q}.state_rows"] = M.med([sum(o["numRowsTotal"] for o in x) for x in ops])
            out[f"{q}.state_bytes"] = M.med([sum(o["memoryUsedBytes"] for o in x) for x in ops])
            out[f"{q}.state_commit_s"] = M.med([sum(o["commitTimeMs"] for o in x) / 1e3 for x in ops])
            out[f"{q}.wm_lag_s"] = M.med([(epoch(p["eventTime"]["max"]) - epoch(p["eventTime"]["watermark"]))
                                          for p in ps if "watermark" in p.get("eventTime", {})])
            bj = M.batch_jobs(jobs, ps[0]["id"])
            per_batch += [bj.get(p["batchId"], []) for p in ps]
        for q in ("ow", "pw"):  # late rows over every batch, warm-up included
            qid = names[q][0]["id"] if q in names else None
            out[f"{q}.late_rows"] = float(sum(o["numRowsDroppedByWatermark"] for p in progress
                                              if p["id"] == qid for o in p["stateOperators"]))
        out["dwm.jobs_per_batch"] = M.med([len(js) for js in per_batch])
        out["dwm.shuffle_bytes_per_batch"] = M.med([sum(j["shuffle_write"] for j in js)
                                                    for js in per_batch])


def serve_layers(run_dir: str, jvm: dict, ready: float, out: dict) -> None:
    jobs = [j for j in M.load_jsonl(os.path.join(run_dir, "jobs.jsonl"))
            if j["group"].startswith("serve") and j["start"] >= ready]
    calls = max(1, len(jvm["serve_s"]))
    out["serve.jobs"] = len(jobs) / calls
    out["serve.read_bytes"] = sum(j["input"] for j in jobs) / calls
    out["serve.files_read"] = M.med(jvm.get("serve_files", []))


def panel_layers(run_dir: str, jvm: dict, out: dict) -> None:
    jobs = M.load_jsonl(os.path.join(run_dir, "jobs.jsonl"))
    runs = jvm["query_runs"]
    t_lo = min(x["start"] for x in runs)
    t_hi = max(x["start"] + (x["wall"] or 0.0) for x in runs)
    timed = [j for j in jobs if j["group"].startswith("q:") and t_lo <= j["start"] <= t_hi]
    for fam, qs in jvm["panel"].items():
        fj = [j for j in timed if j["group"][2:] in qs]
        out[f"{fam}.jobs"] = len(fj)
        out[f"{fam}.shuffle_bytes"] = sum(j["shuffle_write"] for j in fj)
        out[f"{fam}.spill_bytes"] = sum(j["spill"] for j in fj)
        out[f"{fam}.driver_gap_s"] = sum(
            M.driver_gap(x["wall"], x["start"], [j for j in fj if j["group"] == f"q:{x['q']}"])
            for x in runs if x["q"] in qs and x["wall"] is not None)
    for x in runs:
        out[f"q.{x['q']}_s"] = x["wall"] or 0.0
    with open(os.path.join(run_dir, "pinned_peaks.json")) as f:
        out["corpus.pinned_bytes"] = json.load(f).get("corpus", 0.0)


def per_layer(w: str, run_dir: str, r: dict, jvm: dict, e2e: dict, baseline: list):
    """(values, units) of every per-layer metric of a traced run. `baseline`
    holds the end-to-end figures of the untraced runs of the same workload,
    seed and build; the tracing overhead is against their median, and reads
    0 with `trace.baseline_runs` 0 when there were none."""
    unit = units(w, jvm["panel"])
    out = {k: 0.0 for k in unit}
    out["session.create_s"] = jvm["session_create_s"]
    out["jvm.rss_peak_mb"] = jvm["rss_peak_mb"]
    if w == "batch_panel":
        panel_layers(run_dir, jvm, out)
    else:
        stream_layers(w, run_dir, r, out)
    serve_layers(run_dir, jvm, r["ready"], out)
    headline = "bulk_s" if w == "batch_panel" else "item_p50_s"
    out["trace.e2e_s"] = e2e[headline]
    out["trace.baseline_runs"] = len(baseline)
    if baseline:
        base = M.med([b[headline] for b in baseline])
        out["trace.untraced_e2e_s"] = base
        out["trace.overhead_pct"] = (e2e[headline] - base) / base * 100.0
    return {k: float(v) for k, v in out.items()}, unit
