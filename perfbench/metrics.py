"""Pure metric arithmetic: percentiles, the file → batch → commit mapping
read from Spark's own logs, freshness and catch-up, and the per-layer
summaries of a traced run. No Spark, no clock: everything here is a
function of files the run left behind, so it is unit-tested on synthetic
logs (tests/test_metrics.py).
"""
import json
import math
import os
import statistics


def percentile(xs, q: float) -> float:
    """Linear-interpolated q-quantile (0 ≤ q ≤ 1), numpy's default method."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# Spark metadata logs


def _log_batches(log_dir: str, parse: bool = True):
    """(batch id, entries) for every batch file of a Spark metadata log, in
    batch order. Entries are the JSON lines after the version header; a
    `N.compact` file holds every entry up to batch N."""
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        entries = []
        if parse:
            with open(os.path.join(log_dir, name)) as f:
                entries = [json.loads(x) for x in f.read().splitlines()[1:] if x]
        out.append((int(stem), name.endswith(".compact"), entries))
    # a plain batch file wins over a compact one for the same batch
    out.sort(key=lambda t: (t[0], t[1]))
    dedup = {}
    for b, compact, entries in out:
        dedup.setdefault(b, (compact, entries))
    return [(b, dedup[b][1]) for b in sorted(dedup)]


def source_log(source_dir: str) -> dict:
    """File-source log (`<checkpoint>/sources/<i>`): file basename → the
    source's own log id that listed it. The id is the source offset, not
    the query's micro-batch id: batches without new files (watermark-only
    batches) advance the query and not the source."""
    m = {}
    for _, entries in _log_batches(source_dir):
        for e in entries:
            m.setdefault(os.path.basename(e["path"]), e["batchId"])
    return m


def offsets(ckpt: str) -> list:
    """Offset log (`<checkpoint>/offsets/<batch>`): (batch, [file-source
    log offset per source, None when the source had none yet])."""
    out = []
    for b, _ in _log_batches(os.path.join(ckpt, "offsets"), parse=False):
        with open(os.path.join(ckpt, "offsets", str(b))) as f:
            lines = f.read().splitlines()[2:]  # version header, batch metadata
        out.append((b, [json.loads(x)["logOffset"] if x.strip() not in ("", "-") else None
                        for x in lines]))
    return out


def source_batches(ckpt: str) -> dict:
    """File basename → the micro-batch of the query checkpointed at `ckpt`
    that read it: a batch covers source log ids (previous offset, offset]."""
    out = {}
    srcs = os.path.join(ckpt, "sources")
    offs = offsets(ckpt)
    for i in sorted(os.listdir(srcs)) if os.path.isdir(srcs) else []:
        if not i.isdigit():
            continue
        ends = sorted((o[int(i)], b) for b, o in offs if len(o) > int(i) and o[int(i)] is not None)
        for name, log_id in source_log(os.path.join(srcs, i)).items():
            batch = next((b for end, b in ends if end >= log_id), None)
            if batch is not None:
                out[name] = batch
    return out


def query_id(ckpt: str) -> str:
    with open(os.path.join(ckpt, "metadata")) as f:
        return json.loads(f.readline())["id"]


def files_per_batch(ckpt: str) -> dict:
    """(query id, micro-batch) → files its file sources read."""
    out, qid = {}, query_id(ckpt)
    for b in source_batches(ckpt).values():
        out[(qid, b)] = out.get((qid, b), 0) + 1
    return out


def sink_batches(metadata_dir: str) -> dict:
    """File-sink log (`<sink>/_spark_metadata`): batch → basenames it
    committed. Compact entries carry no batch id, so a compact batch owns
    the entries no earlier batch listed."""
    seen, out = set(), {}
    for b, entries in _log_batches(metadata_dir):
        names = [os.path.basename(e["path"]) for e in entries if e.get("action", "add") == "add"]
        out[b] = [n for n in names if n not in seen]
        seen.update(names)
    return out


def commit_times(metadata_dir: str) -> dict:
    """Sink log: batch → the epoch second its log entry was written."""
    out = {}
    if os.path.isdir(metadata_dir):
        for name in os.listdir(metadata_dir):
            stem = name[:-len(".compact")] if name.endswith(".compact") else name
            if stem.isdigit():
                t = os.stat(os.path.join(metadata_dir, name)).st_mtime_ns / 1e9
                out[int(stem)] = min(out.get(int(stem), t), t)
    return out


def marker_times(out_dir: str, prefix: str = "_committed_") -> dict:
    """`WarehouseJob` publish markers: batch → epoch second of `_committed_<id>`."""
    out = {}
    for name in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            out[int(name[len(prefix):])] = os.stat(os.path.join(out_dir, name)).st_mtime_ns / 1e9
    return out


# ---------------------------------------------------------------------------
# freshness


def visibility(landings, visible_at) -> list:
    """For each landed file, the epoch second it became visible at the last
    hop, or None. `visible_at(entry)` does the workload's mapping."""
    return [visible_at(e) for e in landings]


def freshness(landings, visible, end: float):
    """Per-file freshness (visible − due). A file never visible counts as
    failed and is censored at `end` (the run's last instant), so it misses
    every limit the run could measure. Returns (samples, failed)."""
    xs, failed = [], 0
    for e, v in zip(landings, visible):
        if v is None:
            failed += 1
            xs.append(max(end, e["due"]) - e["due"])
        else:
            xs.append(v - e["due"])
    return xs, failed


def catchup(landings, visible, phase: str):
    """Drain of one backlog, landed at once on an idle program: (rows,
    seconds from its first landing until its last file is visible), or None
    when any of its files never was."""
    back = [(e, v) for e, v in zip(landings, visible) if e["phase"] == phase]
    if not back or any(v is None for _, v in back):
        return None
    start = min(e["landed"] for e, _ in back)
    return sum(e["rows"] for e, _ in back), max(v for _, v in back) - start


def wh_visible(source_map: dict, markers: dict):
    """`wh_stream`: file → its batch (source log) → `_committed_<batch>`."""
    def at(e):
        b = source_map.get(e["name"])
        return markers.get(b) if b is not None else None
    return at


def dwm_visible(ow_sources: dict, ow_sink: dict, pw_sources: dict, pw_commits: dict):
    """`dwm_chain`: a payments file is visible when the `payment_wide` batch
    that read it commits. An orders/lineitem file is carried by its
    `OrderWideJob` batch b; it is visible when `payment_wide` commits the
    first batch that read `order_wide` output of a batch ≥ b."""
    ow_out_pw = {}  # order_wide batch → first payment_wide batch reading it
    for b, names in ow_sink.items():
        pws = [pw_sources[n] for n in names if n in pw_sources]
        if pws:
            ow_out_pw[b] = min(pws)

    def at(e):
        if e["topic"] == "payments":
            b = pw_sources.get(e["name"])
        else:
            b1 = ow_sources.get(e["name"])
            cands = [p for ob, p in ow_out_pw.items() if b1 is not None and ob >= b1]
            b = min(cands) if cands else None
        return pw_commits.get(b) if b is not None else None
    return at


# ---------------------------------------------------------------------------
# traced-run summaries


def load_jsonl(path: str) -> list:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def med(xs, default: float = 0.0) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def batch_jobs(jobs: list, run_id: str) -> dict:
    """Jobs of one streaming query, grouped by batch id."""
    out = {}
    for j in jobs:
        if j["query"] == run_id and j["batch"] != "":
            out.setdefault(int(j["batch"]), []).append(j)
    return out


def driver_gap(wall: float, start: float, jobs: list) -> float:
    """Wall time of a batch or query not covered by any of its jobs."""
    ivs = [(max(j["start"], start), min(j["end"], start + wall)) for j in jobs
           if j["end"] == j["end"]]  # NaN end: job never finished
    return max(0.0, wall - union_length([iv for iv in ivs if iv[1] > iv[0]]))
