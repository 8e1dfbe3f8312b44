"""Open-loop lander: moves staged topic files into their topic dirs on a
fixed schedule that never waits for the program.

Each file is staged (fully written) beforehand and lands with one atomic
rename, so the program never sees a partial file. Every landing is logged
with its due and actual epoch seconds; how late the lander ran is part of
the benchmark's report. Single-threaded, standard library only (it starts
fast and does no work on the clock but the renames).

    python3 lander.py <index.json> <stage_dir> <topics_dir> <t0> <log.json> <phase>...
"""
import json
import os
import sys
import time


def move(stage_dir: str, topics_dir: str, e: dict) -> None:
    dst = os.path.join(topics_dir, e["topic"])
    os.makedirs(dst, exist_ok=True)
    os.rename(os.path.join(stage_dir, e["topic"], e["name"]), os.path.join(dst, e["name"]))


def land(index: list, stage_dir: str, topics_dir: str, t0: float, phases) -> list:
    """File i lands at wall time `t0 + due_s`; returns the landing log."""
    log = []
    for e in sorted((e for e in index if e["phase"] in phases), key=lambda e: e["due_s"]):
        due = t0 + e["due_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        move(stage_dir, topics_dir, e)
        log.append({**e, "due": due, "landed": time.time()})
    return log


if __name__ == "__main__":
    idx_path, stage, topics, t0, log_path, *phases = sys.argv[1:]
    with open(idx_path) as f:
        idx = json.load(f)
    out = land(idx, stage, topics, float(t0), set(phases))
    with open(log_path, "w") as f:
        json.dump(out, f)
