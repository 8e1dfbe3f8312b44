#!/usr/bin/env python3
"""graft benchmark: one command for the warehouse chain.

    python3 perfbench/run.py --workload <wh_stream|batch_panel|dwm_chain>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, perfbench/harness) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one fresh
JVM with the program's own defaults (`GraftSession.get()`,
SPARK_GRAFT_CPUS = the usable cores, the tier-1 heap), feeds it the
seeded inputs and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones from a run with
listeners attached. Exits 1 when an output check fails or an operation
failed. See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402
import layers  # noqa: E402
import oracles  # noqa: E402

WORKLOADS = ("wh_stream", "batch_panel")  # the ones BENCHMARK.json lists
MANUAL = ("dwm_chain",)  # runs by name; too slow for the benchmark's time budget
E2E = {  # name → unit
    "setup_s": "s", "item_p50_s": "s", "item_p90_s": "s", "bulk_s": "s",
    "serve_p50_s": "s", "serve_p90_s": "s"}
GEN_LATE_LIMIT_S = 1.0  # lander later than this: the run is not open loop


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build


def source_stamp(root: str) -> str:
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/harness"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, base))):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root: str, bb: str, stamp: str) -> str:
    """Compile the program plus the harness unless the build of `stamp` is
    there; returns the java classpath."""
    cp_file = os.path.join(bb, "classpath.txt")
    stamp_file = os.path.join(bb, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    log = os.path.join(bb, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench", "harness"), env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=800)
    lines = [x for x in r.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------------------
# the program's JVM


def heap() -> str:
    """The tier-1 heap (SPARK_DRIVER_MEM): half the machine's memory, 2g..8g."""
    with open("/proc/meminfo") as f:
        kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class Jvm:
    """One harness JVM; stdout lines are read on a thread into a queue."""

    def __init__(self, cp: str, bb: str, run_dir: str, kv: dict):
        tmp = os.path.join(bb, "tmp")
        os.makedirs(tmp, exist_ok=True)
        argfile = os.path.join(run_dir, "java.args")
        with open(argfile, "w") as f:
            f.write(f'-cp "{cp}"\n')
        cmd = (["java", f"-Xmx{heap()}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Duser.language=en", "-Duser.country=US", f"-Djava.io.tmpdir={tmp}",
                  f"@{argfile}", "graftbench.Main"]
               + [f"{k}={v}" for k, v in kv.items()])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                   SPARK_LOCAL_DIRS=tmp)
        self.err = open(os.path.join(run_dir, "jvm.err"), "w")
        self.spawned = time.time()
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.err, text=True, env=env)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, prefix: str, timeout: float) -> str:
        """Next stdout line starting with `prefix`; other lines are skipped."""
        deadline = time.time() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"JVM: no '{prefix}' within {timeout:.0f} s")
            if line is None:
                raise RuntimeError(f"JVM exited (code {self.p.wait()}) before '{prefix}'")
            if line.startswith(prefix):
                return line

    def send(self, line: str):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def close(self, timeout: float = 60):
        try:
            self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.err.close()


# ---------------------------------------------------------------------------
# workloads


RAMP = 0.25  # share of the open loop left out of freshness: batches still settle


def run_stream(w: str, a, cp, bb, run_dir, data_dir) -> dict:
    """Warm-up rounds, then the open-loop phase (two thirds of the run) from
    the lander process, then catch-up backlogs, each landed at once on the
    idle program."""
    import gen
    import lander
    plan = gen.PLANS[w](a.seed, a.seconds * 2 / 3)
    stage_dir, topics = os.path.join(run_dir, "stage"), os.path.join(run_dir, "topics")
    index = gen.stage(plan, stage_dir)
    index_path, log_path = os.path.join(run_dir, "index.json"), os.path.join(run_dir, "landings.json")
    with open(index_path, "w") as f:
        json.dump(index, f)
    rounds = {p: len({e["phase"] for e in index if e["phase"].startswith(p)})
              for p in ("warmup", "backlog")}
    lander.land(index, stage_dir, topics, time.time(), {"warmup0"})
    jvm = Jvm(cp, bb, run_dir, {"workload": w, "run_dir": run_dir, "data_dir": data_dir,
                                "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                                "warm_rounds": rounds["warmup"]})
    try:
        for r in range(1, rounds["warmup"]):
            jvm.expect("WARM", 150)
            lander.land(index, stage_dir, topics, time.time(), {f"warmup{r}"})
            jvm.send("LANDED")
        ready = float(jvm.expect("READY", 150).split()[1])
        subprocess.run([sys.executable, os.path.join(HERE, "lander.py"), index_path, stage_dir,
                        topics, str(time.time() + 0.3), log_path, "open"],
                       check=True, timeout=a.seconds + 60)
        backlog = []
        jvm.send("DRAIN")
        for r in range(rounds["backlog"]):
            jvm.expect("IDLE", 120)
            backlog += lander.land(index, stage_dir, topics, time.time(), {f"backlog{r}"})
            jvm.send("DRAIN")
        jvm.expect("IDLE", 120)
        jvm.send("DONE")
        jvm.expect("DONE", 120)
    finally:
        jvm.close()
    end = time.time()
    with open(log_path) as f:
        landings = json.load(f) + backlog
    return {"setup_s": ready - jvm.spawned, "ready": ready, "landings": landings,
            "expect": plan.expect, "end": end}


def run_panel(a, cp, bb, run_dir, data_dir) -> dict:
    jvm = Jvm(cp, bb, run_dir, {"workload": "batch_panel", "run_dir": run_dir,
                                "data_dir": data_dir, "seed": a.seed,
                                "seconds": a.seconds, "trace": a.trace, "warm_rounds": 1})
    try:
        ready = float(jvm.expect("READY", 150).split()[1])
        jvm.expect("DONE", a.seconds + 120)
    finally:
        jvm.close()
    return {"setup_s": ready - jvm.spawned, "ready": ready}


# ---------------------------------------------------------------------------
# output checks (each one attempted operation)


def check_wh(run_dir: str, jvm: dict, exp: dict) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq
    obs, checks = jvm["observed"], []
    serving = {r["event_type"]: [r[k] for k in ("pv_ct", "click_ct", "order_ct", "sv_ct", "total_ct")]
               for r in obs["serving"]}
    want = {t: v for t, v in exp["serve"].items() if v[4]}
    checks.append(("serving answer equals the generator's tally", serving == want))
    checks.append(("dirty equals malformed rows", obs["dirty"] == exp["dirty"]))
    checks.append(("facts equal routed counts", obs["facts"] == exp["facts"]))
    for t, rows in exp["dims"].items():
        path = os.path.join(run_dir, "results", t)
        got = []
        if os.path.isdir(path):
            tb = pq.read_table(path)
            us = tb.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
            got = sorted([u, s, v] for u, s, v in zip(tb.column("user_id").to_pylist(), us,
                                                      tb.column("value").to_pylist()))
        checks.append((f"DimStore.read({t}) equals last write wins", got == rows))
    return checks


def check_dwm(jvm: dict) -> list:
    obs = jvm["observed"]
    return [("payment_wide multiset-equals the batch transforms",
             obs["missing"] == 0 and obs["extra"] == 0 and obs["sink_rows"] == obs["expected_rows"]
             and obs["sink_rows"] > 0),
            ("no row dropped by the watermarks", obs["ow_late_rows"] + obs["pw_late_rows"] == 0)]


# ---------------------------------------------------------------------------
# metrics


def stream_visibility(w: str, run_dir: str):
    ck = os.path.join(run_dir, "ckpt")
    if w == "wh_stream":
        return M.wh_visible(M.source_batches(os.path.join(ck, "wh")),
                            M.marker_times(os.path.join(run_dir, "wh")))
    dwm = os.path.join(run_dir, "dwm")
    return M.dwm_visible(M.source_batches(os.path.join(ck, "ow")),
                         M.sink_batches(os.path.join(dwm, "order_wide", "_spark_metadata")),
                         M.source_batches(os.path.join(ck, "pw")),
                         M.commit_times(os.path.join(dwm, "payment_wide", "_spark_metadata")))


def e2e_stream(w, run_dir, r):
    """Streaming end-to-end figures plus (operations, failed): every landed
    file is one operation, failed when it never became visible."""
    landings = r["landings"]
    vis = M.visibility(landings, stream_visibility(w, run_dir))
    fresh, never = M.freshness(landings, vis, r["end"])
    ramp = RAMP * max(e["due_s"] for e in landings if e["phase"] == "open")
    fresh = [x for x, e in zip(fresh, landings) if e["phase"] == "open" and e["due_s"] >= ramp]
    drains = []
    for ph in sorted({e["phase"] for e in landings if e["phase"].startswith("backlog")}):
        cu = M.catchup(landings, vis, ph)
        drains.append(cu[1] if cu else r["end"] - min(e["landed"] for e in landings
                                                     if e["phase"] == ph))
    return ({"item_p50_s": M.percentile(fresh, 0.5), "item_p90_s": M.percentile(fresh, 0.9),
             "bulk_s": M.med(drains)}, len(landings), never)


def family_pass(jvm: dict, fam: str) -> float:
    """Wall time of one family's queries in the timed pass."""
    return sum(x["wall"] or 0.0 for x in jvm["query_runs"] if x["q"] in jvm["panel"][fam])


def e2e_panel(jvm):
    """Panel end-to-end figures plus (operations, failed): every timed query
    run is one operation, failed when it threw (its wall is null). The
    OLAP and corpus families' pass times are gated on their own, so a
    regression in one family does not hide in the other's time."""
    walls = [q["wall"] for q in jvm["query_runs"]]
    ok = [x for x in walls if x is not None]
    return ({"item_p50_s": family_pass(jvm, "olap"), "item_p90_s": family_pass(jvm, "corpus"),
             "bulk_s": sum(ok)}, len(walls), len(walls) - len(ok))


def account(ops: int, failed: int, jvm: dict, checks: list):
    """(correct, attempted, failed): serving calls and output checks are
    operations too; the run is correct only when nothing failed."""
    attempted = ops + len(jvm["serve_s"]) + int(jvm["serve_failed"]) + len(checks)
    failed += int(jvm["serve_failed"]) + sum(1 for _, ok in checks if not ok)
    return failed == 0, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + MANUAL)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    stamp = source_stamp(root)
    cp = build(root, bb, stamp)

    import gen
    run_dir = os.path.join(bb, "runs", f"{a.workload}-t{a.trace}")  # the last run's files
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "static")
    if a.workload != "wh_stream":
        gen.write_static(data_dir, a.seed)

    if a.workload == "batch_panel":
        r = run_panel(a, cp, bb, run_dir, data_dir)
    else:
        r = run_stream(a.workload, a, cp, bb, run_dir, data_dir)
    with open(os.path.join(run_dir, "jvm.json")) as f:
        jvm = json.load(f)

    if a.workload == "batch_panel":
        e2e, ops, failed = e2e_panel(jvm)
        checks = oracles.check(os.path.join(run_dir, "results"), data_dir, jvm["checked"])
    else:
        e2e, ops, failed = e2e_stream(a.workload, run_dir, r)
        checks = (check_wh(run_dir, jvm, r["expect"]) if a.workload == "wh_stream"
                  else check_dwm(jvm))
        late = max(e["landed"] - e["due"] for e in r["landings"] if e["phase"] == "open")
        checks.append((f"lander kept its schedule (max late {late:.3f} s)",
                       late <= GEN_LATE_LIMIT_S))
    serve = jvm["serve_s"]
    e2e.update({"setup_s": r["setup_s"], "serve_p50_s": M.percentile(serve, 0.5),
                "serve_p90_s": M.percentile(serve, 0.9)})
    for name, ok in checks:
        if not ok:
            print(f"perfbench: check failed: {name}", file=sys.stderr)
    correct, attempted, failed = account(ops, failed, jvm, checks)

    # untraced headline figures of this workload, seed and build: the
    # tracing overhead's baseline
    base = os.path.join(bb, "untraced", f"{a.workload}-{a.seed}-{stamp[:16]}.jsonl")
    if a.trace:
        values, units = layers.per_layer(a.workload, run_dir, r, jvm, e2e, M.load_jsonl(base))
        out = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        os.makedirs(os.path.dirname(base), exist_ok=True)
        with open(base, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
