"""Seeded input generators for the benchmark.

Everything a workload feeds the program comes from here, and every byte is
a function of the seed: the static warehouse tables (`static_tables`), the
ODS event topic of `wh_stream` (`wh_plan`) and the orders/lineitem/payments
topics of `dwm_chain` (`dwm_plan`). A plan is a list of `Drop`s, each one
parquet file with the second (relative to the start of the open loop) at
which it is due to land, plus the expectations the output checks compare
against.

`stage` writes every file of a plan before the clock starts; `lander.py`
then moves them into the topic dirs on schedule.
"""
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EPOCH_1995_US = 788_918_400_000_000    # 1995-01-01T00:00:00Z

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
SF = 0.1  # TPC-H scale of the static tables: 600k lineitem rows
CORPUS_SEED = 20240101  # documents.parquet: one fixed corpus, see static_tables
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic parquet bytes: no pandas metadata, one row group."""
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", row_group_size=max(1, table.num_rows))


def ts_col(us) -> pa.Array:
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# static warehouse tables (batch_panel; customer/nation also feed dwm_chain)


def static_tables(seed: int) -> dict:
    """TPC-H-shaped star schema at scale `SF` plus events/documents/
    embeddings, the same ten tables and column types the registry queries
    read, and `payments` for the batch DWM chain. Every table but
    `documents` follows the seed; `documents` is one fixed corpus of 500
    texts so the minhash-family oracles, which take minutes in DuckDB even
    at that size, are checked against a committed answer (oracles.py)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * SF), int(1_000_000 * SF), 500, 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts_col(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    n_li = n_ord * 4
    l_ord = rng.integers(0, n_ord, n_li)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    # ~1 in 20 lineitems ships within 30 days of its order (the interval
    # joins' band); the rest anywhere in the 7-year range
    near = rng.random(n_li) < 0.05
    ship = np.where(near, odate[l_ord] + rng.integers(0, 31, n_li) * DAY_US,
                    EPOCH_1995_US + rng.integers(1, 2500, n_li) * DAY_US)
    order = np.argsort(rng.random(n_li), kind="stable")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord[order], pa.int64()),
        "l_partkey": pa.array(l_part[order], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)[order], pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li)[order], pa.int32()),
        "l_quantity": qty[order],
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.98, 1.02, n_li), 2)[order],
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2)[order],
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2)[order],
        "l_returnflag": rng.choice(["A", "N", "R"], n_li)[order],
        "l_linestatus": rng.choice(["F", "O"], n_li)[order],
        "l_shipdate": ts_col(ship[order])})
    ev_ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts_col(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    paid = rng.random(n_ord) < 0.8
    n_pay = int(paid.sum())
    t["payments"] = pa.table({  # DWM payment facts for the batch DWM chain
        "pay_id": pa.array(range(n_pay), pa.int64()),
        "p_orderkey": pa.array(np.flatnonzero(paid), pa.int64()),
        "pay_ts": ts_col(odate[paid] + rng.integers(-4 * DAY_US, 15 * DAY_US, n_pay)),
        "pay_amount": np.round(rng.uniform(10.0, 5000.0, n_pay), 2)})
    t["documents"] = documents(n_doc)
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def documents(n_doc: int = 500) -> pa.Table:
    """Text corpus with ~5% near-duplicates (an earlier text plus " dup")."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write_static(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in static_tables(seed).items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# open-loop stream plans


@dataclass
class Drop:
    due_s: float      # seconds after the open loop's start ("open" only)
    topic: str
    name: str         # file name inside the topic dir
    table: pa.Table
    phase: str        # "warmup<round>" | "open" | "backlog<round>"


@dataclass
class Plan:
    drops: list
    expect: dict = field(default_factory=dict)


WH_TYPES = ["view", "click", "purchase", "signup", "error"]
WH_P = [0.42, 0.25, 0.10, 0.08, 0.15]
MALFORMED = ['{"k": "x"}', '{"k":', "null", "{}"]


def wh_plan(seed: int, seconds: float, per_s: float = 20.0, rows: int = 64,
            warmup_files: int = 8, warmup_rounds: int = 3, backlog_files: int = 50,
            backlog_rounds: int = 2, malformed_p: float = 0.03) -> Plan:
    """ODS events for `WarehouseJob`: Zipf-skewed users over a key space
    that every signup grows, ~3% malformed `props` (→ dirty), unrouted
    `error` rows, strictly increasing `ts` (last write wins is exact)."""
    rng = np.random.default_rng([seed, 2])
    slots = ([(f"warmup{r}", 0.0) for r in range(warmup_rounds) for _ in range(warmup_files)]
             + [("open", i / per_s) for i in range(int(round(seconds * per_s)))]
             + [(f"backlog{r}", 0.0) for r in range(backlog_rounds) for _ in range(backlog_files)])
    users = 200
    eid = 0
    exp = {"clean": 0, "dirty": 0, "facts": {"dwd_page_log": 0, "dwd_click_log": 0},
           "serve": {t: [0, 0, 0, 0, 0] for t in WH_TYPES}, "rows": {}}
    dims = {"dim_order": {}, "dim_user": {}}
    drops = []
    for i, (phase, d) in enumerate(slots):
        types = rng.choice(WH_TYPES, rows, p=WH_P)
        uid = np.empty(rows, dtype=np.int64)
        for j, ty in enumerate(types):
            if ty == "signup":
                uid[j] = users
                users += 1
            else:
                uid[j] = (int(rng.zipf(1.3)) - 1) % users
        ts = EPOCH_2024_US + (eid + np.arange(rows)) * 10_000 + rng.integers(0, 10_000, rows)
        value = np.round(rng.uniform(0.01, 500.0, rows), 2)
        bad = rng.random(rows) < malformed_p
        props = [MALFORMED[int(rng.integers(0, 4))] if b else f'{{"k": {int(k)}}}'
                 for b, k in zip(bad, rng.integers(0, 100, rows))]
        table = pa.table({
            "event_id": pa.array(np.arange(eid, eid + rows), pa.int64()),
            "ts": ts_col(ts), "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(types, pa.string()), "value": value,
            "props": props})
        eid += rows
        for ty, u, t_us, v, b in zip(types, uid, ts, value, bad):
            if b:
                exp["dirty"] += 1
                continue
            exp["clean"] += 1
            s = exp["serve"][ty]
            s[0] += ty == "view"; s[1] += ty == "click"; s[2] += ty == "purchase"
            s[3] += ty == "signup" and v > 100; s[4] += 1
            if ty == "view": exp["facts"]["dwd_page_log"] += 1
            if ty == "click": exp["facts"]["dwd_click_log"] += 1
            if ty in ("purchase", "signup"):
                dims["dim_order" if ty == "purchase" else "dim_user"][int(u)] = [int(t_us), float(v)]
        name = f"ev-{i:05d}.parquet"
        exp["rows"][name] = rows
        drops.append(Drop(d, "ods_events", name, table, phase))
    exp["dims"] = {t: sorted([k, *v] for k, v in m.items()) for t, m in dims.items()}
    return Plan(drops, exp)


def dwm_plan(seed: int, seconds: float, per_s: float = 3.0, orders: int = 60,
             lines_per_order: int = 4, warmup_ticks: int = 3,
             backlog_ticks: int = 24, backlog_rounds: int = 1, n_cust: int = 300) -> Plan:
    """Orders, lineitem and payments for the DWM chain. One tick is one
    file per topic; event time advances one day per tick, rows are shuffled
    inside a file and every row of tick k lies in day k, so files stay in
    event-time order and the 0 s watermarks drop nothing. Each order's
    lines ship and its payment lands within its own day, inside both join
    bands (30 d; -15 d..+5 d). Customers are the first `n_cust` of the
    static tables'."""
    rng = np.random.default_rng([seed, 3])
    slots = ([("warmup0", 0.0)] * warmup_ticks
             + [("open", i / per_s) for i in range(int(round(seconds * per_s)))]
             + [(f"backlog{r}", 0.0) for r in range(backlog_rounds) for _ in range(backlog_ticks)])
    drops, rows, okey, pay_id = [], {}, 0, 0
    base = EPOCH_1995_US
    for k, (phase, d) in enumerate(slots):
        day0 = base + k * DAY_US
        ok = np.arange(okey, okey + orders)
        okey += orders
        odate = day0 + rng.integers(0, DAY_US // 2, orders)
        o = pa.table({
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
            "o_orderdate": ts_col(odate),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], orders)})
        nl = orders * lines_per_order
        lo = np.repeat(np.arange(orders), lines_per_order)
        qty = rng.integers(1, 51, nl).astype(np.float64)
        li = pa.table({
            "l_orderkey": pa.array(ok[lo], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1), orders), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 1000.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": ts_col(odate[lo] + rng.integers(0, DAY_US // 2, nl))})
        paid = rng.random(orders) < 0.8
        npay = int(paid.sum())
        pay = pa.table({
            "pay_id": pa.array(np.arange(pay_id, pay_id + npay), pa.int64()),
            "p_orderkey": pa.array(ok[paid], pa.int64()),
            "pay_ts": ts_col(odate[paid] + rng.integers(0, DAY_US // 2, npay)),
            "pay_amount": np.round(rng.uniform(10.0, 5000.0, npay), 2)})
        pay_id += npay
        for topic, tb in (("orders", o), ("lineitem", li), ("payments", pay)):
            perm = rng.permutation(tb.num_rows)
            name = f"{topic}-{k:05d}.parquet"
            rows[f"{topic}/{name}"] = tb.num_rows
            drops.append(Drop(d, topic, name, tb.take(pa.array(perm)), phase))
    return Plan(drops, {"rows": rows})


PLANS = {"wh_stream": wh_plan, "dwm_chain": dwm_plan}


# ---------------------------------------------------------------------------
# staging


def stage(plan: Plan, stage_dir: str) -> list:
    """Write every drop to `stage_dir/<topic>/<name>`; returns the index
    (due time, topic, name, phase, rows) that `lander.py` replays."""
    index = []
    for d in plan.drops:
        os.makedirs(os.path.join(stage_dir, d.topic), exist_ok=True)
        write_parquet(d.table, os.path.join(stage_dir, d.topic, d.name))
        index.append({"due_s": d.due_s, "topic": d.topic, "name": d.name,
                      "phase": d.phase, "rows": d.table.num_rows})
    return index
