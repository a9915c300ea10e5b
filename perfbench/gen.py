"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees the files written here."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- lake_rw
LAKE_KEYS = 20000          # rows in the bootstrapped table
LAKE_HOT = 400             # hot keys that MERGE batches favour
LAKE_MERGE_ROWS = 20       # rows per MERGE source batch
LAKE_MAINT_EVERY = 4       # writes between maintenance calls
# the statement kinds repeat in this fixed cycle (maintenance comes on
# top), so every seed runs the same mix; the seed picks keys and values
LAKE_CYCLE = ("merge", "read", "tt", "delete", "read", "merge", "cdf", "read")


def lake(out, seed, n_ops):
    """Base image, MERGE source rows and the op sequence for lake_rw."""
    rng = np.random.default_rng([seed, 3])
    k = np.arange(LAKE_KEYS, dtype=np.int64)
    base = {"k": k,
            "cust": rng.integers(0, 1500, LAKE_KEYS, dtype=np.int64),
            "p": rng.integers(100, 10_000_000, LAKE_KEYS, dtype=np.int64),
            "q": rng.integers(1, 8, LAKE_KEYS, dtype=np.int64)}
    pq.write_table(pa.table(base), os.path.join(out, "lake_base.parquet"))
    hot = rng.choice(LAKE_KEYS, LAKE_HOT, replace=False)
    ops, src = [], {"op": [], "k": [], "cust": [], "p": [], "q": []}
    writes = 0
    i = 0
    while len(ops) < n_ops:
        kind = LAKE_CYCLE[len(ops) % len(LAKE_CYCLE)]
        a = b = c = 0
        if kind == "merge":
            n_hot = rng.binomial(LAKE_MERGE_ROWS, 0.5)
            keys = set(rng.choice(hot, n_hot, replace=False).tolist())
            while len(keys) < LAKE_MERGE_ROWS:
                # a fifth of the cold keys are new rows (inserts)
                keys.add(int(rng.integers(0, int(LAKE_KEYS * 1.25))))
            for key in sorted(keys):
                src["op"].append(i)
                src["k"].append(key)
                src["cust"].append(int(rng.integers(0, 1500)))
                # a price never seen before, so every update changes the row
                src["p"].append(10_000_000 + i * 1000 + len(src["p"]) % 1000)
                src["q"].append(int(rng.integers(1, 8)))
        elif kind == "delete":
            a = int(rng.integers(0, LAKE_KEYS)); b = a + 4
        elif kind == "read":
            a = int(rng.integers(0, LAKE_KEYS)); b = a + 499
        elif kind == "tt":
            a = int(rng.integers(0, LAKE_KEYS)); b = a + 1999
            c = int(rng.integers(1, 21))
        ops.append((i, kind, a, b, c)); i += 1
        if kind in ("merge", "delete"):
            writes += 1
            if writes % LAKE_MAINT_EVERY == 0:
                maint = "fold_dv" if (writes // LAKE_MAINT_EVERY) % 2 else "optimize"
                ops.append((i, maint, 0, 0, 0)); i += 1
    pq.write_table(pa.table({c: np.array(v, dtype=np.int64) for c, v in src.items()}),
                   os.path.join(out, "lake_src.parquet"))
    with open(os.path.join(out, "lake_ops.tsv"), "w") as f:
        for op in ops:
            f.write("\t".join(str(x) for x in op) + "\n")
    return {"base": base, "src": src, "ops": ops}


# ----------------------------------------------------------- rt_warehouse
RT_PERIOD_MS = 100         # one chunk per period: the offered schedule
RT_EVENTS_PER_CHUNK = 10   # 100 events/s offered
RT_EVENT_MIN_PER_CHUNK = 12  # event time runs 7200x wall: an hour per 0.5 s
RT_USERS = 2000            # user ids, Zipf-skewed (s = 1.1)
RT_LATE_SHARE = 0.05       # events stamped up to 6 min behind their chunk
RT_DUP_SHARE = 0.05        # replays of an event of the previous chunk
RT_BACKLOG = 10000         # events pushed at once before the paced phase
RT_BACKLOG_HOURS = 2
RT_WARMUP_CHUNKS = 1
RT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
RT_T0_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z
RT_HORIZON_US = 10 * 60 * 1_000_000  # Warehouse.dedupIngest's watermark delay


def rt(out, seed, seconds):
    """The seeded event traffic for rt_warehouse: warm-up chunks (ids
    below -1), the backlog (chunk -1, pushed before the paced phase and
    earlier in event time), and `seconds` of paced chunks (0, 1, ...)."""
    rng = np.random.default_rng([seed, 2])
    w = 1.0 / np.arange(1, RT_USERS + 1) ** 1.1
    users = rng.permutation(RT_USERS)
    w = w / w.sum()
    span = RT_EVENT_MIN_PER_CHUNK * 60 * 1_000_000
    cols = {"chunk": [], "event_id": [], "user_id": [], "ts_us": [],
            "event_type": [], "value": []}
    next_id = [0]

    def fresh(chunk, n, lo_us, hi_us):
        ids = np.arange(next_id[0], next_id[0] + n, dtype=np.int64)
        next_id[0] += n
        return {"chunk": np.full(n, chunk, dtype=np.int32), "event_id": ids,
                "user_id": users[rng.choice(RT_USERS, n, p=w)].astype(np.int64),
                "ts_us": rng.integers(lo_us, hi_us, n, dtype=np.int64),
                "event_type": RT_TYPES[rng.integers(0, len(RT_TYPES), n)],
                "value": np.round(rng.uniform(0.01, 500.0, n), 2)}

    def add(part):
        for c in cols:
            cols[c].append(part[c])

    for c in range(RT_WARMUP_CHUNKS):
        add(fresh(-2 - c, RT_EVENTS_PER_CHUNK, RT_T0_US - 86_400_000_000,
                  RT_T0_US - 86_400_000_000 + span))
    backlog_us = RT_BACKLOG_HOURS * 3_600_000_000
    add(fresh(-1, RT_BACKLOG, RT_T0_US, RT_T0_US + backlog_us))
    n_paced = int(round(seconds * 1000 / RT_PERIOD_MS))
    prev = None
    for c in range(n_paced):
        lo = RT_T0_US + backlog_us + c * span
        part = fresh(c, RT_EVENTS_PER_CHUNK, lo, lo + span)
        late = rng.random(RT_EVENTS_PER_CHUNK) < RT_LATE_SHARE
        part["ts_us"][late] = lo - rng.integers(0, 6 * 60 * 1_000_000, late.sum())
        if prev is not None:
            dup = rng.random(RT_EVENTS_PER_CHUNK) < RT_DUP_SHARE
            pick = rng.integers(0, RT_EVENTS_PER_CHUNK, dup.sum())
            for col in part:
                if col != "chunk":
                    part[col][dup] = prev[col][pick]
        add(part)
        prev = part
    table = {c: np.concatenate(v) for c, v in cols.items()}
    pq.write_table(pa.table(table), os.path.join(out, "rt_events.parquet"))
    with open(os.path.join(out, "rt.conf"), "w") as f:
        f.write(f"period_ms={RT_PERIOD_MS}\n")
    return {"events": table, "n_paced": n_paced}


def rt_window_closers(g):
    """For each hourly window that a paced chunk closes: (window end in
    epoch ms, the chunk whose events first push the watermark — the max
    event time of cleaned rows minus the delay — to the window's end).
    The backlog (chunk -1) comes first; windows it closes are not
    counted."""
    ev = g["events"]
    kept = ev["event_type"] != "error"
    hour = 3_600_000_000
    out = []
    backlog = ev["ts_us"][kept & (ev["chunk"] == -1)]
    max_ts = int(backlog.max())
    # the first window that holds data and that the backlog left open
    next_end = max(((max_ts - RT_HORIZON_US) // hour + 1) * hour,
                   (int(backlog.min()) // hour + 1) * hour)
    for c in range(g["n_paced"]):
        sel = kept & (ev["chunk"] == c)
        if sel.any():
            max_ts = max(max_ts, int(ev["ts_us"][sel].max()))
        while next_end <= max_ts - RT_HORIZON_US:
            out.append((next_end // 1000, c))
            next_end += hour
    return out


# -------------------------------------------------------- batch_inventory
# the fixture tables the operator inventory reads, shaped like the
# repository's test corpus (FIXTURES.md) at its smallest scale
BATCH_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "lineitem": 6000, "events": 1000, "documents": 500,
              "embeddings": 500}
WORDS = ("the a fast slow big small key value data row column table scan "
         "join merge sort hash group agg filter window stream batch spark "
         "query order line part customer vector dup").split()
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(lo, hi, n, rng, day=False):
    lo_us = (np.datetime64(lo, "us") - EPOCH_US).astype(np.int64)
    hi_us = (np.datetime64(hi, "us") - EPOCH_US).astype(np.int64)
    x = rng.integers(lo_us, hi_us, n)
    if day:
        x = x - x % 86_400_000_000
    return pa.array(x, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def batch(out, seed):
    """Write the fixture tables under out/data as single parquet files."""
    rng = np.random.default_rng([seed, 1])
    d = os.path.join(out, "data")
    os.makedirs(d, exist_ok=True)
    n = BATCH_ROWS
    i32, i64 = np.int32, np.int64
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=i32) % 5},
        "customer": {"c_custkey": np.arange(n["customer"], dtype=i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
                     "c_acctbal": _money(rng, -999, 9999, n["customer"]),
                     "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                                 "BUILDING", "FURNITURE"], n["customer"])},
        "supplier": {"s_suppkey": np.arange(n["supplier"], dtype=i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
                     "s_acctbal": _money(rng, -999, 9999, n["supplier"])},
        "part": {"p_partkey": np.arange(n["part"], dtype=i64),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     rng.choice(["blue", "red", "hot", "cold", "small", "large", "old", "new"], n["part"]),
                     rng.choice(["bolt", "gear", "widget", "anvil", "ring", "rod", "plate"], n["part"]))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                 "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n["part"]),
                 "p_size": rng.integers(1, 51, n["part"]).astype(i32),
                 "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n["orders"], dtype=i64),
                   "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(i64),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
                   "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
                   "o_orderdate": _ts("1995-01-01", "2001-08-01", n["orders"], rng, day=True),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n["orders"])},
        "lineitem": {"l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(i64),
                     "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(i64),
                     "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(i64),
                     "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(i32),
                     "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 100000, n["lineitem"]),
                     "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                     "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                     "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
                     "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
                     "l_shipdate": _ts("1995-01-02", "2001-11-04", n["lineitem"], rng, day=True)},
        "events": {"event_id": np.arange(n["events"], dtype=i64),
                   "ts": _ts("2024-01-01", "2024-01-30", n["events"], rng),
                   "user_id": rng.integers(0, 150, n["events"]).astype(i64),
                   "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n["events"]),
                   "value": _money(rng, 0.01, 490, n["events"]),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]},
    }
    # documents: random token runs, a tenth of them near-copies of an
    # earlier document (a few tokens changed) for the dedup operators
    texts = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    tables["documents"] = {
        "doc_id": np.arange(n["documents"], dtype=i64), "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n["documents"],
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=i64)}
    emb = (rng.standard_normal((n["embeddings"], 64)) * 0.125).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n["embeddings"], dtype=i64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(i32)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))
    return {"data": d}
