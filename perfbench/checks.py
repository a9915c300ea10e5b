"""Output checks that replay what the benchmark generated. Each returns
a list of (name, ok, detail)."""

import os

MOD = 1000003


def fingerprint(image, lo=None, hi=None):
    """count, sum k, sum p, sum q, sum((k*p) mod M), sum((k*q) mod M) of
    the rows whose key lies in [lo, hi] — the lake workload's SELECT."""
    n = sk = sp = sq = hp = hq = 0
    for k, (_, p, q) in image.items():
        if lo is not None and not lo <= k <= hi:
            continue
        n += 1; sk += k; sp += p; sq += q
        hp += (k * p) % MOD; hq += (k * q) % MOD
    return [n, sk, sp, sq, hp, hq]


def changes(before, after):
    """Expected change feed between two images, as the workload reads it:
    sorted [change_type, rows, sum p]."""
    acc = {}

    def add(t, p):
        n, s = acc.get(t, (0, 0))
        acc[t] = (n + 1, s + p)
    for k, row in after.items():
        old = before.get(k)
        if old is None:
            add("insert", row[1])
        elif old != row:
            add("update_preimage", old[1]); add("update_postimage", row[1])
    for k, row in before.items():
        if k not in after:
            add("delete", row[1])
    return [[t, n, s] for t, (n, s) in sorted(acc.items())]


def lake(gen, record, keep=30):
    """Replay the executed op log on an in-memory model of the table and
    compare every read, time-travel read, change-feed read and the final
    image with what the lake table returned."""
    out = []
    base = gen["base"]
    image = {int(k): (int(c), int(p), int(q)) for k, c, p, q in
             zip(base["k"], base["cust"], base["p"], base["q"])}
    src = {}
    for i, k, c, p, q in zip(gen["src"]["op"], gen["src"]["k"],
                             gen["src"]["cust"], gen["src"]["p"], gen["src"]["q"]):
        src.setdefault(i, []).append((k, c, p, q))
    ops = {op[0]: op for op in gen["ops"]}
    v0 = int(record["values"]["lake_v0"])
    versions = {v0: dict(image)}          # the last `keep` versions' images
    bad = []
    for r in record["rows"].get("lake_ops", []):
        i, kind, a, b, _ = ops[r["i"]]
        if not r["ok"]:
            continue
        if kind == "merge":
            for k, c, p, q in src[i]:
                image[k] = (c, p, q)
        elif kind == "delete":
            for k in range(a, b + 1):
                image.pop(k, None)
        elif kind == "read":
            if r["result"] != fingerprint(image, a, b):
                bad.append(f"read op {i}")
        elif kind == "tt":
            old = versions.get(r["version"])
            if old is None or r["result"] != fingerprint(old, a, b):
                bad.append(f"VERSION AS OF {r['version']} op {i}")
        elif kind == "cdf" and r["version"] >= 0:
            va = r["version"]
            vb = max(v for v in versions if v < va)
            if r["result"] != changes(versions[vb], versions[va]):
                bad.append(f"change feed to v{va} op {i}")
        if r["v_after"] > r["v_before"]:
            versions[r["v_after"]] = dict(image)
            for v in sorted(versions)[:-keep]:
                del versions[v]
    out.append(("lake.reads_match_replay", not bad, "; ".join(bad[:5])))
    final = record["rows"]["lake_final"][0]["result"]
    out.append(("lake.final_image_matches_replay", final == fingerprint(image),
                f"got {final} want {fingerprint(image)}"))
    return out


def batch(data_dir, record):
    """Every key succeeded in every pass, and each key's row count (taken
    from the timed write) equals the row count of its DuckDB oracle SQL
    over the same parquet files (keys without an oracle check success
    only)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    runs = record["rows"].get("batch_runs", [])
    out = []
    for k in record["rows"].get("batch_keys", []):
        mine = [r for r in runs if r["key"] == k["key"]]
        ok = bool(mine) and all(r["ok"] for r in mine)
        detail = "" if ok else "failed or never ran"
        if ok and k["oracle"]:
            want = con.execute(f"SELECT count(*) FROM ({k['oracle']})").fetchone()[0]
            got = sorted({r["rows"] for r in mine})
            ok = got == [want]
            detail = f"rows {got}, oracle {want}"
        out.append((f"batch.{k['key']}", ok, detail))
    return out
