"""Turn one run's record into metrics and check verdicts.

`evaluate` returns an Outcome: end-to-end metrics (always the four in
E2E), per-layer metrics (every name in PER_LAYER; a layer the workload
does not run reads 0), the workload's own named metrics for the human
lines, the checks, and the op counts."""
import statistics

import checks
import gen
import stats

MODULES = ("Scans", "RowOps", "Joins", "JoinsAsync", "Aggs", "Windows", "SetOps",
           "Fns", "Streaming", "Llm", "LlmExtra", "Ads", "Cep", "Graph")

E2E = (("setup_s", "s"), ("p50_ms", "ms"), ("work_s", "s"))

PER_LAYER = tuple(
    [(f"batch.{m}.{f}", u) for m in MODULES for f, u in (
        ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"))]
    + [("artifact.jobs", "count"), ("artifact.tasks", "count"),
       ("artifact.shuffle_bytes", "bytes"), ("artifact.bytes_written", "bytes")]
    + [(f"stream.{q}.{f}", u) for q in ("dwd", "ads") for f, u in (
        ("batches", "count"), ("batch_ms_p50", "ms"), ("queryPlanning_ms", "ms"),
        ("walCommit_ms", "ms"), ("latestOffset_ms", "ms"), ("addBatch_ms", "ms"),
        ("state_rows", "rows"), ("state_mem_bytes", "bytes"))]
    + [("stream.dwd.sink_commit_ms", "ms"), ("stream.dropped_rows", "rows"),
       ("stream.generator_late_ms", "ms")]
    # the workloads' own end-to-end figures, split out of p50_ms / work_s,
    # and peak memory, which is bimodal run to run on rt_warehouse (the
    # collector grows the heap in some runs and not in others) and so
    # cannot hold a bound
    + [("peak_rss_mb", "MB"), ("batch_total_s", "s"), ("artifact_build_s", "s"),
       ("dwd_visible_p50_ms", "ms"), ("dwd_visible_p90_ms", "ms"),
       ("ads_visible_p50_ms", "ms"), ("drain_events_per_s", "events/s")])


class Outcome:
    def __init__(self):
        self.e2e, self.layer, self.named = {}, {}, {}
        self.checks = []
        self.attempted = self.failed = 0

    def op(self, n, failed=0):
        self.attempted += n
        self.failed += failed


def evaluate(workload, g, rec):
    out = Outcome()
    v = rec["values"]
    out.checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    out.op(rec["attempted"], rec["failed"])
    out.e2e["setup_s"] = (v["session_s"] + v["setup_work_s"], "s")
    named(out, "peak_rss_mb", v["peak_rss_mb"], "MB")
    {"batch_inventory": batch, "rt_warehouse": rt, "lake_rw": lake}[workload](g, rec, out)
    for name, unit in PER_LAYER:
        out.layer.setdefault(name, (0, unit))
    missing = [k for k, _ in E2E if out.e2e.get(k, (None,))[0] is None]
    if missing:
        out.checks.append(("metrics.reportable", False, f"no samples for {missing}"))
    out.op(len(out.checks), sum(1 for c in out.checks if not c[1]))
    return out


def named(out, name, value, unit, layer=False):
    """A workload's own metric: printed, and kept as a per-layer figure
    when PER_LAYER lists it (or `layer` says so)."""
    out.named[name] = (value, unit)
    if layer or any(n == name for n, _ in PER_LAYER):
        out.layer[name] = (value, unit)


# ------------------------------------------------------------------ batch
def batch(g, rec, out):
    out.checks += checks.batch(g["data"], rec)
    runs = [r for r in rec["rows"].get("batch_runs", []) if r["ok"]]
    module = {k["key"]: k["module"] for k in rec["rows"]["batch_keys"]}
    per_key = {}
    for r in runs:
        per_key.setdefault(r["key"], []).append(r)

    def key_median(key, field):
        xs = [r[field] for r in per_key[key] if r[field] is not None]
        return stats.median(xs) or 0
    total_s = sum(key_median(k, "wall_ms") for k in per_key) / 1000
    artifact_s = rec["values"]["bulk_s"]
    walls = [r["wall_ms"] for r in runs]
    out.e2e["p50_ms"] = (stats.median(walls), "ms")
    out.e2e["work_s"] = (artifact_s + total_s, "s")
    named(out, "batch_total_s", total_s, "s")
    named(out, "artifact_build_s", artifact_s, "s")
    t = stats.tail(walls)
    if t:
        named(out, f"key_{t[0]}_ms", t[1], "ms")
    out.named["samples"] = (len(walls), f"key runs of {len(per_key)} keys")
    for m in MODULES:
        keys = [k for k in per_key if module[k] == m]
        for f, unit, scale in (("build_ms", "s", 1e-3), ("plan_ms", "s", 1e-3),
                               ("exec_ms", "s", 1e-3), ("jobs", "count", 1),
                               ("tasks", "count", 1), ("shuffle_bytes", "bytes", 1)):
            out.layer[f"batch.{m}.{f.replace('_ms', '_s')}"] = (
                sum(key_median(k, f) for k in keys) * scale, unit)
    v = rec["values"]
    for f in ("jobs", "tasks", "shuffle_bytes", "bytes_written"):
        out.layer[f"artifact.{f}"] = (v.get(f"artifact_{f}", 0),
                                      "count" if f in ("jobs", "tasks") else "bytes")
    if rec["spans"]:
        # traced: each key's build + plan + exec must cover its wall time
        self_ns = stats.self_times(rec["spans"])
        bad = [s["attrs"]["key"] for s in rec["spans"] if s["name"] == "key"
               and self_ns[s["id"]] > 0.02 * (s["end_ns"] - s["start_ns"])]
        out.checks.append(("trace.key_split_within_2pct", not bad, f"{bad[:5]}"))


# --------------------------------------------------------------------- rt
def rt(g, rec, out):
    rows = rec["rows"]
    chunks = sorted(rows["chunks"], key=lambda c: c["chunk"])
    paced = [c for c in chunks if c["chunk"] >= 0]
    batches = {q: [b for b in rows.get("stream_batches", []) if b["query"] == q]
               for q in ("dwd", "ads")}
    commits = {c["batch_id"]: c["end_ns"] for c in rows.get("dwd_commits", [])}
    _, missing = stats.visible_latency_ms(chunks, batches["dwd"], commits)
    out.op(len(chunks), len(missing))
    dwd, _ = stats.visible_latency_ms(paced, batches["dwd"], commits)
    due = {c["chunk"]: c["due_ns"] for c in chunks}
    ads = []
    for w_end_ms, c in gen.rt_window_closers(g):
        emit = [b for b in batches["ads"]
                if b["watermark_ms"] is not None and b["watermark_ms"] >= w_end_ms]
        if emit:
            b = min(emit, key=lambda b: b["batch_id"])
            ads.append((b["end_ns"] - due[c]) / 1e6)
    late = stats.lateness_ms(paced)
    out.checks.append(("stream.generator_on_schedule",
                       stats.median(late) < gen.RT_PERIOD_MS,
                       f"median lateness {stats.median(late):.1f} ms"))
    v = rec["values"]
    # the DWD micro-batches that carried rows, past the warm-up one:
    # trigger start -> sink commit, the freshness lag of data that finds
    # the pipeline idle
    carried = [b["triggerExecution_ms"] for b in batches["dwd"] if b["rows"] > 0][1:]
    out.e2e["p50_ms"] = (stats.median(carried), "ms")
    out.e2e["work_s"] = (v["bulk_s"], "s")
    named(out, "dwd_batch_p50_ms", stats.median(carried), "ms")
    named(out, "dwd_visible_p50_ms", stats.median(dwd), "ms")
    t = stats.tail(dwd)
    if t:
        named(out, f"dwd_visible_{t[0]}_ms", t[1], "ms")
    named(out, "ads_visible_p50_ms", stats.median(ads), "ms")
    t = stats.tail(ads)
    if t:
        named(out, f"ads_visible_{t[0]}_ms", t[1], "ms")
    named(out, "drain_events_per_s", v["drain_events"] / v["bulk_s"], "events/s")
    out.named["samples"] = (len(dwd), f"paced chunks, {len(ads)} ads windows")
    for q in ("dwd", "ads"):
        bs = batches[q]
        out.layer[f"stream.{q}.batches"] = (len(bs), "count")
        out.layer[f"stream.{q}.batch_ms_p50"] = (
            stats.median([b["triggerExecution_ms"] for b in bs]), "ms")
        for k in ("queryPlanning", "walCommit", "latestOffset", "addBatch"):
            out.layer[f"stream.{q}.{k}_ms"] = (stats.median([b[k + "_ms"] for b in bs]), "ms")
        out.layer[f"stream.{q}.state_rows"] = (max(b["state_rows"] for b in bs), "rows")
        out.layer[f"stream.{q}.state_mem_bytes"] = (max(b["state_mem_bytes"] for b in bs), "bytes")
    out.layer["stream.dwd.sink_commit_ms"] = (stats.median(
        [(c["end_ns"] - c["start_ns"]) / 1e6 for c in rows.get("dwd_commits", [])]), "ms")
    out.layer["stream.dropped_rows"] = (
        sum(b["dropped_rows"] for q in batches for b in batches[q]), "rows")
    t = stats.tail(late)
    out.layer["stream.generator_late_ms"] = (t[1] if t else max(late), "ms")


# ------------------------------------------------------------------- lake
def lake(g, rec, out):
    out.checks += checks.lake(g, rec)
    s, v = rec["samples"], rec["values"]
    writes, reads = s.get("lake_write_ms", []), s.get("lake_read_ms", [])
    out.e2e["p50_ms"] = (stats.median(writes + reads), "ms")
    out.e2e["work_s"] = ((sum(writes) + sum(reads) + sum(s.get("lake_maint_ms", []))) / 1000
                         + v["bulk_s"], "s")
    for name, xs in (("lake_write", writes), ("lake_read", reads)):
        named(out, f"{name}_p50_ms", stats.median(xs), "ms")
        t = stats.tail(xs)
        if t:
            named(out, f"{name}_{t[0]}_ms", t[1], "ms")
    named(out, "lake_bytes_per_live_byte", v["lake_table_bytes"] / v["lake_live_bytes"], "ratio")
    named(out, "lake.live_files", v["lake_live_files"], "count", layer=True)
    named(out, "lake.dv_files", v["lake_dv_files"], "count", layer=True)
    named(out, "lake.maintenance_ms", stats.median(s.get("lake_maint_ms", [])), "ms", layer=True)
    if not rec["spans"]:
        return
    # traced: statement span = plan (driver side) + exec (its jobs)
    self_ns = stats.self_times(rec["spans"])
    jobs = {r["i"]: r for r in rec["rows"].get("lake_op_jobs", [])}
    by_kind = {}
    for sp in rec["spans"]:
        if sp["parent"] == 0 and sp["name"].startswith("lake."):
            kind = sp["name"][5:]
            kind = "merge" if kind in ("merge", "delete") else "read" if kind in (
                "read", "tt", "cdf") else None
            if kind:
                dur = sp["end_ns"] - sp["start_ns"]
                by_kind.setdefault(kind, []).append(
                    (self_ns[sp["id"]] / 1e6, (dur - self_ns[sp["id"]]) / 1e6,
                     jobs.get(sp["attrs"]["op"], {})))
    for kind, xs in by_kind.items():
        named(out, f"lake.{kind}.plan_ms", statistics.median(x[0] for x in xs), "ms", layer=True)
        named(out, f"lake.{kind}.exec_ms", statistics.median(x[1] for x in xs), "ms", layer=True)
        if kind == "merge":
            named(out, "lake.merge.jobs", statistics.median(x[2].get("jobs", 0) for x in xs), "count", layer=True)
            written = sum(x[2].get("bytes_written", 0) for x in xs)
            named(out, "lake.bytes_written_per_user_byte",
                  written / max(1.0, v["lake_user_bytes"]), "ratio")
    named(out, "lake.read.files_read_ratio",
          stats.median(s.get("lake_files_read_ratio", [])), "ratio")
