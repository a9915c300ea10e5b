#!/usr/bin/env python3
"""One benchmark run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
from source on first use (sbt, offline), generates the workload's inputs
from the seed, runs one JVM, checks its outputs, and prints every metric
by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits non-zero, printing no result, when it cannot run, and non-zero
after printing when a check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import metrics  # noqa: E402
import stats    # noqa: E402

WORKLOADS = ("batch_inventory", "rt_warehouse", "lake_rw")
# the batch key list: every ops module, in a fixed order, a twelfth of
# the inventory, chosen among keys with a DuckDB oracle;
# table_delete_sql builds its lake table inside the key (a merge-on-read
# DELETE through the SQL door, then a read through deletion vectors)
BATCH_KEYS = (
    "scan_parquet", "scan_projected", "table_delete_sql",
    "filter_predicate", "join_inner_hash", "join_lookup_async",
    "agg_group_multi", "agg_grouping_sets", "win_rank_topn", "set_union",
    "fn_json", "stream_window_tumbling", "llm_text_stats", "llm_token_count",
    "ads_province_board", "cep_pattern_match", "graph_shortest_path",
    "sort_limit_topk")
BATCH_SECONDS_PER_PASS = 20
RUN_LIMIT_S = 170          # a run (not counting the first build) ends by then
BUILD_LIMIT_S = 850


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build
def sources_mtime(root):
    newest = 0.0
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (root, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                newest = max(newest, os.path.getmtime(p))
    return newest


def build(root):
    """Compile the program and the harness (sbt, offline) unless the
    launch files are newer than every source. Returns (classpath, jvm
    options of the program's build)."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "javaopts.txt")
    if not (os.path.exists(cp_file) and os.path.getmtime(cp_file) > sources_mtime(root)):
        if shutil.which("sbt") is None:
            fail("sbt not found")
        env = offline_env()
        log("building program and harness with sbt ...")
        t0 = time.time()
        r = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     cwd=HERE, env=env, limit=BUILD_LIMIT_S,
                     log_path=os.path.join(root, ".perfbench", "build.log"))
        if r != 0 or not os.path.exists(cp_file):
            fail(f"build failed (exit {r}); see .perfbench/build.log")
        log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [x for x in f.read().split("\n") if x and not x.startswith("-Xmx")]
    return cp, opts


def offline_env():
    """sbt must resolve nothing over the network: offline mode, and the
    user's own repository list (the local caches) when one exists."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_proc(cmd, cwd, env, limit, log_path):
    """Run cmd in its own process group with output to log_path; kill
    the whole group if it outlives `limit` seconds. Returns the exit
    code (None on timeout)."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# -------------------------------------------------------------------- run
def cores():
    return max(1, min(4, os.cpu_count() or 1))


def launch(cp, opts, workload, inp, work, record, trace, limit):
    cmd = (["java"] + opts + [
        # a fixed young generation keeps the resident high-water mark a
        # property of the workload rather than of the collector's sizing
        "-Xmx3g", "-Xmn768m", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
        "-cp", cp, "perfbench.Main", workload, inp, work, record, str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, PERFBENCH_CORES=str(cores()))
    log_path = os.path.join(work, "jvm.log")
    r = run_proc(cmd, cwd=work, env=env, limit=limit, log_path=log_path)
    if r != 0 or not os.path.exists(record):
        fail(f"JVM run failed (exit {r}):\n{tail(log_path)}")
    with open(record) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    cp, opts = build(root)

    t_start = time.time()
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(inp)
    try:
        g = generate(a.workload, inp, a.seed, a.seconds)
        record = launch(cp, opts, a.workload, inp, work,
                        os.path.join(work, "record.json"), a.trace,
                        RUN_LIMIT_S - (time.time() - t_start))
        out = metrics.evaluate(a.workload, g, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        write_trace(root, a.workload, record)

    for name, ok, detail in out.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED ' + detail}")
    for name, (v, unit) in out.named.items():
        print(f"{name} {fmt(v)} {unit}")
    # traced runs print the (traced) end-to-end figures too, so the
    # tracing overhead is their difference from an untraced run
    for name, (v, unit) in out.e2e.items():
        print(f"{'traced.' if a.trace else ''}{name} {fmt(v)} {unit}")
    print(f"failed_ratio {out.failed / max(1, out.attempted):.6f} ratio")
    chosen = out.layer if a.trace else out.e2e
    if a.trace:
        for name, (v, unit) in chosen.items():
            print(f"{name} {fmt(v)} {unit}")
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    sys.exit(0 if correct else 1)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def write_trace(root, workload, record):
    """Keep a traced run's spans, with self times, for inspection."""
    self_ns = stats.self_times(record["spans"])
    spans = [dict(s, self_ns=self_ns[s["id"]]) for s in record["spans"]]
    path = os.path.join(root, ".perfbench", f"trace-{workload}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans}, f)
    log(f"{len(spans)} spans with self times in {os.path.relpath(path, root)}")


# ------------------------------------------------------ inputs and metrics
def generate(workload, inp, seed, seconds):
    if workload == "lake_rw":
        return gen.lake(inp, seed, n_ops=int(seconds))
    if workload == "rt_warehouse":
        return gen.rt(inp, seed, seconds)
    g = gen.batch(inp, seed)
    passes = max(1, int(round(seconds / BATCH_SECONDS_PER_PASS)))
    with open(os.path.join(inp, "keys.txt"), "w") as f:
        f.write(f"passes {passes}\n" + "\n".join(BATCH_KEYS) + "\n")
    return g


if __name__ == "__main__":
    main()
