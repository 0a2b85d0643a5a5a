#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the harness (`perfbench/harness`) with the Scala
compiler shipped in Spark's jars, and generates the input tables; both are
cached under `.bench_build/`. Workloads and their fixed parameters live in
`perfbench/workloads.json`; metric definitions are in `perfbench/README.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import urllib.parse

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own build
    compiles against (`unmanagedBase` in build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()
XMX = "3g"
RUN_TIMEOUT_S = 165
STREAM_LAYERS = ["dwd_db", "dwd_log", "dwm_order_wide", "dwm_unique_visit",
                 "dwm_user_jump", "dws_visitor_stats", "dws_province_stats"]
STATEFUL = ["dwm_order_wide", "dwm_unique_visit", "dwm_user_jump",
            "dws_visitor_stats", "dws_province_stats"]
MODULES = ["relational", "stats", "log", "layout", "plans", "ads",
           "dedup", "ann", "text", "curation", "multimodal"]
DWS_LAYERS = ["dws_visitor_stats", "dws_province_stats"]
OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


# ---- build ------------------------------------------------------------------

def build():
    """Compile program + harness once per source content; returns the
    classes directory."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not program:
        die("no program sources under src/main/scala; run from a checkout of the repository")
    if not os.path.isdir(SPARK_JARS):
        die("Spark jars not found at " + SPARK_JARS)
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + key)
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = SPARK_JARS + "/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp] + program + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die("compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classes


def source_stamp():
    """The code a record measured: the git commit where there is one, and a
    hash of the program's sources and every benchmark file (checkouts the
    benchmark runs in need not be git repositories)."""
    h = hashlib.sha256()
    files = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) + [
        f for f in glob.glob(os.path.join(HERE, "**"), recursive=True)
        if os.path.isfile(f) and "__pycache__" not in f]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    commit = None
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {"source": h.hexdigest()[:16], "commit": commit}


def data_dir():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data-" + key)
    if not os.path.exists(os.path.join(d, ".done")):
        gen.write(d)
        open(os.path.join(d, ".done"), "w").close()
    return d


def harness(classes, workload, seed, seconds, trace, work, data, timeout):
    """Runs the JVM harness to completion; returns its result record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + XMX, "-Xss4m"] + OPENS +
           ["-Duser.timezone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + ":" + SPARK_JARS + "/*", "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(nproc()),
            "--data", data, "--work", work,
            "--config", os.path.join(HERE, "workloads.json"),
            "--expected", os.path.join(HERE, "expected.json"),
            "--vectors", os.path.join(HERE, "tests/canon_vectors.json"),
            "--out", out])
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("harness timed out after %ds" % timeout)
    if not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die("harness exited %d without a result" % code)
    with open(out) as f:
        rec = json.load(f)
    if rec.get("invalid"):
        die("run invalid: " + rec["invalid"])
    if code != 0:
        die("harness exited %d" % code)
    return rec


# ---- stream inputs ------------------------------------------------------------

def stream_plan(cfg, seed, seconds, data, work):
    """Seeded ODS plan: which users act, on which pages, with what jitter, and
    which orders (with their lineitems) arrive, in send order."""
    rng = np.random.default_rng(seed)
    cust = pq.read_table(os.path.join(data, "customer.parquet"),
                         columns=["c_custkey", "c_nationkey"]).to_pandas()
    users = rng.choice(len(cust), cfg["users"], replace=False)
    weights = 1.0 / np.arange(1, len(users) + 1) ** cfg["zipf_s"]
    weights /= weights.sum()
    backlog = cfg["backlog_files"]
    n_log = int(backlog * cfg["backlog_log_per_file"] + cfg["live_log_eps"] * (seconds + 2))
    n_ord = int(backlog * cfg["backlog_orders_per_file"] + cfg["live_orders_per_s"] * (seconds + 2))
    pick = users[rng.choice(len(users), n_log, p=weights)]
    pages = np.array(["home", "good_list", "good_detail", "cart", "trade", "payment"])
    page = rng.integers(0, len(pages), n_log)
    entry = rng.random(n_log) < 0.3
    last = np.where(entry, "", pages[(page + 1 + rng.integers(0, 5, n_log)) % len(pages)])
    vcs, chs = np.array(["v2.1.134", "v2.1.132", "v2.0.1"]), np.array(["xiaomi", "huawei", "oppo", "web"])
    cols = [cust.c_custkey.values[pick], pages[page], last, rng.integers(100, 20_000, n_log),
            vcs[rng.integers(0, 3, n_log)], chs[rng.integers(0, 4, n_log)],
            cust.c_nationkey.values[pick], np.where(rng.random(n_log) < 0.1, "1", "0"),
            rng.integers(0, cfg["max_jitter_ms"] + 1, n_log)]
    with open(os.path.join(work, "plan_log.tsv"), "w") as f:
        for row in zip(*cols):
            f.write("\t".join(str(x) for x in row) + "\n")

    orders = pq.read_table(os.path.join(data, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey", "o_totalprice"]).to_pandas()
    li = pq.read_table(os.path.join(data, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_extendedprice"]).to_pandas()
    li = li.sort_values(["l_orderkey", "l_partkey"], kind="stable")
    keys = li.l_orderkey.values
    nation = dict(zip(cust.c_custkey.values, cust.c_nationkey.values))
    with open(os.path.join(work, "plan_orders.tsv"), "w") as f:
        written = 0
        for i in rng.permutation(len(orders)):
            ok = orders.o_orderkey.values[i]
            lo, hi = np.searchsorted(keys, ok), np.searchsorted(keys, ok, side="right")
            if lo == hi:
                continue
            lines = ";".join("%d:%.2f" % (p, x) for p, x in zip(
                li.l_partkey.values[lo:hi][:7], li.l_extendedprice.values[lo:hi][:7]))
            ck = orders.o_custkey.values[i]
            f.write("%d\t%d\t%d\t%.2f\t%s\n" % (ok, ck, nation[ck], orders.o_totalprice.values[i], lines))
            written += 1
            if written >= n_ord:
                break


# ---- metrics -----------------------------------------------------------------

def batch_metrics(rec, trace):
    ops = [r for r in rec["records"] if r["name"] != "_pass"]
    passes = [r for r in rec["records"] if r["name"] == "_pass"]
    # pass 0, the fresh process's, ends set-up; the warm passes after it are timed
    cold, warm = passes[0], passes[1:]
    warm_ops = [r for r in ops if r["pass"] > 0]
    op_ms = [r["op_ms"] for r in warm_ops]
    # engine CPU: the tasks plus the client thread that plans and drives them
    e2e = {"cpu_s": stats.median([p["task_cpu_s"] + p["driver_cpu_s"] for p in warm]),
           "heap_live_mb": rec["heap_live_mb"]}
    tail = stats.tail(op_ms)
    wall = {"batch.pass_s": stats.median([p["pass_s"] for p in warm]),
            "batch.query_p50_ms": stats.median(op_ms)}
    by_name = {}
    for r in ops:
        by_name.setdefault(r["name"], []).append(r["op_ms"])
    detail = dict(wall, cold_pass_s=cold["pass_s"], query_tail=tail,
                  query_tail_ms=tail[1] if tail else max(op_ms), warm_passes=len(warm),
                  passes=[{k: p[k] for k in ("pass_s", "task_cpu_s", "driver_cpu_s", "process_cpu_s")}
                          for p in passes],
                  op_ms={k: v for k, v in sorted(by_name.items())})
    if not trace:
        return e2e, {}, detail
    # module figures per timed pass, as `cpu_s`; memo and JIT figures of the
    # set-up pass, which pays every closure, trained model and compilation once
    layer = dict(wall)
    for m in MODULES:
        mine = [r for r in warm_ops if r["module"] == m]
        for field, key, scale in (("build_ms", "build_ms", 1), ("plan_ms", "plan_ms", 1),
                                  ("exec_ms", "exec_ms", 1), ("tasks", "tasks", 1),
                                  ("shuffle_mb", "shuffle_bytes", 1 / 1048576.0),
                                  ("gc_ms", "gc_ms", 1)):
            layer["%s.%s" % (m, field)] = sum(r.get(key, 0) for r in mine) * scale / len(warm)
    computes = cold["cluster_computes"] + cold["train_computes"]
    layer.update({
        "memo.cluster_computes": cold["cluster_computes"],
        "memo.train_computes": cold["train_computes"],
        "memo.hit_ratio": 1.0 - computes / cold["memo_consumers"],
        "storage.persisted_mb_max": rec["persisted_mb_max"],
        "jvm.jit_ms": cold["jit_ms"],
        "jvm.codegen_compiles": cold["codegen_compiles"],
    })
    return e2e, layer, detail


def _committed(path):
    """Part files a streaming parquet sink committed (its `_spark_metadata`
    log; a batch cut off when the queries stop leaves uncommitted files)."""
    files = set()
    for log in glob.glob(os.path.join(path, "_spark_metadata", "[0-9]*")):
        with open(log) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    if e.get("action", "add") == "add":
                        files.add(urllib.parse.urlparse(e["path"]).path)
    return sorted(files)


def _sink_rows(path, columns):
    """(row values, file mtime ms) for every committed part file of a sink."""
    out = []
    for f in _committed(path):
        mtime = os.stat(f).st_mtime_ns / 1e6
        t = pq.read_table(f, columns=columns).to_pydict()
        out.extend((tuple(t[c][i] for c in columns), mtime) for i in range(len(t[columns[0]])))
    return out


def _edt_ms(s):
    return float(np.datetime64(s.replace(" ", "T"), "ms").astype(np.int64))


def stream_metrics(rec, trace, work):
    ph = rec["phase_ms"]
    prog = rec["progress"]
    ends = {}
    for p in prog:
        ends.setdefault(p["layer"], []).append(p["start_ms"] + p["durations"].get("triggerExecution", 0))
    for v in ends.values():
        v.sort()
    live = (ph["live_start"], ph["live_end"])

    dws, delays = {}, {}
    for layer in DWS_LAYERS:
        delay = stats.watermark_delay_ms([p for p in prog if p["layer"] == layer])
        delays[layer] = delay
        lat = []
        if delay is None:
            dws[layer] = lat
            continue
        for (edt,), mtime in _sink_rows(os.path.join(work, "sinks", layer), ["edt"]):
            close = _edt_ms(edt) + delay
            commit = stats.commit_time(mtime, ends.get(layer, []))
            if live[0] <= close <= live[1] and commit is not None:
                lat.append(stats.dws_latency_ms(commit, _edt_ms(edt), delay))
        dws[layer] = lat
    dws_all = dws["dws_visitor_stats"] + dws["dws_province_stats"]
    dwm = []
    for (a, b), mtime in _sink_rows(os.path.join(work, "topics", "dwm_order_wide"),
                                    ["create_ts", "od_create_ts"]):
        commit = stats.commit_time(mtime, ends.get("dwm_order_wide", []))
        if live[0] <= max(a, b) <= live[1] and commit is not None:
            dwm.append(stats.dwm_latency_ms(commit, a, b))
    if not dwm:
        die("no order-wide rows committed in the live phase")
    drain_s = (ph["drained"] - ph["start"]) / 1000.0
    # the tasks' CPU only: the stream execution threads' share (mostly cold
    # micro-batch planning) swings with host contention, up to half again
    e2e = {"cpu_s": rec["backfill_cpu"]["task_cpu_s"], "heap_live_mb": rec["heap_live_mb"]}
    dwm_tail, dws_tail = stats.tail(dwm), stats.tail(dws_all) if dws_all else None
    wall = {"stream.backfill_eps": rec["backlog_events"] / drain_s,
            "stream.dwm_latency_p50_ms": stats.median(dwm),
            "stream.dwm_latency_tail_ms": dwm_tail[1] if dwm_tail else max(dwm),
            "stream.dws_latency_p50_ms": stats.median(dws_all) if dws_all else 0.0,
            "stream.dws_latency_tail_ms": dws_tail[1] if dws_tail else max(dws_all, default=0.0)}
    detail = dict(wall, backfill_s=drain_s, backfill_cpu=rec["backfill_cpu"], dwm_samples=len(dwm), dwm_tail=dwm_tail, dws_tail=dws_tail,
                  dws_samples={k: len(v) for k, v in dws.items()}, dws_delay_ms=delays,
                  phases_s={k: (ph[k] - ph["ready"]) / 1000.0 for k in ph},
                  parity_mismatches=rec["parity_mismatches"], parity_rows=rec["parity_rows"])
    if not trace:
        return e2e, {}, detail

    layer = dict(wall)
    backfill = (ph["start"], ph["drained"])
    for name in STREAM_LAYERS:
        mine = [p for p in prog if p["layer"] == name]
        in_live = [p for p in mine if live[0] <= p["start_ms"] <= live[1]]
        trig = [p["durations"].get("triggerExecution", 0) for p in in_live]
        add = [p["durations"].get("addBatch", 0) for p in in_live]
        busy = sum(p["durations"].get("triggerExecution", 0) for p in mine
                   if backfill[0] <= p["start_ms"] <= backfill[1])
        layer[name + ".batches"] = len(in_live)
        layer[name + ".trigger_ms_p50"] = stats.median(trig) if trig else 0.0
        layer[name + ".add_batch_ms_p50"] = stats.median(add) if add else 0.0
        layer[name + ".overhead_ms_p50"] = stats.median([t - a for t, a in zip(trig, add)]) if trig else 0.0
        layer[name + ".busy_share"] = busy / (backfill[1] - backfill[0])
        if name in STATEFUL:
            lastp = mine[-1] if mine else {"state_rows": 0, "state_bytes": 0}
            layer[name + ".state_rows"] = lastp["state_rows"]
            layer[name + ".state_mem_mb"] = lastp["state_bytes"] / 1048576.0
    layer["sources.backlog_files_max"] = _live_files_per_batch(work, prog, live)
    layer["sources.gen_late_ms_max"] = rec["gen_late_ms_max"]
    files = [f for d in ("sinks", "topics/dwd_page_log", "topics/dwm_order_wide")
             for f in glob.glob(os.path.join(work, d, "**", "*.parquet"), recursive=True)]
    layer["sinks.files_written"] = len(files)
    layer["sinks.mb_written"] = sum(os.path.getsize(f) for f in files) / 1048576.0
    return e2e, layer, detail


def _live_files_per_batch(work, prog, live):
    """Most ODS files one DWD trigger picked up during the live phase (read
    from the file sources' checkpoint logs)."""
    most = 0
    for layer in ("dwd_db", "dwd_log"):
        batches = {p["batch"] for p in prog if p["layer"] == layer and live[0] <= p["start_ms"] <= live[1]}
        per = {}
        for f in glob.glob(os.path.join(work, "ckpt", layer, "sources", "0", "[0-9]*")):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        b = json.loads(line).get("batchId")
                        per[b] = per.get(b, 0) + 1
        most = max([most] + [per.get(b, 0) for b in batches])
    return most


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg:
        die("unknown workload %r (have %s)" % (a.workload, ", ".join(cfg)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classes = build()
    data = data_dir()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "stream_warehouse":
            stream_plan(cfg[a.workload], a.seed, a.seconds, data, work)
        rec = harness(classes, a.workload, a.seed, a.seconds, a.trace == 1, work, data,
                      RUN_TIMEOUT_S)
        if rec["kind"] == "stream":
            e2e, layer, detail = stream_metrics(rec, a.trace == 1, work)
            failed = sum(rec["parity_mismatches"].values())
            attempted = rec["consumed_events"]
            problems = ["%s: %d rows differ from the batch twin" % kv
                        for kv in rec["parity_mismatches"].items() if kv[1]]
        else:
            e2e, layer, detail = batch_metrics(rec, a.trace == 1)
            failed = len(rec["failures"])
            attempted = rec["attempted"]
            problems = rec["failures"]
        problems += ["canonical form differs: " + x for x in rec["canon_selfcheck_failures"]]
        e2e["setup_s"] = rec["setup"]["setup_cpu_s"]
        detail["setup"] = rec["setup"]
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(BUILD, "traces", "%s-%d.jsonl" % (a.workload, a.seed)))
                detail["span_self_ms"] = _self_ms_by_name(spans)
        wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
        values = layer if a.trace else e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "stamp": dict(rec["stamp"], **source_stamp()), "metrics": metrics,
                  "end_to_end": e2e, "detail": detail, "problems": problems}
        _keep_record(record, a)
        for p in problems:
            print("perfbench: FAILED " + p, file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": int(attempted),
                          "failed": int(failed) + len(rec["canon_selfcheck_failures"]),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _self_ms_by_name(path):
    """Total self time of the trace's spans, per span name."""
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    selfs = stats.self_times(spans)
    out = {}
    for sp in spans:
        out[sp["name"]] = out.get(sp["name"], 0.0) + selfs[sp["id"]]
    return out


def _keep_record(record, a):
    """Writes the full run record and, for a traced run, reports how far its
    end-to-end numbers sit from the last untraced run with the same stamp."""
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1, default=str)
    last = os.path.join(d, "%s-last-untraced.json" % a.workload)
    if not a.trace:
        with open(last, "w") as f:
            json.dump(record, f, default=str)
    elif os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        if base["stamp"] == record["stamp"]:
            for k, v in record["end_to_end"].items():
                if base["end_to_end"].get(k):
                    print("perfbench: tracing overhead %s %+.1f%% (traced %.4g vs untraced %.4g)"
                          % (k, 100.0 * (v / base["end_to_end"][k] - 1), v, base["end_to_end"][k]),
                          file=sys.stderr)


if __name__ == "__main__":
    main()
