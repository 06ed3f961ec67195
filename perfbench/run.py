#!/usr/bin/env python3
"""Benchmark entry point for the rc_scannerspark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program together with the
harness (perfbench/build.sbt, sbt offline) once per source state, makes
the workload's inputs from the seed (perfbench/gen.py), runs one JVM with
the harness (perfbench/src), checks the outputs, and prints one JSON
object as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Build output, inputs and run
records go under $CARGO_TARGET_DIR (default .bench_build) in the
checkout. See perfbench/README.md for what each workload and metric is.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("stream_backlog", "stream_tail_live", "query_suite")
BACKLOG_EVENTS = 15000       # change events in the backlog file
STREAM_TABLES_SF = 0.1       # events/documents the changes derive from
SUITE_SF = 0.01              # query tables (fixed seed: the suite takes none)
SUITE_TABLE_SEED = 42
TAIL_RATE = 200.0            # must match TailLive.Rate
TAIL_WARM_S = 6.0            # must match TailLive.WarmS
JVM_TIMEOUT_S = 170
# Spark cores per workload. The suite at sf 0.01 is bound by per-query
# fixed costs (a pass is no faster on 4 cores) and on a shared 4-vCPU box
# its throughput spread across runs fell from 17 % to 7 % on 2; the live
# tail needs 4 to keep up with its rate.
CORES = {"stream_tail_live": 4, "query_suite": 2, "stream_backlog": 4}
FAMILIES = ("dedup", "sim", "search", "crawl", "corpus", "text", "multimodal",
            "decon", "export", "sample", "quality", "dq")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def family(name):
    head = name.split("_")[0]
    if head in FAMILIES:
        return head
    if name[0] in "defjkpqrs" and (head[1:2].isdigit() or head == "p"):
        return "qset"
    return "other"


def tail_latencies_ms(batches, sched0_ns, rate, first, last):
    """Latency (ms) of every event with offset in [first, last): the end of
    the batch that held it minus its scheduled publish time
    sched0_ns + offset / rate. `batches` rows are
    (batch_id, lo, hi, n, start_ns, end_ns) with inclusive offsets."""
    out = []
    for _, lo, hi, _, _, end in batches:
        for i in range(max(lo, first), min(hi, last - 1) + 1):
            out.append((end - (sched0_ns + int(i * 1e9 / rate))) / 1e6)
    return out


def tail_throughput(batches, sched0_ns, rate, first, last):
    """Events/s over the window: events [first, last) divided by the time
    from the first one's scheduled publish to the end of the batch that
    held the last one."""
    ends = [end for _, lo, hi, _, _, end in batches if lo <= last - 1 <= hi]
    if not ends or last <= first:
        return 0.0
    return (last - first) / ((ends[0] - (sched0_ns + int(first * 1e9 / rate))) / 1e9)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(bb):
    stamp_file = os.path.join(bb, "build.stamp")
    cp_file = os.path.join(bb, "sbt-target", "runtime-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program + harness with sbt")
    t0 = time.time()
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(bb, "sbt-target"))
    # offline resolution, as the repository's own build runs
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- inputs

def inputs(bb, workload, seed, seconds):
    import gen
    if workload == "query_suite":
        d = os.path.join(bb, "data", f"tables-sf{SUITE_SF}-{SUITE_TABLE_SEED}")
        if not os.path.exists(os.path.join(d, "done")):
            gen.tables(d, SUITE_SF, SUITE_TABLE_SEED)
            open(os.path.join(d, "done"), "w").close()
        return d
    n = BACKLOG_EVENTS if workload == "stream_backlog" \
        else int(TAIL_RATE * (TAIL_WARM_S + seconds)) + 1000
    d = os.path.join(bb, "data", f"{workload}-{seed}-{n}")
    if not os.path.exists(os.path.join(d, "done")):
        tables = os.path.join(bb, "data", f"tables-sf{STREAM_TABLES_SF}-{seed}")
        if not os.path.exists(os.path.join(tables, "done")):
            gen.tables(tables, STREAM_TABLES_SF, seed)
            open(os.path.join(tables, "done"), "w").close()
        gen.write_changes(d, tables, n, seed)
        open(os.path.join(d, "done"), "w").close()
    return d


# ---------------------------------------------------------------- jvm

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(cp, workload, data, work, seconds, trace, cores):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, data, work, raw, str(seconds),
            str(trace), str(cores)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"harness JVM timed out after {JVM_TIMEOUT_S} s")
    if not os.path.exists(raw):
        raise SystemExit(f"harness JVM exited {proc.returncode} without results")
    with open(raw) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def _norm(v):
    import datetime
    import decimal
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "~" if f != f else repr(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def fingerprint(con, sql):
    """(sorted column names, row count, order-independent hash)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(_norm(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return [sorted(cols), len(rows), h]


def check_suite(bb, raw, data):
    """Compare each query's written result with its DuckDB oracle; returns
    {query: error} for the ones that differ (oracle results are cached per
    oracle text and data)."""
    import duckdb
    with open(raw["oracle_sql"]) as f:
        sqls = json.load(f)
    key = hashlib.sha256((json.dumps(sqls, sort_keys=True) + data).encode()).hexdigest()[:16]
    cache = os.path.join(bb, "oracle", key + ".json")
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    if os.path.exists(cache):
        with open(cache) as f:
            want = json.load(f)
    else:
        want = {}
        for name, sql in sqls.items():
            try:
                want[name] = fingerprint(con, sql) if sql else "no oracle"
            except Exception as e:  # noqa: BLE001
                want[name] = f"oracle error: {e}"[:200]
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(want, f)
    bad = dict(raw.get("errors", {}))
    for name in raw["queries"]:
        if name in bad:
            continue
        if not isinstance(want.get(name), list):
            bad[name] = str(want.get(name))
            continue
        try:
            got = fingerprint(con, "SELECT * FROM read_parquet('"
                              f"{raw['check_dir']}/{name}/*.parquet')")
        except Exception as e:  # noqa: BLE001
            bad[name] = f"unreadable result: {e}"[:200]
            continue
        if got != want[name]:
            bad[name] = f"got {got[:2]} want {want[name][:2]}"
    return bad


# ---------------------------------------------------------------- metrics

def end_to_end(workload, raw):
    m = {}
    if workload == "stream_backlog":
        timed = [d for d in raw["drains"] if not d["warmup"] and not d["traced"]]
        drain = [d["drain_s"] for d in timed]
        m["throughput_per_s"] = raw["events"] / quantile(drain, 0.5)
        m["latency_p50_ms"] = quantile(drain, 0.5) * 1e3
        m["latency_p90_ms"] = quantile(drain, 0.9) * 1e3
        m["setup_s"] = quantile([d["setup_s"] for d in raw["drains"]], 0.5)
    elif workload == "stream_tail_live":
        s = raw["sessions"][0]
        first = int(raw["warm_s"] * raw["rate"])
        last = s["published"]
        lat = tail_latencies_ms(s["batches"], s["sched0_ns"], raw["rate"], first, last)
        m["throughput_per_s"] = tail_throughput(s["batches"], s["sched0_ns"],
                                                raw["rate"], first, last)
        m["latency_p50_ms"] = quantile(lat, 0.5)
        m["latency_p90_ms"] = quantile(lat, 0.9)
        m["setup_s"] = s["setup_s"]
    else:
        med = {q: quantile(ts, 0.5) for q, ts in raw["times_s"].items() if ts}
        total = sum(med.values())
        m["throughput_per_s"] = len(med) / total if total else 0.0
        m["latency_p50_ms"] = quantile(list(med.values()), 0.5) * 1e3
        m["latency_p90_ms"] = quantile(list(med.values()), 0.9) * 1e3
        m["setup_s"] = raw["warm_pass_s"]
    return m


def per_layer(workload, raw):
    layers = dict(raw.get("layers", {}))
    if workload == "stream_backlog":
        drains = [d for d in raw["drains"] if not d["warmup"]]
        plain = quantile([d["drain_s"] for d in drains if not d["traced"]], 0.5)
        traced = quantile([d["drain_s"] for d in drains if d["traced"]], 0.5)
        layers["trace.overhead_pct"] = (traced / plain - 1) * 100 if plain else 0.0
    elif workload == "stream_tail_live":
        first = int(raw["warm_s"] * raw["rate"])
        p50 = []
        for s in raw["sessions"]:
            lat = tail_latencies_ms(s["batches"], s["sched0_ns"], raw["rate"], first,
                                    s["published"])
            p50.append(quantile(lat, 0.5))
        layers["trace.overhead_pct"] = (p50[1] / p50[0] - 1) * 100 if len(p50) > 1 else 0.0
        layers["sources.publisher_max_lateness_ms"] = max(
            s["max_lateness_ms"] for s in raw["sessions"])
    else:
        med = {q: quantile(ts, 0.5) for q, ts in raw["times_s"].items() if ts}
        fam = {}
        for q, t in med.items():
            fam[family(q)] = fam.get(family(q), 0.0) + t
        for f in FAMILIES + ("qset", "other"):
            layers[f"queries.{f}_s"] = fam.get(f, 0.0)
        plain = sum(med.values())
        traced = raw.get("traced_pass_s", 0.0)
        layers["trace.overhead_pct"] = (traced / plain - 1) * 100 if plain else 0.0
    return layers


def run_all(spec, args):
    """Every workload of BENCHMARK.json in turn, each in its own process;
    prints each one's metric lines under its name and, last, one JSON
    object of all results. Non-zero when any run fails its checks."""
    results, rc = {}, 0
    for w in (x["name"] for x in spec["workloads"]):
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"{w}: {line}")
        results[w] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        rc = rc or r.returncode or (results[w] is None)
    print(json.dumps(results))
    return int(rc)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        log(f"no program sources under {ROOT}: run from the root of a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload == "all":
        return run_all(spec, args)
    bb = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bb, exist_ok=True)
    cp = build(bb)
    data = inputs(bb, args.workload, args.seed, args.seconds)
    work = os.path.join(bb, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = max(1, min(CORES[args.workload], os.cpu_count() or 1))
    try:
        raw = run_jvm(cp, args.workload, data, work, args.seconds, args.trace, cores)
        if not raw.get("ok"):
            log(f"harness failed: {raw.get('error')}")
            return 1
        failed = int(raw.get("failed", 0))
        attempted = int(raw.get("attempted", 0))
        if args.workload == "query_suite":
            bad = check_suite(bb, raw, data)
            for q, why in sorted(bad.items()):
                log(f"query {q} failed: {why}")
            attempted, failed = len(raw["queries"]), len(bad)
        if args.trace:
            layers = per_layer(args.workload, raw)
            names = [(x["name"], x["unit"]) for x in spec["per_layer"]]
            vals = {n: layers.get(n, 0.0) for n, _ in names}
            for n in sorted(set(layers) - set(vals)):  # not gated, e.g. backlog-only
                print(f"{n} = {layers[n]:.6g} (not in BENCHMARK.json)")
            if raw.get("spans_file"):
                keep = os.path.join(bb, "spans", f"{args.workload}-{args.seed}.json")
                os.makedirs(os.path.dirname(keep), exist_ok=True)
                shutil.copyfile(raw["spans_file"], keep)
                log(f"spans: {keep}")
        else:
            names = [(x["name"], x["unit"]) for x in spec["end_to_end"]]
            vals = end_to_end(args.workload, raw)
        readouts = {"load_avg": raw.get("load_avg"), "calib_ms": raw.get("calib_ms"),
                    "cores": cores, "failed_ratio": failed / max(attempted, 1)}
        if args.workload == "stream_tail_live":
            readouts["max_lateness_ms"] = [s["max_lateness_ms"] for s in raw["sessions"]]
            readouts["batches"] = [[b[3], round((b[5] - b[4]) / 1e6)]
                                   for b in raw["sessions"][0]["batches"]]
            readouts["exactly_once"] = [s["exactly_once"] for s in raw["sessions"]]
            readouts["failed_batches"] = [s["failed_batches"] for s in raw["sessions"]]
        if args.workload == "query_suite":
            passes = zip(*[ts for ts in raw["times_s"].values() if ts])
            readouts["pass_s"] = [round(sum(p), 3) for p in passes]
            readouts["query_ms"] = {q: round(quantile(ts, 0.5) * 1e3)
                                    for q, ts in raw["times_s"].items() if ts}
        log("readouts " + json.dumps(readouts))
        ok = failed == 0 and attempted >= 1
        for n, u in names:
            print(f"{n} = {vals.get(n, 0.0):.6g} {u}")
        print(json.dumps({"correct": ok, "attempted": max(attempted, 1), "failed": failed,
                          "metrics": {n: {"value": float(vals.get(n, 0.0)), "unit": u}
                                      for n, u in names}}))
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
