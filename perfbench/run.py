#!/usr/bin/env python3
"""Broker benchmark: PQL over HTTP against graft.pql.BrokerServer, end to end.

    python3 perfbench/run.py --workload broker_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the load
generator (perfbench/build.sbt) and caches the class path under
perfbench/.work; each workload's table is generated once there too.
One JVM holds a local[nproc] SparkSession, the broker and every client
thread; this script checks each answer against a DuckDB twin and prints the
metrics. --trace 0 prints the end-to-end metrics, --trace 1 replays the same
stream with spans around each layer and prints the per-layer metrics. The
last line of stdout is one JSON object; see README.md for what each metric
means and which layer it belongs to.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SETUP_REPS = 5
POLL_PAUSE_MS = 100

# clients = closed-loop readers; one freshness poller runs beside them, so
# every workload uses at most 4 HTTP client threads. gen = how new rows
# arrive: "push" drops a segment file straight into the broker's table
# directory, "stream" writes into an inbox that RealtimeIngest publishes.
WORKLOADS = {
    "broker_small": dict(clients=3, templates=workloads.small_templates, dashboard=0.5,
                         table="lineitem", gen="push", gen_rows=1000, gen_interval_ms=250),
    "ingest_fresh": dict(clients=2, templates=workloads.ingest_templates, dashboard=0.5,
                         table="events", gen="stream", gen_rows=1000, gen_interval_ms=150,
                         trigger_ms=500),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---- build -------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + load generator once per source state; returns the class path."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: run from the repository root")
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={WORK}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    cp = [ln for ln in p.stdout.splitlines()
          if not ln.startswith("[") and "perfbench" in ln and os.pathsep in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    log(f"built engine and load generator in {time.time() - t0:.1f} s")
    return cp[-1]


# ---- inputs --------------------------------------------------------------------

def heap():
    """JVM heap from MemTotal: a quarter of RAM, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, props):
    return (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false",
               "-cp", cp, "perfbench.LoadGen", props])


def write_props(path, d):
    with open(path, "w") as f:
        for k, v in d.items():
            f.write(f"{k}={v}\n")


def prepare(name, base):
    """Generate the workload's table once per checkout; returns its description."""
    done = os.path.join(base, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    shutil.rmtree(base, ignore_errors=True)
    tables = os.path.join(base, "tables")
    os.makedirs(tables)
    t0 = time.time()
    if name == "broker_small":
        rows, size = workloads.write_lineitem(os.path.join(tables, "lineitem.parquet"))
        info = {"table": "lineitem", "rows": rows, "bytes": size}
    else:
        info = {"table": "events_rt", "rows": 0, "bytes": 0}
    info["generated_s"] = round(time.time() - t0, 3)
    with open(done, "w") as f:
        json.dump(info, f)
    log(f"generated inputs for {name} in {info['generated_s']} s")
    return info


# ---- results -------------------------------------------------------------------

def read_jsonl(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def poll_values(body):
    """(count, max_seq) from a poll answer, or None if it is not a clean answer."""
    try:
        r = json.loads(body)
        if r.get("exceptions"):
            return None
        v = [a["value"] for a in r["aggregationResults"]]
        return int(v[0]), (None if v[1] in (None, "null") else int(v[1]))
    except (ValueError, KeyError, IndexError, TypeError):
        return None


def exactly_once(v, expect=None):
    """COUNT(*) equals MAX(seq)+1: every row up to the newest seen, none twice."""
    if v is None:
        return False
    count, mx = v
    ok = count == 0 if mx is None else count == mx + 1
    return ok and (expect is None or count == expect)


def rejected(body):
    return '"errorCode": 429' in body


def result_rows(body):
    try:
        r = json.loads(body)
    except ValueError:
        return 0
    if "selectionResults" in r:
        return len(r["selectionResults"]["results"])
    aggs = r.get("aggregationResults") or []
    if aggs and "groupByResult" in aggs[0]:
        return len(aggs[0]["groupByResult"])
    return 1 if aggs else 0


def metric(value, unit):
    return {"value": value, "unit": unit}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans, jobs, records, batches, files, ws, we, cfg):
    by_req = defaultdict(list)
    for s in spans:
        by_req[s["req"]].append(s)
    jobs_of = defaultdict(list)
    for j in jobs:
        if j["t1"]:
            jobs_of[j["span"]].append(j)
    acc = defaultdict(list)
    tpl_of = {r["req"]: r["tpl"] for r in records}
    jobs_by_tpl = defaultdict(lambda: [0, 0, 0])  # statements, load jobs, compile jobs
    hits = attempts = 0
    for req, ss in by_req.items():
        kids = defaultdict(list)
        for s in ss:
            kids[s["parent"]].append(s)

        def self_ms(s):
            ch = [(c["t0"], c["t1"]) for c in kids[s["id"]]]
            ch += [(j["t0"], j["t1"]) for j in jobs_of[s["id"]]]
            return stats.self_time(s["t0"], s["t1"], ch) / 1e6

        per = defaultdict(float)
        for s in ss:
            n = s["name"]
            if n == "request":
                per["request_ms"] += (s["t1"] - s["t0"]) / 1e6
            elif n == "sources.load":
                per["sources.load_ms"] += (s["t1"] - s["t0"]) / 1e6
                per["sources.load_jobs"] += len(jobs_of[s["id"]])
                per["sources.files"] += s.get("files", 0)
            else:
                per[n + "_ms"] += self_ms(s)
                if n == "pql.compile":
                    per["pql.compile_jobs"] += len(jobs_of[s["id"]])
                if n == "catalyst.optimize":
                    hits += bool(s.get("route_hit"))
                    attempts += bool(s.get("route_attempt"))
            for j in jobs_of[s["id"]]:
                per["spark.jobs"] += 1
                per["spark.tasks"] += j["tasks"]
                per["spark.sched_delay_ms"] += j["dur_ms"] - j["run_ms"]
                per["spark.task_run_ms"] += j["run_ms"]
                per["spark.gc_ms"] += j["gc_ms"]
                for k in ("scan_rows", "scan_bytes", "shuffle_write_bytes", "spill_bytes"):
                    per["spark." + k] += j[k]
        for k, v in per.items():
            acc[k].append(v)
        t = jobs_by_tpl[tpl_of.get(req)]
        t[0] += 1
        t[1] += per["sources.load_jobs"]
        t[2] += per["pql.compile_jobs"]
    log("jobs per statement by template (sources.load, pql.compile): " + ", ".join(
        f"{k} {v[1] / v[0]:.2f} {v[2] / v[0]:.2f}" for k, v in sorted(jobs_by_tpl.items(), key=str)))
    n_req = max(1, len(by_req))

    def avg(k):
        return sum(acc[k]) / n_req

    http = [(r["t1"] - r["t0"]) / 1e6 for r in records]
    transport = []
    for r in records:
        try:
            transport.append((r["t1"] - r["t0"]) / 1e6 - json.loads(r["body"])["timeUsedMs"])
        except (ValueError, KeyError):
            pass
    transport_ms = stats.median(transport) if transport else 0.0
    traced_p50 = stats.median(acc["request_ms"]) if acc["request_ms"] else 0.0
    live = [b for b in batches if ws <= b["t"] <= we and b["rows"] > 0]
    win_files = [f for f in files if ws <= f["t1"] <= we]
    m = {
        "broker.transport_ms": metric(transport_ms, "ms"),
        "broker.rejects": metric(sum(rejected(r["body"]) for r in records), "count"),
        "sources.load_ms": metric(avg("sources.load_ms"), "ms"),
        "sources.load_jobs": metric(avg("sources.load_jobs"), "count"),
        "sources.files": metric(avg("sources.files"), "count"),
        "pql.parse_ms": metric(avg("pql.parse_ms"), "ms"),
        "pql.compile_ms": metric(avg("pql.compile_ms"), "ms"),
        "pql.compile_jobs": metric(avg("pql.compile_jobs"), "count"),
        "pql.render_ms": metric(avg("pql.render_ms"), "ms"),
        "pql.result_rows": metric(mean(result_rows(r["direct_body"]) for r in records), "count"),
        "catalyst.optimize_ms": metric(avg("catalyst.optimize_ms"), "ms"),
        "catalyst.physical_ms": metric(avg("catalyst.physical_ms"), "ms"),
        "plans.route_hits": metric(hits, "count"),
        "plans.route_attempts": metric(attempts, "count"),
    }
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("sched_delay_ms", "ms"),
                    ("task_run_ms", "ms"), ("gc_ms", "ms"), ("scan_rows", "count"),
                    ("scan_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes")):
        m["spark." + k] = metric(avg("spark." + k), unit)
    m.update({
        "streaming.batches": metric(len(live), "count"),
        "streaming.batch_ms": metric(mean(b["trigger_ms"] for b in live), "ms"),
        "streaming.add_batch_ms": metric(mean(b["add_batch_ms"] for b in live), "ms"),
        "streaming.commit_ms": metric(mean(b["commit_ms"] for b in live), "ms"),
        "streaming.files_per_batch": metric(mean(b["rows"] / cfg["gen_rows"] for b in live), "count"),
        "streaming.backlog_files_max": metric(max([b["backlog_files"] for b in live], default=0),
                                              "count"),
        "gen.late_ms_max": metric(max([(f["t0"] - f["due"]) / 1e6 for f in win_files], default=0.0),
                                  "ms"),
        "trace.overhead_ms": metric(
            traced_p50 - ((stats.median(http) if http else 0.0) - transport_ms), "ms"),
    })
    return m


# ---- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    cpus = os.cpu_count()

    cp = build()
    base = os.path.join(WORK, "data", args.workload)
    inputs = prepare(args.workload, base)
    tables = os.path.join(base, "tables")
    out = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    stmts, warm = workloads.stream(cfg["templates"](), args.seed, 6000, cfg["dashboard"])
    with open(os.path.join(out, "stmts.tsv"), "w") as f:
        for s in stmts:
            f.write(f"{s.tpl}\t{s.pql}\n")
    stream_mode = cfg["gen"] == "stream"
    gen_dir = os.path.join(base, "inbox") if stream_mode else os.path.join(tables, "pushed.parquet")
    if stream_mode:
        first = ("SELECT COUNT(*) FROM events_rt", cfg["gen_rows"])
    else:
        first = (f"SELECT COUNT(*) FROM {cfg['table']}", inputs["rows"])
    props = {
        "cpus": cpus, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "clients": cfg["clients"], "work": WORK, "table": cfg["table"], "out": out, "tables": tables,
        "stmts": os.path.join(out, "stmts.tsv"), "warmup": warm, "setup_reps": SETUP_REPS,
        "first.pql": first[0], "first.expect": first[1],
        "gen.dir": gen_dir, "gen.rows": cfg["gen_rows"], "gen.interval_ms": cfg["gen_interval_ms"],
        "poll.table": "events_rt" if stream_mode else "pushed", "poll.pause_ms": POLL_PAUSE_MS,
    }
    if stream_mode:
        props.update({"stream.sink": os.path.join(tables, "events_rt.parquet"),
                      "stream.checkpoint": os.path.join(base, "checkpoint"),
                      "stream.trigger_ms": cfg["trigger_ms"]})
    if args.workload == "broker_small":
        props["rollup"] = os.path.join(base, "startree.parquet")
    write_props(os.path.join(out, "run.properties"), props)

    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"nproc={cpus} heap={heap()} clients={cfg['clients']}+1 poller")
    log(f"input: {inputs}")
    spawn_ms = int(time.time() * 1000)
    with open(os.path.join(out, "run.properties"), "a") as f:
        f.write(f"spawn_ms={spawn_ms}\n")
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(java_cmd(cp, os.path.join(out, "run.properties")),
                               stdout=jlog, stderr=subprocess.STDOUT, timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            fail("load generator did not finish in time")
    log(f"load generator ran {time.time() - spawn_ms / 1000:.1f} s")
    if p.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"load generator exited with {p.returncode}")

    with open(os.path.join(out, "info.json")) as f:
        info = json.load(f)
    records = read_jsonl(os.path.join(out, "records.jsonl"))
    polls = read_jsonl(os.path.join(out, "polls.jsonl"))
    files = read_jsonl(os.path.join(out, "files.jsonl"))
    ws, we = info["window_start"], info["window_end"]
    log(f"spark {info['spark_version']}, heap_max_bytes={info['heap_max_bytes']}, "
        f"conf: {' '.join(info['spark_conf'])}")

    # ---- correctness
    t_check = time.time()
    ref_views = {"lineitem": os.path.join(tables, "lineitem.parquet", "*.parquet"),
                 "events": os.path.join(gen_dir, "ev-*.parquet")}
    ref = check.Reference({k: v for k, v in ref_views.items() if glob.glob(v)})
    failures = Counter()
    done_at = []
    for r in records:
        st = stmts[r["i"]]
        bound = r["bound"] if "{S}" in st.pql else None
        why = None if r["status"] == 200 else f"HTTP {r['status']}"
        why = why or check.verify(ref, st, r["body"], bound)
        if why is None and r["direct_body"] is not None:
            why = check.verify(ref, st, r["direct_body"], bound)
        if why:
            failures[f"{st.tpl}: {why}"] += 1
        elif r["t1"] <= we:
            done_at.append(r["t1"])
    win_polls = [q for q in polls if ws <= q["t0"] <= we]
    bad_polls = sum(not exactly_once(poll_values(q["body"])) for q in win_polls)
    if bad_polls:
        failures["freshness poll: COUNT(*) != MAX(seq)+1 or error"] += bad_polls
    fin = info["final"]
    gen_files = glob.glob(os.path.join(gen_dir, "ev-*.parquet"))
    log(f"generated events: {fin['expect_rows']} rows in {len(gen_files)} files, "
        f"{sum(os.path.getsize(f) for f in gen_files)} bytes")
    if not exactly_once(poll_values(fin["body"]), fin["expect_rows"]):
        failures[f"final exactly-once check: {fin['body'][:200]} vs {fin['expect_rows']} rows"] += 1
    attempted = len(records) + len(win_polls) + 1
    failed = sum(failures.values())
    for why, n in failures.most_common(10):
        log(f"FAILED x{n}: {why}")
    log(f"error_rate = {failed}/{attempted} = {failed / attempted:.6f}")
    log("statements per template: " + json.dumps(dict(sorted(Counter(
        stmts[r["i"]].tpl for r in records).items()))))

    # ---- metrics
    lat = [(r["t1"] - r["t0"]) / 1e6 for r in records]
    if not lat:
        fail("no statement completed in the window")
    seen = sorted(((q["t1"], poll_values(q["body"])) for q in polls), key=lambda x: x[0])
    fresh = []
    for f in files:
        if ws <= f["t1"] <= we:
            hit = next((t for t, v in seen if t >= f["t1"] and v and v[1] is not None
                        and v[1] >= f["hi"]), None)
            if hit is not None:
                fresh.append((hit - f["t1"]) / 1e6)
    if not fresh:
        fail("no generated file became visible in the window")
    tail = stats.tail_percentile(len(lat))
    log(f"statements n={len(lat)}, highest percentile with >=10 samples beyond: p{tail}; "
        f"files n={len(fresh)} (tail p{stats.tail_percentile(len(fresh))})")
    log(f"set-up repetitions (s): {info['setup_s']}; window {(we - ws) / 1e9:.1f} s after "
        f"{(ws - info['spawn_ns']) / 1e9:.1f} s; answers checked in {time.time() - t_check:.1f} s")

    if args.trace == 0:
        metrics = {
            "setup_s": metric(stats.median(info["setup_s"]), "s"),
            "query_p50_ms": metric(stats.median(lat), "ms"),
            # p75: the highest percentile with at least 10 samples beyond it
            # at the 40-150 statements a run completes on either workload
            "query_p75_ms": metric(stats.nearest_rank(lat, 75.0), "ms"),
            # completions over the time they took, not over the fixed window,
            # so the rate does not move in steps of 1/window
            "qps": metric(len(done_at) / ((max(done_at, default=we) - ws) / 1e9), "1/s"),
            "freshness_p50_ms": metric(stats.median(fresh), "ms"),
            "freshness_p90_ms": metric(stats.nearest_rank(fresh, 90.0), "ms"),
        }
    else:
        metrics = layer_metrics(read_jsonl(os.path.join(out, "spans.jsonl")),
                                read_jsonl(os.path.join(out, "jobs.jsonl")), records,
                                read_jsonl(os.path.join(out, "batches.jsonl")), files, ws, we, cfg)
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
