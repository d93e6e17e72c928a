#!/usr/bin/env python3
"""graft end-to-end benchmark: one run of one workload.

    python3 perfbench/run.py --workload pipeline_large --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repo root. The first run builds the engine and the harness with
sbt into the checkout (`target/`, `perfbench/target/`) and records the launch
classpath in `.bench_build/`; later runs start the harness JVM directly.
Inputs are generated per seed under `.bench_build/inputs/`, and each run's
record (seed, commit, nproc, loadavg, versions, mutated session confs, every
metric) lands in `.bench_build/runs/`. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. See README.md.
"""
import argparse
import collections
import fcntl
import functools
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
sys.path.insert(0, HERE)

# An odd number of members: the median warm execution is then the middle
# member's own time, not a blend of two members' times.
PIPELINE_LARGE = ["q85_minhash_dedup", "qf8_exact_substr_dedup", "qfa_exact_substr_index"]
STREAM_QUERIES = {"q95_stream_over_running": "event_id", "q97_stream_cep_seq": "id_purchase"}

# Input scale of each workload; `smoke` is the small variant of --smoke.
CONFIG = {
    "pipeline_large": {"sf": 0.01, "k": 2, "parts": 8},
    "events_stream": {"sf": 0.01, "per_file": 20, "rate": 10.0, "backlog": 30, "drains": 5},
}
SMOKE = {
    "pipeline_large": {"sf": 0.001, "k": 2, "parts": 4},
    "events_stream": {"sf": 0.001, "per_file": 10, "rate": 10.0, "backlog": 5, "drains": 1},
}
# Warm passes of pipeline_large per run, at least: round_s and the query
# quantiles are medians over them.
MIN_WARM = 2
JVM_HEAP = "3g"
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "first_round_s": "s", "round_s": "s",
              "query_p50_s": "s", "query_p90_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "compose_s": "s", "compose_jobs": "count",
    "scan_bytes": "bytes", "scan_rows": "count",
    "sql_executions": "count", "plan_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "core_idle_s": "s",
    "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s", "cpu_frac": "ratio",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "cache_put_bytes": "bytes", "output_bytes": "bytes", "output_records": "count",
    "batches": "count", "state_rows": "count", "state_mem_bytes": "bytes",
    "late_rows": "count", "traced_round_s": "s", "traced_query_p50_s": "s",
}
# Recorded by the traced run but not printed: times that are structurally 0
# on a workload (micro-batch phases outside events_stream, fetch wait in
# local mode). They stay in the run record and the trace.
RECORDED_ONLY = ("batch_s", "add_batch_s", "batch_plan_s", "batch_log_s",
                 "state_commit_s", "shuffle_fetch_wait_s")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@functools.lru_cache(maxsize=None)
def source_stamp():
    """sha1 over the engine and harness sources and build files."""
    h = hashlib.sha1()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit():
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + source_stamp()[:12]


def build():
    """Compile engine + harness once per source state; returns the java argv."""
    os.makedirs(BUILD, exist_ok=True)
    launch, stamp_file = os.path.join(BUILD, "launch.txt"), os.path.join(BUILD, "launch.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
                 and open(stamp_file).read() == stamp)
        if not fresh:
            log("building engine and harness with sbt (first run in this checkout)")
            t0 = time.time()
            with open(os.path.join(BUILD, "build.log"), "w") as blog:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                     "-Dsbt.server.forcestart=false", "launch"],
                                    cwd=HERE, stdout=blog, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL).returncode
            if rc != 0:
                raise SystemExit(f"sbt build failed (rc={rc}); see .bench_build/build.log")
            with open(stamp_file, "w") as f:
                f.write(stamp)
            log(f"build took {time.time() - t0:.1f} s")
    lines = open(launch).read().split("\n")
    cp, opts = lines[0], [x for x in lines[1:] if x]
    return ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + opts + ["-cp", cp, "graftbench.Main"]


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default rule)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(argv, args, work, deadline):
    out = os.path.join(work, "records.jsonl")
    kv = dict(args, out=out, work=work)
    cmd = (argv[:1] + [f"-Djava.io.tmpdir={work}/tmp"] + argv[1:]
           + [f"{k}={v}" for k, v in kv.items()])
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
        stem = os.path.join(BUILD, "runs", f"failed-{int(time.time())}")
        shutil.copy(os.path.join(work, "jvm.log"), stem + ".log")
        if os.path.exists(out):
            shutil.copy(out, stem + ".jsonl")
    if rc is None:
        raise SystemExit("harness JVM exceeded the run deadline")
    records = []
    if os.path.exists(out):
        with open(out) as f:
            records = [json.loads(line) for line in f if line.strip()]
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise SystemExit(f"harness JVM failed (rc={rc}):\n{tail}")
    return records


def by_type(records, t):
    return [r for r in records if r["type"] == t]


def digest(r):
    return [r["count"], r["lo"], r["hi"]]


def gate_batch(workload, cfg, records, input_dir):
    """Verified digest per member; DuckDB-checks the freshly written gates."""
    verified, reasons = {}, {}
    cache = gate_cache_path(workload, cfg)
    if os.path.exists(cache):
        verified = json.load(open(cache))
    gates = by_type(records, "gate")
    if gates:
        import oracle
        con = oracle.connect(input_dir)
        for g in gates:
            m = g["member"]
            if "error" in g:
                reasons[m] = g["error"]
                continue
            if g.get("oracle") is None:
                reasons[m] = "no oracle SQL"
                continue
            why, _, _ = oracle.compare(REPO, con, g["oracle"], g["path"])
            if why is None:
                verified[m] = digest(g)
            else:
                reasons[m] = why
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(verified, f)
        os.replace(tmp, cache)
    return verified, reasons


def gate_cache_path(workload, cfg):
    """pipeline_large's seeds only shuffle rows (see gen.py), so the digests
    verified on one seed hold for every seed of that scale, as long as the
    sources are unchanged: a changed tree is checked against the oracle
    again."""
    key = "-".join(f"{k}{v}" for k, v in sorted(cfg.items()))
    return os.path.join(BUILD, "gate", f"{workload}-{key}-{source_stamp()[:16]}.json")


def batch_metrics(records, verified, trace):
    setup = by_type(records, "setup")[0]
    execs, passes = by_type(records, "exec"), by_type(records, "pass")
    failed = [e for e in execs if "error" in e or verified.get(e["member"]) != digest(e)]
    warm_exec = [e["compose_s"] + e["action_s"] for e in execs if e["pass"] > 0]
    warm_pass = [p["wall_s"] for p in passes if p["pass"] > 0]
    m = {
        "setup_s": setup["boot_s"] + setup["setup_s"],
        "first_round_s": next(p["wall_s"] for p in passes if p["pass"] == 0),
        "round_s": statistics.median(warm_pass),
        "query_p50_s": statistics.median(warm_exec),
        "query_p90_s": quantile(warm_exec, 0.9),
    }
    if trace:
        layers = collections.defaultdict(list)
        for p in passes:
            if p["pass"] > 0:
                pe = [e for e in execs if e["pass"] == p["pass"]]
                row = dict(p["layers"], compose_s=sum(e["compose_s"] for e in pe),
                           core_idle_s=sum(e.get("core_idle_s") or 0.0 for e in pe))
                for k, v in row.items():
                    layers[k].append(v)
        m.update({k: statistics.median(v) for k, v in layers.items()})
    return m, len(execs), len(failed), failed


def member_times(records):
    """Per member: the cold execution and the warm median (compose, action)."""
    out = {}
    for e in by_type(records, "exec"):
        t = out.setdefault(e["member"], {"cold_s": None, "warm": []})
        pair = [e["compose_s"], e["action_s"]]
        if e["pass"] == 0:
            t["cold_s"] = pair
        else:
            t["warm"].append(pair)
    for t in out.values():
        w = t.pop("warm")
        t["warm_compose_s"] = statistics.median(c for c, _ in w) if w else None
        t["warm_action_s"] = statistics.median(a for _, a in w) if w else None
    return out


def stream_latencies(st, sinks):
    """Per released file: due time of its release -> end of the sink batch
    after which both queries' output for the file is complete (StreamLoop)."""
    batches = {q: sorted((s["end_ns"], s["watermark_ms"]) for s in sinks
                         if s["query"] == q and s["watermark_ms"] is not None)
               for q in STREAM_QUERIES}
    lat = {}
    for f, t in st["due_ns"].items():
        ends = [next((e for e, wm in b if wm >= st["max_ts_ms"][f]), None)
                for b in batches.values()]
        lat[f] = None if None in ends else (max(ends) - t) / 1e9
    return lat


def gate_stream(records, input_dir, per_file):
    """Files whose rows differ from the oracle's, over both queries."""
    import oracle
    con = oracle.connect(input_dir)
    bad, reasons = set(), {}
    for g in by_type(records, "gate"):
        why, sr, dr = oracle.compare(REPO, con, g["oracle"], g["path"])
        if why is None:
            continue
        reasons[g["member"]] = why
        if sr is None:
            return None, reasons
        import pyarrow.parquet as pq
        cols = sorted(pq.read_schema(g["path"]).names)
        i = cols.index(STREAM_QUERIES[g["member"]])
        per = collections.Counter()
        for row in sr:
            per[(row[i] // per_file, row)] += 1
        for row in dr:
            per[(row[i] // per_file, row)] -= 1
        mine = {f for (f, _), n in per.items() if n}
        if not mine:  # a mismatch no file can be blamed for fails them all
            return None, reasons
        bad |= mine
    return bad, reasons


def stream_metrics(records, input_dir, per_file, trace):
    setup = by_type(records, "setup")[0]
    st = by_type(records, "stream")[0]
    lat = stream_latencies(st, by_type(records, "sink"))
    names = sorted(st["released_ns"])
    bad, reasons = gate_stream(records, input_dir, per_file)
    failed = [f for i, f in enumerate(names)
              if lat[f] is None or bad is None or i in bad]
    rated = [lat[f] for f in names[1:1 + st["rated"]] if lat[f] is not None]
    m = {
        "setup_s": setup["boot_s"] + setup["setup_s"],
        "first_round_s": lat[names[0]],
        "round_s": statistics.median(st["drain_s"]),
        "query_p50_s": statistics.median(rated),
        "query_p90_s": quantile(rated, 0.9),
    }
    if trace:
        layers = by_type(records, "stream_layers")[0]["layers"]
        m.update(layers)
        m["compose_s"] = st["compose_s"]
        m["core_idle_s"] = by_type(records, "env")[0]["cpus"] * st["rated_s"] - layers["exec_run_s"]
    lag = [st["released_ns"][f] - st["due_ns"][f] for f in names[1:1 + st["rated"]]]
    return m, len(names), len(failed), {
        "failed_files": failed, "gate": reasons, "latency_s": [lat[f] for f in names],
        "drain_events_per_s": st["drain_files"] * per_file / statistics.median(st["drain_s"]),
        "release_lag_max_s": max(lag) / 1e9, "release_lag_median_s": statistics.median(lag) / 1e9}


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_frac(t0, t1):
    """Share of CPU time the hypervisor took from this machine in between."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total else 0.0


def one_run(workload, seed, seconds, trace, cfg, argv, deadline, min_warm=MIN_WARM):
    import gen
    t_start = time.time()
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    if workload == "events_stream":
        rated = max(1, int(round(seconds * cfg["rate"])))
        cfg = dict(cfg, files=1 + rated + cfg["drains"] * cfg["backlog"])
    input_dir = gen.build_input(os.path.join(BUILD, "inputs"), workload, seed, cfg)
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = os.cpu_count()
    args = {"cpus": cpus, "seed": seed, "seconds": seconds, "trace": trace,
            "input": input_dir,
            "gate_dir": os.path.join(work, "gate"), "trace_out": os.path.join(work, "trace.jsonl")}
    try:
        if workload == "events_stream":
            args.update(mode="stream", rated=rated, rate=cfg["rate"], backlog=cfg["backlog"])
            records = run_jvm(argv, args, work, deadline)
            m, attempted, failed, detail = stream_metrics(
                records, input_dir, cfg["per_file"], trace)
        else:
            cached = gate_cache_path(workload, cfg)
            known = json.load(open(cached)) if os.path.exists(cached) else {}
            args.update(mode="batch", members=",".join(PIPELINE_LARGE), min_warm=min_warm,
                        gate=",".join(x for x in PIPELINE_LARGE if x not in known))
            records = run_jvm(argv, args, work, deadline)
            verified, reasons = gate_batch(workload, cfg, records, input_dir)
            m, attempted, failed, bad = batch_metrics(records, verified, trace)
            detail = {"gate": reasons, "failed_execs": [
                (e["member"], e["pass"], e.get("error", "digest differs")) for e in bad],
                "members": member_times(records),
                "pass_wall_s": [p["wall_s"] for p in by_type(records, "pass")]}
        end = by_type(records, "end")[0]
        m["peak_rss_mb"] = (end["peak_native_kb"] + end["peak_heap_after_gc_kb"]) / 1024.0
        if trace:
            m["traced_round_s"] = m["round_s"]
            m["traced_query_p50_s"] = m["query_p50_s"]
            for k in (*PER_LAYER, *RECORDED_ONLY):
                m.setdefault(k, 0)
            m["cpu_frac"] = m["exec_cpu_s"] / m["exec_run_s"] if m["exec_run_s"] else 0.0
        env = by_type(records, "env")[0]
        record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                  "config": cfg, "commit": commit(), "nproc": cpus,
                  "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
                  "cpu_steal_frac": steal_frac(ticks_start, cpu_ticks()),
                  "spark": env["spark"], "java": env["java"], "jvm": env["jvm"],
                  "session_confs": end["confs"], "wall_s": time.time() - t_start,
                  "vmhwm_mb": end["vmhwm_kb"] / 1024.0,
                  "peak_native_mb": end["peak_native_kb"] / 1024.0,
                  "peak_heap_after_gc_mb": end["peak_heap_after_gc_kb"] / 1024.0,
                  "attempted": attempted, "failed": failed, "detail": detail, "metrics": m}
        os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
        stem = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{int(t_start)}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if trace and os.path.exists(args["trace_out"]):
            shutil.copy(args["trace_out"], stem + ".trace.jsonl")
        if failed:
            log(f"{failed}/{attempted} failed: {json.dumps(detail)[:2000]}")
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(record):
    names = PER_LAYER if record["trace"] else END_TO_END
    metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in names.items()}
    return json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                       "failed": record["failed"], "metrics": metrics})


def smoke(argv):
    """Every workload at the smoke scale, untraced and traced; checks that
    each run is correct and prints every metric with its name and unit."""
    problems = []
    for w, cfg in SMOKE.items():
        for trace in (0, 1):
            t0 = time.time()
            rec = one_run(w, 1, 2, trace, cfg, argv, time.time() + DEADLINE_S, min_warm=1)
            line = json.loads(result_line(rec))
            want = PER_LAYER if trace else END_TO_END
            for k, unit in want.items():
                got = line["metrics"].get(k)
                if not (isinstance(got, dict) and got.get("unit") == unit
                        and isinstance(got.get("value"), (int, float))):
                    problems.append(f"{w} trace={trace}: metric {k} missing or malformed")
            if set(line["metrics"]) != set(want):
                problems.append(f"{w} trace={trace}: unexpected metrics")
            if not line["correct"]:
                problems.append(f"{w} trace={trace}: {line['failed']}/{line['attempted']} failed")
            log(f"smoke {w} trace={trace}: {time.time() - t0:.1f} s, {line}")
    for p in problems:
        log(f"SMOKE FAIL {p}")
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="all workloads at the smallest scale, with the oracle "
                         "gate and a traced run; checks the metric format")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(REPO, need)):
            log(f"missing {need}: run from the root of a graft checkout")
            return 2
    argv = build()
    if a.smoke:
        return smoke(argv)
    if a.workload is None:
        ap.error("--workload is required")
    # the first run in a checkout also builds; the run's own deadline
    # starts once the harness is ready
    deadline = max(deadline, time.time() + DEADLINE_S - 30)
    record = one_run(a.workload, a.seed, a.seconds, a.trace, CONFIG[a.workload], argv, deadline)
    print(result_line(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
