#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

    python3 graftbench/run.py --workload route|curate|queries --seed N \
        --seconds S --trace 0|1

Builds the program from source (graftbench/build.sbt compiles
../src/main/scala with the benchmark's own code), generates the
workload's inputs from the seed, runs one JVM at the stated core count
(SPARK_GRAFT_CPUS, default: the CPUs this process may use), checks the
outputs, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Exits non-zero when a build, a run or an output check
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("route", "curate", "queries")
DEFAULT_SEED = 1  # seed 7 is the holdout: never used while tuning
JVM_HEAP = "2g"
JVM_LIMIT_S = 165
BUILD_LIMIT_S = 840
# The tail percentile reported next to the median: the highest with at
# least ten samples beyond it at the workload's guaranteed sample count
# (route: >= 1000 latencies). Curate (>= 3 micro-batches) and queries
# (>= 3 passes) have too few samples for any, so their tail is the
# slowest operation; it is reported, not gated.
TAIL = {"route": 99.0, "curate": 100.0, "queries": 100.0}
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, env, timeout, log):
    """Run a command in its own process group; kill the group if it
    outlives `timeout` or this process is stopped. Output goes to `log`.
    Returns the exit code."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    with open(path, "rb") as f:
        return b"\n".join(f.read().splitlines()[-n:]).decode("utf-8", "replace")


# ---------------------------------------------------------------- build

def source_files():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compile once per source tree; reuse while the sources are equal."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found (src/main/scala/graft); "
             "run from the root of a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    bdir = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read(), digest
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, env, BUILD_LIMIT_S, log)
    with open(log, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        print(tail(log), file=sys.stderr)
        fail("build failed (exit %d)" % rc)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cps[-1].strip(), digest


# ------------------------------------------------------------- end to end

def tail_of(values, workload):
    p = TAIL[workload]
    return p, stats.percentile(values, p)


def end_to_end(w, p):
    """The end-to-end metrics, named alike on every workload: the gated
    ones (set-up CPU time, CPU cost per message, document or query
    execution, peak heap) and the wall-clock ones, which are printed but
    not gated because CPU steal on a shared host swings them by a third
    between runs. Latency is per operation: a message from due to arrival
    (route), a pushed micro-batch until the consumer is done (curate), one
    pass over the query list (queries). Closed-loop throughput and CPU
    cost are taken at the median of the timed batches or passes, whose
    number depends on --seconds only, so one micro-batch or pass that a
    burst of JIT compilation or GC hits does not swing them."""
    if w == "route":
        lat, thr = p["latency_ms"], stats.median(p["drain_msgs_per_s"])
        cpu = stats.median(p["cpu_ms"])
    elif w == "curate":
        lat = p["batch_ms"]
        thr = p["docs_per_batch"] / (stats.median(lat) / 1000.0)
        ops = p["docs_per_batch"] * len(p["cpu_ms"])
        cpu = stats.median(p["cpu_ms"]) / p["docs_per_batch"]
    else:
        per = {}
        for t in p["timings"]:
            per[t["pass"]] = per.get(t["pass"], 0.0) + t["wall_ms"]
        lat = list(per.values())
        per_pass = len(p["timings"]) / len(per)
        thr = per_pass / (stats.median(lat) / 1000.0)
        ops = len(p["timings"])
        cpu = stats.median(p["cpu_ms"]) / per_pass
    tp, tv = tail_of(lat, w)
    jvm = {} if w == "route" else {"jit_cpu_ms_per_op": (sum(p["jit_ms"]) / ops, "ms"),
                                   "gc_cpu_ms_per_op": (sum(p["gc_ms"]) / ops, "ms")}
    return {
        "setup_s": (p["setup"]["cpu_s"], "s"),
        "cpu_ms_per_op": (cpu, "ms"),
        "mem_peak_mb": (p["mem_peak_mb"], "MB"),
    }, {
        "setup_wall_s": (p["setup"]["wall_s"], "s"),
        "setup_jit_cpu_s": (p["setup"]["jit_cpu_s"], "s"),
        "warmup_s": (p["warmup_s"], "s"),
        "throughput_per_s": (thr, "1/s"),
        "latency_p50_ms": (stats.percentile(lat, 50), "ms"),
        "latency_tail_ms": (tv, "ms"),
        "latency_tail_pct": (tp, "pct"),
        "latency_samples": (len(lat), "count"),
        **jvm,
    }


def queries_groups(p):
    """Median over timed passes of each group's summed wall time."""
    per = {}
    for t in p["timings"]:
        per.setdefault((t["group"], t["pass"]), 0.0)
        per[(t["group"], t["pass"])] += t["wall_ms"] / 1000.0
    out = {}
    for g in ("tail", "cep", "dedup"):
        out["queries.%s_s" % g] = stats.median([v for (gg, _), v in per.items() if gg == g])
    totals = {}
    for (_, n), v in per.items():
        totals[n] = totals.get(n, 0.0) + v
    out["queries.total_s"] = stats.median(list(totals.values()))
    return out


# ---------------------------------------------------------------- checks

def check_route(p):
    f = stats.delivery_failures([tuple(s) for s in p["sent"]],
                                [tuple(a) for a in p["arrived"]])
    reasons = ["%d %s" % (v, k) for k, v in f.items() if k != "failed" and v]
    return len(p["sent"]), f["failed"], reasons


def check_curate(p):
    """Outcomes against the generator's planted truth."""
    truth = {t[0]: t for t in p["truth"]}
    seen = {}
    for o in p["outcomes"]:
        seen.setdefault(o[0], []).append(o)
    bad, reasons = set(), []

    def flag(ids, why):
        ids = set(ids) - bad
        if ids:
            bad.update(ids)
            reasons.append("%d %s" % (len(ids), why))

    flag([i for i, t in truth.items() if t[2] in ("exact", "short") and i in seen],
         "planted exact duplicates or short docs were not dropped")
    flag([i for i, t in truth.items() if t[2] not in ("exact", "short") and i not in seen],
         "docs lost before routing")
    flag([i for i, os_ in seen.items() if len(os_) > 1], "docs delivered more than once")
    flag([i for i in seen if i not in truth], "unknown docs arrived")
    flag([i for i, os_ in seen.items() if not os_[0][2]], "docs still carry planted PII")
    flag([i for i, os_ in seen.items() if os_[0][3] and truth.get(i, (0, 0, ""))[2] != "near"],
         "docs dropped as near-duplicates without a planted twin")
    # domain quota: after each batch, no domain holds more than
    # floor(3N / 2D) admissions (N docs offered so far, D domains)
    adm_by_batch = {}
    for o in p["outcomes"]:
        if o[4]:
            adm_by_batch.setdefault(o[5], []).append(o[0])
    offered = sorted(p["offered"], key=lambda x: x[0])
    n, domains, admitted = 0, set(), {}
    for batch, docs in offered:
        n += len(docs)
        domains.update(d for _, d in docs)
        dom = dict((i, d) for i, d in docs)
        for i in adm_by_batch.get(batch, []):
            if i not in dom:
                flag([i], "admitted docs that were not offered")
                continue
            admitted[dom[i]] = admitted.get(dom[i], 0) + 1
        cap = (3 * n) // (2 * len(domains))
        over = [d for d, c in admitted.items() if c > cap]
        if over:
            reasons.append("batch %d: domains over the quota cap %d: %s" % (batch, cap, over[:3]))
            bad.add(("quota", batch))
    return len(truth), len(bad), reasons


def canon(con, sql):
    """Rows as sorted tuples over name-sorted columns, floats to 6 dp."""
    t = con.execute(sql).fetch_arrow_table()
    cols = sorted(t.column_names)

    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v
    rows = sorted((tuple(norm(r[c]) for c in cols) for r in t.to_pylist()), key=repr)
    return cols, hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows)


def check_queries(p, tables):
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(tables):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (f[:-len(".parquet")], os.path.join(tables, f)))
    bad, reasons = set(), []
    names = sorted({t["name"] for t in p["timings"]})
    for name in names:
        out = "SELECT * FROM read_parquet('%s/*.parquet')" % os.path.join(p["outputs"], name)
        try:
            got = canon(con, out)
            if name in p["oracle"]:
                want = canon(con, p["oracle"][name])
                if got[:2] != want[:2]:
                    bad.add(name)
                    reasons.append("%s: output hash differs from DuckDB (%d vs %d rows)"
                                   % (name, got[2], want[2]))
            elif got[2] != p["recount"][name]:
                bad.add(name)
                reasons.append("%s: %d rows, then %d on a second run"
                               % (name, got[2], p["recount"][name]))
        except Exception as e:  # an unreadable output is a failed check
            bad.add(name)
            reasons.append("%s: %s" % (name, str(e).splitlines()[0][:200]))
    failed = sum(1 for t in p["timings"] if t["name"] in bad)
    return len(p["timings"]), failed, reasons


# ------------------------------------------------------------- per layer

def in_window(p, t):
    return p["window"]["start"] <= t <= p["window"]["end"]


def build_spans(p):
    """Benchmark spans plus spans derived from progress reports (trigger
    → durationMs phases) and listener events (job → stages)."""
    spans = {s["id"]: dict(s) for s in p["spans"]}
    bench = [s for s in spans.values() if s["layer"] == "bench"]

    def enclosing(t):
        best = None
        for s in bench:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else 0

    add_batch = {}
    for pr in p["progress"]:
        total = pr["durations"].get("triggerExecution", 0)
        layer = "router" if pr["name"].startswith("graft-") else "consumer"
        tid = "t:%s:%d" % (pr["query"], pr["batch"])
        spans[tid] = {"id": tid, "parent": enclosing(pr["start"]), "layer": layer,
                      "name": "trigger:" + pr["name"], "start": pr["start"],
                      "end": pr["start"] + total}
        at = pr["start"]
        for k in ("latestOffset", "getOffset", "setOffsetRange", "getEndOffset",
                  "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            if k in pr["durations"]:
                sid = tid + ":" + k
                d = pr["durations"][k]
                spans[sid] = {"id": sid, "parent": tid, "layer": layer, "name": k,
                              "start": at, "end": at + d}
                at += d
                if k == "addBatch":
                    add_batch[(pr["query"], str(pr["batch"]))] = sid
    # calls the benchmark makes inside the consumer's foreachBatch belong
    # under that trigger's addBatch phase
    consumer_adds = [x for x in spans.values() if x["name"] == "addBatch"
                     and x["layer"] == "consumer"]
    for b in [x for x in spans.values() if x["layer"] == "streaming"]:
        inside = [x for x in consumer_adds if x["start"] - 1 <= b["start"] and b["end"] <= x["end"] + 1]
        if inside:
            b["parent"] = inside[0]["id"]
    stages = {}
    for s in p["stages"]:
        stages.setdefault(s["job"], []).append(s)
    for j in p["jobs"]:
        g = j["group"][5:] if j["group"].startswith("span:") else None
        if g is not None and int(g) in spans:
            parent = int(g)
        else:
            parent = add_batch.get((j["query"], j["batch"])) or enclosing(j["start"])
        end = j["end"] if j["end"] is not None else j["start"]
        jid = "j:%d" % j["id"]
        spans[jid] = {"id": jid, "parent": parent, "layer": "spark",
                      "name": "job", "start": j["start"], "end": end}
        for s in stages.get(j["id"], []):
            sid = "s:%d" % s["id"]
            spans[sid] = {"id": sid, "parent": jid, "layer": "spark", "name": "stage",
                          "start": s["start"], "end": s["end"]}
    return spans


def self_times(spans):
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans.values():
        st = stats.self_time((s["start"], s["end"]), kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + st
    return out


def p50(xs):
    return stats.percentile(xs, 50) if xs else 0.0


def streaming_layers(p, handler):
    """router.* and consumer.* from the handler's and the consumer's
    progress reports inside the measured window."""
    win_ms = p["window"]["end"] - p["window"]["start"]
    prog = [x for x in p["progress"] if in_window(p, x["start"])]
    h = [x for x in prog if x["name"] == handler and x["rows"] > 0]
    c = [x for x in prog if x["name"] == "bench-consumer" and x["rows"] > 0]
    jobs = {}
    for j in p["jobs"]:
        jobs.setdefault((j["query"], j["batch"]), []).append(j)
    st_by_job = {}
    for s in p["stages"]:
        st_by_job.setdefault(s["job"], []).append(s)

    def d(k, xs=h):
        return [x["durations"].get(k, 0) for x in xs]
    hj = [jobs.get((x["query"], str(x["batch"])), []) for x in h]
    trig = d("triggerExecution")
    tp = stats.tail_percentile(len(trig)) or 50.0
    out = {
        "router.trigger_ms_p50": p50(trig),
        "router.trigger_ms_tail": stats.percentile(trig, tp) if trig else 0.0,
        "router.trigger_tail_pct": tp,
        "router.latest_offset_ms_p50": p50(d("latestOffset")),
        "router.planning_ms_p50": p50(d("queryPlanning")),
        "router.wal_commit_ms_p50": p50(d("walCommit")),
        "router.add_batch_ms_p50": p50(d("addBatch")),
        "router.commit_offsets_ms_p50": p50(d("commitOffsets")),
        "router.batches": len(h),
        "router.rows_per_batch_p50": p50([x["rows"] for x in h]),
        "router.idle_frac": 1.0 - sum(trig) / win_ms,
        "router.jobs_per_batch": sum(len(js) for js in hj) / max(1, len(h)),
        "router.tasks_per_batch": sum(s["tasks"] for js in hj for j in js
                                      for s in st_by_job.get(j["id"], [])) / max(1, len(h)),
        "consumer.trigger_ms_p50": p50(d("triggerExecution", c)),
    }
    # Drizzle's split of a micro-batch: compute = time inside its Spark
    # jobs, coordination = the rest of the trigger
    comp = [stats.union_length([(j["start"], j["end"] or j["start"]) for j in js]) for js in hj]
    coord = [t - c_ for t, c_ in zip(trig, comp)]
    sums = [(sum(v for k, v in x["durations"].items() if k != "triggerExecution"),
             x["durations"].get("triggerExecution", 0)) for x in h + c]
    ok = [abs(s - t) <= 0.1 * t for s, t in sums if t > 0]
    return out, comp, coord, {"phase_sum_within_10pct": sum(ok), "triggers": len(ok)}


def per_layer(w, passes):
    role = {p["role"]: p for p in passes}
    p1 = role["traced"]
    win_ms = p1["window"]["end"] - p1["window"]["start"]
    jobs = [j for j in p1["jobs"] if in_window(p1, j["start"])]
    ids = {j["id"] for j in jobs}
    stg = [s for s in p1["stages"] if s["job"] in ids]
    ops = p1["ops"]
    skew = [s["task_max_ms"] / s["task_median_ms"] for s in stg
            if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    if w in ("route", "curate"):
        layers, comp, coord, extra = streaming_layers(p1, "graft-" + w)
    else:
        spans = {s["id"]: s for s in p1["spans"]}
        by_q = {}
        for j in p1["jobs"]:
            if j["group"].startswith("span:"):
                s = spans.get(int(j["group"][5:]))
                if s is not None and s["name"] in ("build", "execute"):
                    by_q.setdefault(s["parent"], []).append(j)
        qspans = [s for s in p1["spans"] if s["layer"] == "queries"
                  and s["attrs"].get("pass", 0) > 0]
        layers, extra = queries_layers(p1, qspans, by_q)
    if w != "route":  # closed loop: split each operation as the user sees it
        units = [s for s in p1["spans"] if s["name"] == "batch"
                 or (s["layer"] == "queries" and s["attrs"].get("pass", 0) > 0)]
        comp = [stats.union_length([(max(u["start"], j["start"]), min(u["end"], j["end"] or j["start"]))
                                    for j in p1["jobs"]]) for u in units]
        coord = [(u["end"] - u["start"]) - c_ for u, c_ in zip(units, comp)]
    st = self_times(build_spans(p1))
    thr = {r: end_to_end(w, x)[1]["throughput_per_s"][0] for r, x in role.items()}
    common = {
        "setup.session_s": (role["traced"]["session_s"], "s"),
        "spark.jobs_per_op": (len(jobs) / ops, "count"),
        "spark.stages_per_op": (len(stg) / ops, "count"),
        "spark.tasks_per_op": (sum(s["tasks"] for s in stg) / ops, "count"),
        "spark.busy_frac": (sum(s["run_ms"] for s in stg) / (win_ms * p1["cores"]), "frac"),
        "spark.shuffle_write_kb_per_op": (sum(s["shuffle_write_bytes"] for s in stg) / 1024.0 / ops, "KB"),
        "spark.task_max_over_median": (stats.median(skew) if skew else 1.0, "ratio"),
        "spark.compute_ms_p50": (p50(comp), "ms"),
        "driver.coord_ms_p50": (p50(coord), "ms"),
        "spark.cores_speedup": (thr["traced"] / thr["single"], "ratio"),
        "trace.overhead_frac": ((thr["untraced"] - thr["traced"]) / thr["untraced"], "frac"),
    }
    if "jit_ms" in p1:
        common["jvm.jit_cpu_ms_per_op"] = (sum(p1["jit_ms"]) / ops, "ms")
    detail = dict(layers)
    detail["spark.spill_kb_per_op"] = sum(s["spill_bytes"] for s in stg) / 1024.0 / ops
    detail.update({"self_ms." + k: v for k, v in sorted(st.items())})
    detail.update({"check." + k: v for k, v in extra.items()})
    detail["units_for_split"] = len(comp)
    return common, detail


def queries_layers(p, qspans, by_q):
    st_by_job = {}
    for s in p["stages"]:
        st_by_job.setdefault(s["job"], []).append(s)
    builds = {}
    for s in p["spans"]:
        if s["name"] == "build":
            builds[s["parent"]] = s["end"] - s["start"]
    out, within = {}, 0
    for g in ("tail", "cep", "dedup"):
        qs = [q for q in qspans if q["attrs"]["group"] == g]
        npass = len({q["attrs"]["pass"] for q in qs}) or 1
        js = [j for q in qs for j in by_q.get(q["id"], [])]
        ss = [s for j in js for s in st_by_job.get(j["id"], [])]
        wall = sum(q["end"] - q["start"] for q in qs)
        in_stage = sum(stats.union_length(
            [(s["start"], s["end"]) for j in by_q.get(q["id"], [])
             for s in st_by_job.get(j["id"], [])]) for q in qs)
        skew = [s["task_max_ms"] / s["task_median_ms"] for s in ss
                if s["tasks"] >= 2 and s["task_median_ms"] > 0]
        out.update({
            "queries.%s.build_ms" % g: sum(builds.get(q["id"], 0.0) for q in qs) / npass,
            "queries.%s.jobs" % g: len(js) / npass,
            "queries.%s.stages" % g: len(ss) / npass,
            "queries.%s.tasks" % g: sum(s["tasks"] for s in ss) / npass,
            "queries.%s.in_stage_frac" % g: in_stage / wall if wall else 0.0,
            "queries.%s.busy_frac" % g: sum(s["run_ms"] for s in ss) / (wall * p["cores"]) if wall else 0.0,
            "queries.%s.shuffle_write_mb" % g: sum(s["shuffle_write_bytes"] for s in ss) / 1048576.0 / npass,
            "queries.%s.spill_mb" % g: sum(s["spill_bytes"] for s in ss) / 1048576.0 / npass,
            "queries.%s.task_max_over_median" % g: stats.median(skew) if skew else 1.0,
        })
    for t in p["timings"]:
        within += abs(t["build_ms"] + t["exec_ms"] - t["wall_ms"]) <= 0.05 * t["wall_ms"]
    return out, {"build_plus_execute_within_5pct": within, "queries": len(p["timings"])}


def route_layers(p):
    lp = stats.tail_percentile(len(p["late_ms"])) or 50.0
    return {"sources.publish_ms_p50": p50(p["publish_ms"]),
            "gen.late_tail_ms": stats.percentile(p["late_ms"], lp),
            "gen.late_tail_pct": lp,
            "sources.topic_files": p["topic_files"]}


def curate_layers(p):
    h = [x for x in p["progress"] if x["name"] == "graft-curate" and x["rows"] > 0]
    kinds = {}
    truth = {t[0]: t[2] for t in p["truth"]}
    seen = {o[0]: o for o in p["outcomes"]}
    for i, k in truth.items():
        o = seen.get(i)
        kinds[k] = kinds.get(k, []) + [o]
    near = [o for o in kinds.get("near", []) if o is not None and o[1] != "rejected"]
    return {
        "sources.publish_ms_p50": p50(p["publish_ms"]),
        "streaming.dedup_state_rows": h[-1]["state_rows"] if h else 0,
        "streaming.dedup_state_mb": h[-1]["state_bytes"] / 1048576.0 if h else 0.0,
        "streaming.dedup_commit_ms_p50": p50([x["state_commit_ms"] for x in h]),
        "streaming.neardup_ms_p50": p50(p["neardup_ms"]),
        "streaming.neardup_index_mb": p["neardup_index_mb"],
        "streaming.quota_ms_p50": p50(p["quota_ms"]),
        "streaming.quota_state_mb": p["quota_state_mb"],
        "curate.kept": sum(1 for o in seen.values() if o[1] != "rejected" and not o[3]),
        "curate.exact_dropped": sum(1 for i, k in truth.items() if k == "exact" and i not in seen),
        "curate.near_dropped": sum(1 for o in seen.values() if o[3]),
        "curate.rejected": sum(1 for o in seen.values() if o[1] == "rejected"),
        "curate.admitted": sum(1 for o in seen.values() if o[4]),
        "curate.neardup_recall": (sum(1 for o in near if o[3]) / len(near)) if near else 0.0,
    }


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stopped run still stops its build or JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = a.workload
    load0 = os.getloadavg()[0]
    cp, digest = build()
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (w, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = ""
        if w == "queries":
            tables = os.path.join(work, "tables")
            gen_tables.main(a.seed, tables)
        out = os.path.join(work, "raw.json")
        env = dict(os.environ, CLASSPATH=cp, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
        cmd = ["java", "-Xmx" + JVM_HEAP, "-XX:-UseDynamicNumberOfCompilerThreads"] + ADD_OPENS + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "graftbench.Main", w, str(a.seed), str(a.seconds), str(a.trace),
            str(cores), os.path.join(work, "run"), tables, out]
        log = os.path.join(work, "jvm.log")
        rc = run_bounded(cmd, work, env, JVM_LIMIT_S, log)
        if rc != 0 or not os.path.exists(out):
            print(tail(log), file=sys.stderr)
            fail("benchmark JVM failed (exit %d)" % rc, 1)
        with open(out) as f:
            raw = json.load(f)
        passes = raw["passes"]
        attempted = failed = 0
        reasons = []
        for p in passes:
            n, bad, why = {"route": check_route, "curate": check_curate,
                           "queries": lambda x: check_queries(x, tables)}[w](p)
            attempted += n
            failed += bad + len(p["failures"])
            reasons += why + p["failures"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    base = next(p for p in passes if p["role"] == "untraced")
    e2e, speed = end_to_end(w, base)
    report = {"workload": w, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "run_id": raw["run_id"],
              "env": {"n_cpu": cores, "host_cpu": os.cpu_count(),
                      "load1_start": load0, "load1_end": os.getloadavg()[0],
                      "git_commit": git_commit(), "source_digest": digest[:16],
                      "java": raw["java_version"], "spark": base["spark_version"]},
              "failed_frac": stats.failed_frac(failed, attempted),
              "failures": reasons[:20], "e2e": {k: v[0] for k, v in e2e.items()},
              "speed": {k: v[0] for k, v in speed.items()},
              "op_cpu_ms": base["cpu_ms"], "op_jit_ms": base.get("jit_ms"),
              "op_gc_ms": base.get("gc_ms")}
    if w == "queries":
        report["groups"] = queries_groups(base)
    if w == "route":
        report["route.open_rate_per_s"] = base["open_rate_per_s"]
    if a.trace:
        metrics, detail = per_layer(w, passes)
        detail.update({"route": route_layers, "curate": curate_layers,
                       "queries": lambda p: {}}[w](
                           next(p for p in passes if p["role"] == "traced")))
        report["layers"] = detail
    else:
        metrics = e2e
    report["metrics"] = {k: v[0] for k, v in metrics.items()}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "last-%s-trace%d.json" % (w, a.trace)), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for k, v in sorted(report["env"].items()):
        print("env  %-28s %s" % (k, v))
    print("e2e  %-28s %.6g" % ("failed_frac", report["failed_frac"]))
    for k, (v, u) in sorted(e2e.items()):
        print("e2e  %-28s %.6g %s" % (k, v, u))
    for k, (v, u) in sorted(speed.items()):
        print("speed %-27s %.6g %s" % (k, v, u))
    for k, v in sorted(report.get("groups", {}).items()):
        print("speed %-27s %.6g s" % (k, v))
    if a.trace:
        for k, (v, u) in sorted(metrics.items()):
            print("layer %-36s %.6g %s" % (k, v, u))
        for k, v in sorted(report["layers"].items()):
            print("layer %-36s %s" % (k, "%.6g" % v if isinstance(v, float) else v))
    for r in reasons[:20]:
        print("FAIL %s" % r)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


if __name__ == "__main__":
    main()
