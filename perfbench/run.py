#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload clf_batch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the program with its
own sbt build (offline) and the benchmark's JVM side (perfbench/harness);
later runs reuse both while the sources are unchanged. Build output, the
generated inputs and each run's scratch directory live under .bench_build/.

Each run launches one JVM (local[4], 4 shuffle partitions), which runs the
workload in whole rounds for --seconds and writes its timings and outputs to
a file. This script checks every output against an answer computed apart
from the program (the generator's tally for the CLF workloads, the DuckDB
answers in perfbench/answers/ for query_mix) and prints one JSON report as
the last line of stdout: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything else goes to stderr or to the
logs under .bench_build/perfbench/.

--smoke runs the same code on tiny inputs; perfbench/test_run.py uses it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import clfgen  # noqa: E402

# The CLF log: equal files, the window edge on a file boundary, and whole
# files per micro-batch, so no batch straddles the edge.
CLF = dict(files_before=6, files_after=4, lines_per_file=8000)
CLF_SMOKE = dict(files_before=2, files_after=2, lines_per_file=300)
FILES_PER_TRIGGER = 2

TABLES = os.path.join(HERE, "tables")
ANSWERS = os.path.join(HERE, "answers")

# query_mix: (query, family). Families name the per-layer sums.
QUERY_MIX = [
    ("q10_pricing_summary", "relational"), ("q46_bucketed_join", "relational"),
    ("q1_busiest_user", "events"), ("q6_session_stats", "events"),
    ("q30_simhash", "text"), ("q97_winnowing_fingerprints", "text"),
    ("q33_knn_brute", "vector"), ("q81_quantized_ann", "vector"),
    ("q59_sql_api", "sql_text"), ("q114_sql_run_collapse", "sql_text"),
    ("q103_bpe_train", "bpe"),
]
QUERY_MIX_SMOKE = ["q10_pricing_summary", "q46_bucketed_join", "q30_simhash"]
# Queries whose first call builds a persisted artifact; run once in set-up.
PROVISION = ["q46_bucketed_join"]

# Whole rounds each run makes at least, so that every run of a workload
# attempts about the same operations: clf_batch 5 rounds of its 5 steps,
# clf_stream one replay of 23 micro-batches, query_mix 2 rounds of 11 queries.
MIN_ROUNDS = {"clf_batch": 5, "clf_stream": 1, "query_mix": 2}
# op_tail_ms percentile per workload: the highest with at least ten
# operations beyond it at that operation count (25, 23 and 22).
TAIL_PCT = {"clf_batch": 60, "clf_stream": 56, "query_mix": 54}

# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

DEADLINE_S = 175  # a run must end within 180 s


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _sbt(args, cwd, env_extra, log_path, timeout):
    env = dict(os.environ)
    env.update(env_extra)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.exists(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts.strip()
    with open(log_path, "w") as fh:
        # its own process group, so a timeout stops the launcher's JVM too
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args, cwd=cwd,
                             env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt %s timed out in %s" % (" ".join(args), cwd))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        fh.write(out)
    if p.returncode != 0:
        raise BenchError("sbt %s failed in %s; see %s" % (" ".join(args), cwd, log_path))
    return out


def build():
    """Compile the program and the harness if their sources changed; return
    the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("no program to build: build.sbt or src/main/scala is missing in " + ROOT)
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    stamp = _tree_digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                          os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "build.sbt"),
                          os.path.join(HERE, "harness", "src")])
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as fh2:
                    return fh2.read()
    t0 = time.time()
    out = _sbt(["compile", "export Runtime/fullClasspath"], ROOT, {},
               os.path.join(BUILD, "build-program.log"), 800)
    program_cp = [l for l in out.splitlines() if l.strip()][-1].strip()
    if "classes" not in program_cp:
        raise BenchError("could not read the program's classpath from sbt")
    harness_target = os.path.join(BUILD, "harness-target")
    _sbt(["compile"], os.path.join(HERE, "harness"),
         {"PERFBENCH_PROGRAM_CP": program_cp, "PERFBENCH_TARGET": harness_target},
         os.path.join(BUILD, "build-harness.log"), 800)
    cp = os.path.join(harness_target, "scala-2.13", "classes") + os.pathsep + program_cp
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cp


# ---------------------------------------------------------------- JVM run

def run_jvm(cp, work, workload, seconds, trace, input_dir, extra, started):
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-cp", cp, "perfbench.Main",
                                  "--workload", workload, "--seconds", str(seconds),
                                  "--min-rounds", str(MIN_ROUNDS.get(workload, 1)),
                                  "--trace", str(trace), "--input", input_dir,
                                  "--work", work, "--out", out] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(jvm_log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            raise BenchError("the JVM did not finish in time; see " + jvm_log)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(jvm_log) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if p.returncode != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError("the JVM failed (exit %d)" % p.returncode)
    with open(out) as fh:
        return launched, json.load(fh)


# ---------------------------------------------------------------- checks

def window_rows(tally, key):
    return [[int(w), tally["windows"][w][key]] for w in sorted(tally["windows"], key=int)]


def check_clf_batch(rnd, tally):
    """Failed operation names of one clf_batch round."""
    out = rnd["outputs"]
    expect = {
        "read_cache": ("valid_lines", tally["lines"] - tally["dead_letters"]),
        "busiest_host": ("busiest_host", [[int(w), tally["windows"][w]["busiest_host"],
                                           tally["windows"][w]["busiest_cnt"]]
                                          for w in sorted(tally["windows"], key=int)]),
        "unique_hosts": ("unique_hosts", window_rows(tally, "uniq_hosts")),
        "avg_bytes": ("avg_bytes", window_rows(tally, "avg_bytes")),
        "dead_letters": ("dead_letters", tally["dead_letters"]),
    }
    return {op for op, (key, want) in expect.items() if out.get(key) != want}


def check_clf_stream(rnd, tally):
    """Failed query names of one clf_stream round: each query must read every
    line, drop none as late, and end with the tally's per-window answers."""
    wins = sorted(tally["windows"], key=int)
    expect = {
        "windowed_user_counts": [[int(w), tally["windows"][w]["busiest_host"],
                                  tally["windows"][w]["busiest_cnt"]] for w in wins],
        "unique_users": window_rows(tally, "first_seen_hosts"),
        "avg_value": [[int(w), tally["windows"][w]["avg_bytes"], tally["windows"][w]["n_events"]]
                      for w in wins],
        "first_event": window_rows(tally, "first_seen_hosts"),
    }
    bad = set()
    for q, want in expect.items():
        got = rnd["outputs"].get(q, {})
        ok = (got.get("rows") == want and got.get("input_rows") == tally["lines"]
              and got.get("dropped_by_watermark") == 0)
        if q == "first_event":
            ok = ok and got.get("emitted") == tally["distinct_hosts"]
        if not ok:
            bad.add(q)
    return bad


def _canon(rows, cols):
    """Columns sorted by name, doubles rounded, as tools/local_verify.py does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9) if not math.isnan(v) else "NaN"
            rr.append(v)
        out.append(tuple(rr))
    return sorted(cols), out


def check_query_mix(names, work):
    """Queries whose last-round result differs from the DuckDB answer."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    bad = set()
    for n in names:
        try:
            a = con.sql("SELECT * FROM read_parquet('%s')" % os.path.join(ANSWERS, n + ".parquet"))
            s = con.sql("SELECT * FROM read_parquet('%s/*.parquet')" % os.path.join(work, "results", n))
            if _canon(a.fetchall(), a.columns) != _canon(s.fetchall(), s.columns):
                log("%s: result differs from the DuckDB answer" % n)
                bad.add(n)
        except duckdb.Error as e:
            log("%s: cannot compare: %s" % (n, e))
            bad.add(n)
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, pct):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def end_to_end(workload, res, launched):
    rounds = res["rounds"]
    op_ms = [op[1] for r in rounds for op in r["ops"]]
    return {
        "setup_s": res["first_op_ms"] / 1000.0 - launched,
        "run_s": median([r["wall_ms"] for r in rounds]) / 1000.0,
        "cpu_s": median([r["cpu_ms"] for r in rounds]) / 1000.0,
        "op_p50_ms": median(op_ms),
        "op_tail_ms": percentile(op_ms, TAIL_PCT[workload]),
    }


def per_layer(workload, res, families):
    rounds = res["rounds"]
    m = {"peak_rss_mb": res["peak_rss_mb"]}
    for key in set(k for r in rounds for k in r["layers"]):
        m[key] = median([r["layers"].get(key, 0.0) for r in rounds])
    storage = [r["outputs"].get("storage_mb", 0.0) for r in rounds]
    m["cache.storage_mb"] = max(storage) if storage else 0.0

    def op_median(name):
        return median([op[1] for r in rounds for op in r["ops"] if op[0] == name])

    if workload == "clf_batch":
        m["clf.parse_ms"] = median(res["parse_ms"])
        for op, key in (("read_cache", "clf.cache_ms"), ("busiest_host", "clf.busiest_host_ms"),
                        ("unique_hosts", "clf.unique_hosts_ms"), ("avg_bytes", "clf.avg_bytes_ms"),
                        ("dead_letters", "clf.dead_letters_ms")):
            m[key] = op_median(op)
    if workload == "clf_stream":
        batches = res["batches"]
        for src, key in (("latestOffset", "stream.latest_offset_ms"), ("getBatch", "stream.get_batch_ms"),
                         ("queryPlanning", "stream.query_planning_ms"), ("addBatch", "stream.add_batch_ms"),
                         ("walCommit", "stream.wal_commit_ms"), ("commitOffsets", "stream.commit_offsets_ms"),
                         ("stateCommit", "stream.state_commit_ms"), ("tasks", "stream.tasks_per_batch")):
            m[key] = median([b.get(src, 0.0) for b in batches])
        m.update(res["state"])
    if workload == "query_mix":
        m["query.construct_ms"] = median([sum(r["outputs"]["construct_ms"].values()) for r in rounds])
        for fam in sorted(set(families.values())):
            m["query.%s_ms" % fam] = median(
                [sum(op[1] for op in r["ops"] if families.get(op[0]) == fam) for r in rounds])
        m.update(res["kernels"])
        m["sources.provision_ms"] = res["provision_ms"]
        m["sources.artifacts_built"] = res["artifacts_built"]
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["clf_batch", "clf_stream", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    ap.add_argument("--raw", help="also copy the JVM's raw result file here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    started = time.time()  # a first run may spend longer building

    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, os.getpid(), int(started)))
    os.makedirs(work)
    try:
        extra = []
        tally = None
        families = dict(QUERY_MIX)
        if a.workload in ("clf_batch", "clf_stream"):
            clf_dir, tally = clfgen.load_or_generate(
                os.path.join(BUILD, "inputs"), a.seed, **(CLF_SMOKE if a.smoke else CLF))
            input_dir = os.path.join(clf_dir, "log")
            extra = ["--files-per-trigger", str(1 if a.smoke else FILES_PER_TRIGGER)]
        else:
            names = QUERY_MIX_SMOKE if a.smoke else [q for q, _ in QUERY_MIX]
            input_dir = TABLES
            extra = ["--queries", ",".join(names),
                     "--provision", ",".join(q for q in PROVISION if q in names)]
        launched, res = run_jvm(cp, work, a.workload, a.seconds, a.trace, input_dir, extra, started)
        if a.raw:
            shutil.copyfile(os.path.join(work, "result.json"), a.raw)

        # an operation fails if it raised or if its output is wrong; the run
        # is correct if every operation that did not raise gave the answer
        rounds = res["rounds"]
        attempted = sum(len(r["ops"]) for r in rounds)
        failed = 0
        wrong = 0
        bad_queries = check_query_mix(names, work) if a.workload == "query_mix" else set()
        for i, r in enumerate(rounds):
            if a.workload == "clf_batch":
                bad = check_clf_batch(r, tally)
            elif a.workload == "clf_stream":
                bad = check_clf_stream(r, tally)
            else:
                bad = bad_queries
            for b in sorted(bad):
                log("round %d: %s does not match the answer" % (i, b))
            for name, _, error in r["ops"]:
                if error is not None:
                    log("round %d: %s raised %s" % (i, name, error))
                failed += error is not None or name in bad
                wrong += error is None and name in bad

        values = (per_layer(a.workload, res, families) if a.trace
                  else end_to_end(a.workload, res, launched))
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # on SIGTERM, unwind so that the JVM is stopped and the scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log("error: " + str(e))
        sys.exit(2)
