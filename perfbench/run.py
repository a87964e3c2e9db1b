#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <sql_floor|pipeline|serve_mixed>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark program from source (sbt, offline), generates the tables
(perfbench/gen_data.py) and stages the ingest inputs, all under
perfbench/.work/. Every run then starts one JVM (Spark `local[nproc]`),
measures for --seconds, checks the outputs (query row counts and
/v1/query answers against DuckDB, scoring answers against their closed
form, the `rec` row count against the acknowledged writes) and prints,
as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics and a
span file (--trace 1). The full result, including per-query counts and
the workload's user metrics, is kept in
perfbench/.work/out/<workload>_s<seed>_t<trace>.json; see
perfbench/compare.py and perfbench/NOTES.md.

    python3 perfbench/run.py --split <q1,q2,...|all> [--scale <k>] [--passes <n>]

times a query list instead, on the ScaleUp construction of the tables
(k times sf0.1) when --scale is given.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DATA_SEED = 1
RUN_LIMIT_S = 170  # a run (not counting the first build) ends within this
ORACLE_TIMEOUT_S = 20
# Queries whose DuckDB oracle does not finish at sf0.1 within
# ORACLE_TIMEOUT_S: from the first run on, they are also run on the tiny
# tables after the window and checked there.
SLOW_ORACLES = ["q114_dedup_transitive"]

# Per-workload user metrics: printed and kept, not gated
# (BENCHMARK.json's end-to-end metrics must come from every workload).
DETAIL = {  # name: (unit, better)
    "query_s_sum": ("s", "lower"), "query_s_geomean": ("s", "lower"),
    "csv_ingest_rows_per_s": ("1/s", "higher"),
    "stream_ingest_events_per_s": ("1/s", "higher"),
    "score_p50_ms": ("ms", "lower"), "score_p99_ms": ("ms", "lower"),
    "score_max_rate_per_s": ("1/s", "higher"),
    "query_route_p50_ms": ("ms", "lower"), "query_route_p90_ms": ("ms", "lower"),
    "record_p50_ms": ("ms", "lower"), "peak_rss_mb": ("MB", "lower")}
# The events the pipeline workload streams per pass.
STREAM_EVENTS = 200_000
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
BASE_ROWS = {"lineitem": 600_000, "orders": 150_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def run_proc(cmd, timeout, cwd=None, env=None, out=None):
    """Runs `cmd` in its own process group; kills the whole group on
    timeout so nothing it started outlives the run."""
    with open(out or os.devnull, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---- build ---------------------------------------------------------------

def source_fingerprint():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt")):
        for dirpath, _, files in sorted(os.walk(top)) if os.path.isdir(top) \
                else [(os.path.dirname(top), None, [os.path.basename(top)])]:
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at src/main/scala/graft: run from the root "
            "of a full checkout")
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b.get("fingerprint") == fp:
            return b["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Dsbt.server.autostart=false -XX:-UsePerfData -Xmx3g"))
    out = os.path.join(WORK, "build.log")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], 850, cwd=BENCH, env=env,
                  out=out)
    lines = open(out).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (rc={rc}); see {out}")
    json.dump({"fingerprint": fp, "classpath": lines[-1].strip(),
               "build_s": time.time() - t0}, open(stamp, "w"))
    return lines[-1].strip()


def heap():
    """Tier-1's SPARK_DRIVER_MEM: half of MemTotal, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm(cp, args, out_log, timeout):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK] + args
    rc = run_proc(cmd, timeout, cwd=WORK, out=out_log)
    if rc != 0:
        die(f"benchmark JVM failed (rc={rc}); see {out_log}")


# ---- data ----------------------------------------------------------------

def tables(cp, scale):
    """Base tables (sf0.1), the warm-up tables (sf0.001) and, for
    scale > 1, the ScaleUp construction of the base tables."""
    sys.path.insert(0, BENCH)
    sys.dont_write_bytecode = True
    import gen_data
    out = {}
    for name, sf in (("sf0.1", 0.1), ("sf0.001", 0.001)):
        d = os.path.join(WORK, "data", name)
        if not os.path.exists(os.path.join(d, "_DONE")):
            gen_data.generate(d, sf, DATA_SEED)
            open(os.path.join(d, "_DONE"), "w").close()
        out[name] = d
    if scale > 1:
        d = os.path.join(WORK, "data", f"sf0.1_x{scale}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            jvm(cp, ["--mode", "scaleup", "--data", out["sf0.1"], "--dest", d,
                     "--factor", str(scale)],
                os.path.join(WORK, f"scaleup_x{scale}.log"), 900)
            open(os.path.join(d, "_DONE"), "w").close()
        out["scaled"] = d
    return out


def check_counts(d, factor):
    """Fails the run unless every fact table holds `factor` times its
    sf0.1 row count."""
    import duckdb
    con = duckdb.connect()
    for t, n in BASE_ROWS.items():
        got = con.execute(
            f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet/**/*.parquet')"
            if os.path.isdir(f"{d}/{t}.parquet") else
            f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
        if got != round(n * factor):
            die(f"data check: {t} has {got} rows, expected {round(n * factor)}")


# ---- output checks -------------------------------------------------------

def duck(d):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        src = (f"read_parquet('{d}/{t}.parquet/**/*.parquet')"
               if os.path.isdir(f"{d}/{t}.parquet") else f"'{d}/{t}.parquet'")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def oracle_rows(name, d, sql, cache, cons):
    """DuckDB's row count for `sql` over the tables in `d`, cached per
    data directory and SQL text; "timeout" when DuckDB needs more than
    ORACLE_TIMEOUT_S."""
    key = hashlib.sha1((d + "\0" + sql).encode()).hexdigest()
    if key not in cache:
        cache[key] = {"op": name, "dir": d, "rows": None}
        if d not in cons:
            cons[d] = duck(d)
        con = cons[d]
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            cache[key]["rows"] = con.execute(
                f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        except Exception as e:  # duckdb raises its own error types
            cache[key]["rows"] = "timeout" if "nterrupt" in str(e) else \
                f"error: {e}"[:200]
        finally:
            timer.cancel()
    return cache[key]["rows"]


def slow_oracles(d):
    """SLOW_ORACLES and the queries whose oracle timed out on `d` in an
    earlier run."""
    path = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    return sorted(set(SLOW_ORACLES) | {
        v["op"] for v in cache.values()
        if v["dir"] == d and v["rows"] == "timeout"})


def check_query_rows(res, d, tiny):
    """Each query's row count against DuckDB running its oracle SQL.
    A query with a slow oracle is checked on its run on the tiny tables
    instead. A wrong count makes every run of the query that finished a
    failed operation (they all returned the same count, or the change is
    already a failure)."""
    cache_path = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    cons, fails, fallback, unchecked = {}, [], [], []
    tiny_sql = res.get("tiny_oracle_sql", {})
    for op in res.get("ops", []):
        name, sql = op["op"], res.get("oracle_sql", {}).get(op["op"])
        if sql is None or op.get("rows", -1) < 0:
            continue
        runs = max(1, len(op.get("samples_s", [])) - op.get("failures", 0))
        if name in tiny_sql:
            want = oracle_rows(name, tiny, tiny_sql[name], cache, cons)
            got = res.get("tiny_rows", {}).get(name, -1)
            fallback.append(name)
        else:
            want, got = oracle_rows(name, d, sql, cache, cons), op["rows"]
            if want == "timeout":  # checked on the tiny tables from now on
                unchecked.append(name)
                continue
        if isinstance(want, str):
            fails.append({"op": name, "reason": f"oracle {want}", "count": runs})
        elif want != got:
            fails.append({"op": name, "reason": f"{got} rows, DuckDB {want}",
                          "count": runs})
    json.dump(cache, open(cache_path, "w"))
    res["checked_on_tiny_tables"] = fallback
    res["unchecked"] = unchecked
    return fails


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def check_query_answers(res, d):
    """Every /v1/query answer (format=table) against DuckDB."""
    con, memo, fails = None, {}, []
    for a in res.get("query_answers", []):
        q = a["q"]
        if q not in memo:
            con = con or duck(d)
            cur = con.execute(q)
            cols = [c[0] for c in cur.description]
            memo[q] = (cols, cur.fetchall())
        cols, rows = memo[q]
        try:
            table = json.loads(a["answer"])
            if len(table) == 1 and not table[0]:  # an empty answer: [[]]
                ok = not rows
            else:
                idx = [table[0].index(c) for c in cols]
                got = sorted(tuple(_norm(r[i]) for i in idx) for r in table[1:])
                ok = got == sorted(tuple(_norm(x) for x in r) for r in rows)
        except (ValueError, IndexError, TypeError, KeyError):
            ok = False
        if not ok:
            fails.append({"op": a["op"],
                          "reason": f"answer differs from DuckDB for: {q}"})
    return fails


# ---- main ----------------------------------------------------------------

def split(cp, a):
    """Times a query list at one scale with no run-length limit and
    prints one row per query (the split and sf1 tables of NOTES.md)."""
    data = tables(cp, a.scale)
    d = data.get("scaled", data["sf0.1"])
    check_counts(d, a.scale)
    out = os.path.join(WORK, "out", f"split_x{a.scale}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    jvm(cp, ["--mode", "split", "--data", d, "--tiny", data["sf0.001"],
             "--passes", str(a.passes), "--out", out,
             "--queries", "" if a.split == "all" else a.split],
        out.replace(".json", ".log"), 3600)
    for op in sorted(json.load(open(out))["ops"], key=lambda o: o["op"]):
        print(f"{op['op']} {op['median_s']:.3f} s rows={op['rows']} "
              f"samples={[round(x, 3) for x in op['samples_s']]} "
              f"{op['error'][:80]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["sql_floor", "pipeline", "serve_mixed"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="with --split: ScaleUp factor over sf0.1")
    ap.add_argument("--split", default=None, metavar="QUERIES",
                    help="instead of a workload, time QUERIES (comma list, "
                         "or 'all') at --scale for --passes passes")
    ap.add_argument("--passes", type=int, default=1)
    a = ap.parse_args()
    if a.split is None and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if a.split is None and a.scale != 1:
        ap.error("--scale applies to --split only")

    cp = build()
    if a.split is not None:
        return split(cp, a)
    t_start = time.time()
    data = tables(cp, 1)
    d = data["sf0.1"]
    check_counts(d, 1)

    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    out = os.path.join(WORK, "out", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    budget = RUN_LIMIT_S - (time.time() - t_start)
    if budget <= 0:
        die("no time left for the run")
    jvm(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--data", d, "--tiny", data["sf0.001"], "--out", out,
             "--stream_events", str(STREAM_EVENTS),
             "--tiny_check", ",".join(slow_oracles(d))],
        os.path.join(WORK, "out", tag + ".log"), budget)
    res = json.load(open(out))

    fails = list(res.get("failures", []))
    fails += check_query_rows(res, d, data["sf0.001"])
    fails += check_query_answers(res, d)
    attempted = max(1, int(res.get("attempted", 1)))
    # operations, not op kinds: an entry stands for `count` operations
    failed = min(attempted, sum(int(f.get("count", 1)) for f in fails))
    res["checks"] = {"failures": fails, "failed": failed,
                     "failed_op_kinds": sorted({f["op"] for f in fails}),
                     "failed_ops_frac": failed / attempted}

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for k, v in res.get("detail", {}).items():
        if k in DETAIL:
            print(f"{k} {v} {DETAIL[k][0]}")
    for k, u in e2e_units.items():
        print(f"{k} {res['e2e'][k]} {u}")
    print(f"failed_ops_frac {failed / attempted} share")
    for f in fails[:20]:
        print(f"FAILED {f['op']} x{f.get('count', 1)}: {f['reason']}")
    for name in res["unchecked"]:
        print(f"UNCHECKED {name}: its DuckDB oracle timed out; it is checked "
              "on the tiny tables from the next run on")
    if a.trace:
        plain = os.path.join(WORK, "out", tag.replace("_t1", "_t0") + ".json")
        if os.path.exists(plain):
            base = json.load(open(plain))["e2e"]
            res["trace_overhead"] = {k: res["e2e"][k] - base[k]
                                     for k in ("op_s_sum", "op_s_geomean")}
            print("trace_overhead " + json.dumps(res["trace_overhead"]))
        metrics = {k: {"value": float(res["layer"][k]), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in e2e_units.items()}
    json.dump(res, open(out, "w"))
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        die(f"non-finite metrics: {bad}")
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
