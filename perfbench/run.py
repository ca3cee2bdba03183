#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload serve|analytics \
        --seed N --seconds S --trace 0|1 [--smoke] [--record]

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the classpath under
`.bench_build/`; later runs reuse it until a source or build file
changes. Each run generates its inputs from the seed into a fresh
directory under `.bench_build/runs/`, runs the workload in one JVM,
checks every output against an independent computation (DuckDB over
the same parquet), prints a detail line with every workload-specific
metric, and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the `end_to_end` metrics of BENCHMARK.json (`--trace 0`) or its
`per_layer` metrics (`--trace 1`). It exits non-zero when an operation
fails or an output is wrong. `--smoke` runs at sf0.001 for a couple of
seconds; `perfbench/test_smoke.py` drives it.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF = 0.1
SMOKE_SF = 0.001
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
TABLES = {"serve": ["events"],
          "analytics": ["events", "documents", "embeddings", "lineitem"]}
# analytics inputs come in a few fixed variants (the seed picks one), so
# its outputs can be checked against hashes recorded once from the
# DuckDB oracle: the text-hash oracles take minutes per run at sf0.1
ANALYTICS_VARIANTS = 3
HASHES = os.path.join(HERE, "analytics_hashes.json")

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
MS = timedelta(milliseconds=1)

sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
import gen  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in
             ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties")]
    for d in ("src/main", "perfbench/src/main"):
        files += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds the engine and the benchmark once per source state."""
    cp_file, stamp_file = f"{BUILD}/classpath.txt", f"{BUILD}/stamp.txt"
    want = stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == want:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env.setdefault("SBT_OPTS", opts)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip()


# ── output checks ──────────────────────────────────────────────────────
def check_analytics(con, c, run, recorded):
    """Each query's output from the untimed check pass that follows the
    timed passes, against the DuckDB oracle (`SparkEntry.oracleSql`),
    compared the way tools/local_check.py compares Verify dumps: columns
    sorted by name, exact values. With
    `recorded` hashes (inputs at sf0.1) the output's content hash is
    compared instead; `--record` writes them after a live comparison."""
    import pandas as pd
    bad = [f"{q}: failed to run" for q in c["failed"]]
    hashes = {}
    for q in c["queries"]:
        if q in c["failed"]:
            continue
        files = sorted(glob.glob(f"{run}/check/{q}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        hashes[q] = content_hash(got)
        if recorded is not None:
            why = None if recorded.get(q) == hashes[q] else "content hash differs from the recorded oracle result"
        elif q not in c["oracle_sql"]:
            why = "no oracle SQL"
        else:
            why = frames_differ(got, con.execute(c["oracle_sql"][q]).fetchdf())
        if why:
            bad.append(f"{q}: {why}")
    return len(c["queries"]), bad, hashes


def canonical(v):
    import numpy as np
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (float, np.floating)):
        return repr(float(v) + 0.0)
    return str(v)


def content_hash(df):
    """Order-independent hash of a result's rows, columns sorted by name."""
    if df is None:
        return None
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(canonical(v) for v in r) for r in df[cols].itertuples(index=False))
    return hashlib.sha256(("\x1e".join([",".join(cols)] + rows)).encode()).hexdigest()


def frames_differ(a, b):
    """tools/local_check.py's comparison: columns sorted by name, exact values."""
    from local_check import norm, values_equal
    if a is None:
        return "no output"
    a, b = norm(a), norm(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    ok, why = values_equal(a, b)
    return None if ok else why


def check_serve(con, c):
    """Every timed read against the same read computed by DuckDB over the
    events parquet, plus the writer's rows."""
    def ms(iso):
        return (datetime.fromisoformat(iso.replace("Z", "+00:00")) - EPOCH) // MS

    bad = []
    n_w, sum_w, n_stored, sum_stored = c["writer"]
    if n_w != n_stored or abs(sum_w - sum_stored) > 1e-6 * max(1.0, sum_w):
        bad.append(f"writer: {n_w} sets ({sum_w}) vs {n_stored} stored ({sum_stored})")
    con.execute("CREATE TEMP TABLE ev AS SELECT 'u' || user_id AS subject, "
                "epoch_ms(ts) AS t, event_type AS etype, value FROM events")
    for r in c["reads"]:
        if r["kind"] == "point":
            got = sorted((ms(t), e, v) for t, e, v in r["rows"])
            want = con.execute(
                "SELECT t, etype, value FROM ev WHERE subject = ? AND t BETWEEN ? AND ? ORDER BY 1",
                [r["key"], r["start"], r["stop"]]).fetchall()
        elif r["kind"] == "last":
            got = sorted((s, ms(t), e, v) for s, t, e, v in r["rows"])
            want = con.execute(
                "SELECT subject, t, etype, value FROM ev WHERE list_contains(?, subject) "
                "QUALIFY row_number() OVER (PARTITION BY subject ORDER BY t DESC) = 1 "
                "ORDER BY 1", [r["key"].split(",")]).fetchall()
        else:
            got = sorted((s, ms(t), e, v) for s, t, e, v in r["rows"])
            want = con.execute(
                "SELECT subject, t, etype, value FROM ev WHERE starts_with(subject, ?) "
                "AND t BETWEEN ? AND ? "
                "QUALIFY row_number() OVER (PARTITION BY subject ORDER BY t) <= ? "
                "ORDER BY 1, 2", [r["key"], r["start"], r["stop"], r["count"]]).fetchall()
        want = sorted(tuple(w) for w in want)
        if got != want:
            bad.append(f"{r['kind']} {r['key']} [{r['start']}, {r['stop']}]: "
                       f"{len(got)} rows vs {len(want)} expected")
    return 1 + len(c["reads"]), bad


def check(workload, result, data, run, recorded):
    import duckdb
    con = duckdb.connect()
    for t in TABLES[workload]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    c = result["check"]
    if workload == "analytics":
        return check_analytics(con, c, run, recorded)
    return check_serve(con, c) + ({},)


# ── units of the workload-specific metrics on the detail line ─────────
def unit(name):
    for suffix, u in (("rows_per_s", "rows/s"), ("reads_per_s", "ops/s"),
                      ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                      ("bytes_per_row", "B/row"), ("_bytes", "B"),
                      ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(TABLES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001, for the smoke test")
    p.add_argument("--record", action="store_true",
                   help="analytics: check live against DuckDB and record the result hashes")
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"{ROOT} holds no engine sources to build")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()
    started = time.time()  # the build is outside the per-run limit

    sf = SMOKE_SF if a.smoke else SF
    data_seed, recorded = a.seed, None
    if a.workload == "analytics" and not a.smoke:
        data_seed = a.seed % ANALYTICS_VARIANTS
        if not a.record:
            with open(HASHES) as fh:
                table = json.load(fh)
            if table["sf"] != sf or str(data_seed) not in table["variants"]:
                die(f"no recorded hashes for sf{sf} variant {data_seed}; run with --record")
            recorded = table["variants"][str(data_seed)]
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(run, "data")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(data)
    try:
        gen.generate(data, sf, data_seed, TABLES[a.workload], serve=a.workload == "serve")
        cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run}/tmp",
                  "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                  str(a.trace), data, run, str(sf)])
        with open(f"{run}/jvm.log", "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=max(10, RUN_LIMIT_S - (time.time() - started))).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(f"{run}/result.json"):
            sys.stderr.write("".join(open(f"{run}/jvm.log").readlines()[-40:]))
            die(f"{a.workload} run failed ({rc})")
        with open(f"{run}/result.json") as fh:
            result = json.load(fh)
        checked, wrong, hashes = check(a.workload, result, data, run, recorded)
        for w in wrong[:20]:
            print(f"perfbench: wrong output: {w}", file=sys.stderr)
        if a.record and not wrong and a.workload == "analytics":
            table = json.load(open(HASHES)) if os.path.exists(HASHES) else {"sf": sf, "variants": {}}
            if table["sf"] != sf:
                table = {"sf": sf, "variants": {}}
            table["variants"][str(data_seed)] = hashes
            with open(HASHES, "w") as fh:
                json.dump(table, fh, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    detail = dict(result["detail"], **result["per_layer"]) if a.trace else result["detail"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "sf": sf, "trace": a.trace,
                      "detail": {k: {"value": v, "unit": unit(k)} for k, v in detail.items()
                                 if isinstance(v, (int, float))}}))
    source = result["per_layer"] if a.trace else result["end_to_end"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in names}
    failed = result["failed_ops"] + len(wrong)
    print(json.dumps({"correct": not wrong and failed == 0,
                      "attempted": result["attempted"] + checked,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
