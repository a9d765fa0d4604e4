#!/usr/bin/env python3
"""Benchmark entry point: builds the engine, makes the fixtures, runs one workload
in a fresh JVM and checks every op's output against its DuckDB oracle.

    python3 perfbench/run.py --workload floor_sf0.01 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine with sbt
and generates the fixtures under perfbench/.work/; later runs reuse them
while the sources are unchanged. Each run gets its own java.io.tmpdir,
spark.local.dir and working directory, deleted when the run ends.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json with
`--trace 0`, the per-layer metrics with `--trace 1`). A summary with every
metric, its unit and the failed-op share goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA_SEED = 42
HARNESS_TIMEOUT_S = 170

sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
import gen_data  # noqa: E402
import metrics  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_digest(paths):
    """sha256 over the relative names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile engine and harness once per source state; return the JVM args."""
    engine = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    if not all(os.path.exists(p) for p in engine):
        fail("the engine sources (build.sbt, src/main) are not beside perfbench/")
    stamp = tree_digest(engine + [os.path.join(HERE, p) for p in
                                  ("build.sbt", "project/build.properties", "src")])
    launch, stamp_file = os.path.join(WORK, "launch.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    log("building engine and harness with sbt")
    build_log = os.path.join(WORK, "build.log")
    # Without SPARK_DRIVER_MEM the harness JVM gets build.sbt's default heap.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEM"}
    env["COURSIER_MODE"] = "offline"
    with open(build_log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                             "writeLaunch"], cwd=HERE, env=env, stdout=f,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=800).returncode
    if rc != 0:
        fail(f"sbt build failed (exit {rc}), see {build_log}")
    shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(launch).read().splitlines()


class Run:
    """One harness process with its own tmpdir, local dir and working dir."""

    def __init__(self):
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
        for d in ("tmp", "local", "cwd"):
            os.makedirs(os.path.join(self.dir, d))
        self.check = os.path.join(self.dir, "check")

    def harness(self, launch, args):
        out = os.path.join(self.dir, "out.json")
        cmd = (["java", f"-Djava.io.tmpdir={self.dir}/tmp"] + launch +
               ["perfbench.Harness", "--local-dir", f"{self.dir}/local", "--out", out] + args)
        log_path = os.path.join(self.dir, "harness.log")
        started = time.time()
        with open(log_path, "w") as lf:
            p = subprocess.Popen(cmd, cwd=os.path.join(self.dir, "cwd"), stdout=lf,
                                 stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=HARNESS_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path, errors="replace") as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail(f"harness failed ({rc})")
        if not os.path.exists(out):
            return started, None
        with open(out) as f:
            return started, json.load(f)

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def row_counts(con, data_dir):
    return {t: con.execute(f"SELECT count(*) FROM {scan(data_dir, t)}").fetchone()[0]
            for t in gen_data.TABLES}


def du(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def scan(data_dir, table):
    p = os.path.join(data_dir, f"{table}.parquet")
    return f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"


def ensure_data(name, spec, launch):
    """Generate (and tile) one fixture set; return its directory."""
    base = os.path.join(WORK, "data", name + "-base")
    final = base if spec["tile_copies"] == 1 else os.path.join(WORK, "data", name)
    stamp_file = os.path.join(WORK, "data", name + ".stamp")
    stamp = tree_digest([os.path.join(HERE, "gen_data.py")]) + json.dumps(spec, sort_keys=True)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return final
    for d in {base, final}:
        shutil.rmtree(d, ignore_errors=True)
    log(f"generating fixtures {name}")
    gen_data.generate(base, spec["generate_sf"], DATA_SEED)
    if final != base:
        copies = spec["tile_copies"]
        run = Run()
        try:
            run.harness(launch, ["--tile", f"{base},{final},{copies}"])
        finally:
            run.close()
        con = duckdb.connect()
        src, tiled = row_counts(con, base), row_counts(con, final)
        for t in gen_data.TABLES:
            want = src[t] if t in ("region", "nation") else src[t] * copies
            if tiled[t] != want:
                fail(f"tile {name}: {t} has {tiled[t]} rows, expected {want}")
    sizes = {t: du(os.path.join(final, f"{t}.parquet")) for t in gen_data.TABLES}
    with open(os.path.join(WORK, "data", name + ".sizes.json"), "w") as f:
        json.dump({"bytes": sizes, "rows": row_counts(duckdb.connect(), final)}, f, indent=1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return final


def result_digest(con, query):
    """Row-order-free digest of a result in parity_check's normal form."""
    import parity_check
    cols, types, rows, risky = parity_check.norm(con.execute(query).fetch_arrow_table())
    h = hashlib.sha256(json.dumps([cols, types, sorted(rows)]).encode()).hexdigest()
    return {"digest": h, "rows": len(rows), "repr_risk": sorted(risky)}


def check_outputs(data_dir, check_dir, oracle_sql):
    """Compare each op's checked output with its oracle; return (bad ops, rows)."""
    con = duckdb.connect()
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {scan(data_dir, t)}")
    cache_file = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    tables = tree_digest([data_dir])
    bad, rows = {}, {}
    for op, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((tables + sql).encode()).hexdigest()
        if key not in cache:
            cache[key] = result_digest(con, sql)
        want = cache[key]
        path = os.path.join(check_dir, op)
        if not os.path.isdir(path):
            bad[op] = "no checked output"
            continue
        got = result_digest(con, f"SELECT * FROM '{path}/*.parquet'")
        rows[op] = got["rows"]
        if got["repr_risk"] or want["repr_risk"]:
            bad[op] = f"decimal repr risk in {got['repr_risk'] + want['repr_risk']}"
        elif got["digest"] != want["digest"]:
            bad[op] = f"output differs from the oracle ({got['rows']} rows vs {want['rows']})"
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return bad, rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if a.workload not in spec["workloads"] or not os.path.exists(bench_file):
        fail(f"unknown workload {a.workload!r} or no BENCHMARK.json")
    with open(bench_file) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    wl = spec["workloads"][a.workload]
    os.makedirs(WORK, exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    launch = ensure_build()
    data_dir = ensure_data(wl["data"], spec["data"][wl["data"]], launch)

    run = Run()
    try:
        started, out = run.harness(launch, [
            "--data", data_dir, "--ops", ",".join(wl["ops"]), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--memos", ",".join(wl["memos"]), "--check", run.check])
        bad, out_rows = check_outputs(data_dir, run.check, out["oracle_sql"])
    finally:
        run.close()
    for op in wl["ops"]:
        if op not in out["oracle_sql"]:
            bad[op] = "no oracle"
    for src in ("errors", "check_errors"):
        for op, msg in out[src].items():
            bad.setdefault(op, msg)
    for c in out["setup"]:
        if not c["ok"]:
            bad.setdefault(c["op"], "failed in a set-up pass")

    execs = [e for p in out["passes"] for e in p["execs"]]
    failed = sum(1 for e in execs if not e["ok"] or e["op"] in bad)
    values = (metrics.per_layer(out, out_rows) if a.trace
              else metrics.end_to_end(out, started))
    result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    for op, why in bad.items():
        log(f"FAILED {op}: {why}")
    log(f"{a.workload} seed={a.seed} trace={a.trace}: {len(execs)} op executions "
        f"in {len(out['passes'])} passes")
    for name, v in result.items():
        log(f"  {name} = {v['value']:.6g} {v['unit']}")
    log(f"  failed_op_frac = {failed / len(execs):.6g} ratio")
    if not a.trace:
        log(f"  op_p50_s = {values['op_p50_s']:.6g} s (over {len(execs)} op executions)")
    print(json.dumps({"correct": not bad, "attempted": len(execs), "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
