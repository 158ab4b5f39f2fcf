#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt (once per source
state), generates the seeded inputs, runs one closed-loop client against
`local[nproc]` (perfbench.Main), checks every output outside the timed
loop, and prints the metrics as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see METRICS.md). The line before it carries the run's context: host
noise from /proc/stat, corpus facts, per-entry medians, the tail
percentile. Exits non-zero if any check fails.
"""
import argparse
import glob
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TABLES_SF = 0.02      # scale of the seeded table set the entry probes read
HEAP = "3g"
RUN_LIMIT_S = 170     # a run ends within 180 s; the JVM gets what is left
BUILD_LIMIT_S = 800
# metric names and units come from the benchmark definition
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# the JVM flags of scripts/run.sh
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.language=en", "-Duser.country=US",
    "-Dspark.hadoop.fs.file.impl=graft.fs.FastLocalFileSystem",
    "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.FastLocalFs",
    "-Dspark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build reads: rebuild when it changes."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in sorted(os.walk(d)):
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("program sources not found next to the benchmark (no build.sbt / src/main)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD_DIR, "stamp"), os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export perfbench/Runtime/fullClasspath"],
                       HERE, env, out, BUILD_LIMIT_S)
    lines = [l.strip() for l in open(log) if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def run_child(cmd, cwd, env, out, limit):
    """Runs cmd in its own process group and waits for it; kills the group
    at the time limit, or when this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


# ---- checks ---------------------------------------------------------------

def check_transcode(res):
    """Reads the last transcode's output with DuckDB; every per-type column
    checksum must equal the generator's ground truth."""
    import duckdb
    out = res["transcode_out"]
    fails = [] if os.path.exists(os.path.join(out, "_SUCCESS")) else ["_SUCCESS missing"]
    q = f"""
      SELECT type, count(*), sum(id),
        sum(coalesce(cardinality(tags), 0)),
        sum(coalesce(list_sum(list_transform(map_keys(tags), k -> length(k))), 0)
          + coalesce(list_sum(list_transform(map_values(tags), v -> length(v))), 0)),
        sum(coalesce(len(nds), 0)), sum(coalesce(list_sum(list_transform(nds, x -> x.ref)), 0)),
        sum(coalesce(len(members), 0)),
        sum(coalesce(list_sum(list_transform(members, m -> m.ref)), 0)),
        sum(version), sum(changeset), sum(uid), sum(epoch_ms("timestamp") // 1000),
        sum(length("user")), sum(coalesce(round(lat * 1e7)::BIGINT, 0)),
        sum(coalesce(round(lon * 1e7)::BIGINT, 0)), sum(visible::INT)
      FROM read_parquet('{out}/type=*/*.parquet', hive_partitioning = 1) GROUP BY type"""
    cols = ["rows", "id", "tags", "tag_chars", "nds", "nd_refs", "members", "member_refs",
            "version", "changeset", "uid", "ts_seconds", "user_chars", "lat_units", "lon_units"]
    got = {r[0]: dict(zip(cols + ["visible"], (int(v or 0) for v in r[1:])))
           for r in duckdb.connect().execute(q).fetchall()}
    for t, want in res["truth"].items():
        g = got.get(t, {})
        fails += [f"transcode {t}.{c}: {g.get(c)} != {w}" for c, w in want.items() if g.get(c) != w]
        if g.get("visible") != want["rows"]:
            fails.append(f"transcode {t}.visible: {g.get('visible')} != {want['rows']}")
    return len(res["truth"]), fails


def _norm_cell(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v)) + ".0"
        return repr(round(v, 9))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _frame_key(df):
    df = df[sorted(df.columns)]
    return sorted(tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))


def check_oracles(res, tables_dir):
    """Each dumped entry result must equal its DuckDB oracle, compared the
    way scripts/check.py compares them (columns by name, rows sorted)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    fails = []
    for name, d in sorted(res["dumps"].items()):
        if d["oracle"] is None:
            fails.append(f"{name}: no oracle")
            continue
        files = glob.glob(os.path.join(d["dir"], "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        try:
            want = con.execute(d["oracle"]).df()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            fails.append(f"{name}: oracle failed: {e}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            fails.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif _frame_key(got) != _frame_key(want):
            fails.append(f"{name}: values differ ({len(got)} vs {len(want)} rows)")
    return len(res["dumps"]), fails


# ---- metrics --------------------------------------------------------------

def tail(samples):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    if len(s) < 11:
        return None
    return {"value": s[-11], "percentile": round(100.0 * (len(s) - 10) / len(s), 1),
            "samples": len(s)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    launched = time.time()
    work = os.path.join(WORK_ROOT, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = os.path.join(work, "tables")
    try:
        # the entry probes of a traced run read the seeded tables
        if a.trace:
            sys.path.insert(0, HERE)
            import tables as table_gen
            table_gen.generate(tables, a.seed, TABLES_SF)
        log = os.path.join(work, "jvm.log")
        tmp = os.path.join(work, "tmp")   # the program's scratch stays in the checkout
        os.makedirs(tmp)
        with open(log, "w") as out:
            rc = run_child(["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                            "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                            str(a.trace), work, tables],
                           ROOT, os.environ, out, RUN_LIMIT_S - (time.time() - launched))
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"benchmark JVM failed (rc={rc})", 1)
        res = json.load(open(res_path))

        attempted = res["attempted"]
        fails = [f"{n} raised" for n in range(res["failed_ops"])] + res["check_failures"]
        if a.workload == "transcode-planet":
            n, f = check_transcode(res)
            attempted += n
            fails += f
        if "dumps" in res:
            n, f = check_oracles(res, tables)
            attempted += n
            fails += f

        walls = [p["wall_s"] for p in res["passes"]]
        p50 = statistics.median(walls)
        cpu = statistics.median(p["cpu_s"] for p in res["passes"])
        if a.trace:
            traced = statistics.median(p["wall_s"] for p in res["traced_passes"])
            values = dict(res["layers"], trace_overhead_ratio=traced / p50 - 1.0,
                          cpu_s_per_op=cpu)
        else:
            values = {
                "setup_s": (res["main_at_ms"] / 1e3 - launched)
                + statistics.median(res["session_s"]) + res["warmup_s"],
                "op_p50_s": p50,
                "elems_per_s": res["elements"] / p50,
            }
        metrics = {}
        for m in SPEC["per_layer" if a.trace else "end_to_end"]:
            if m["name"] not in values:
                die(f"metric {m['name']} was not measured", 1)
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        entries = sorted(res["passes"][0]["entries"])
        context = {
            "workload": a.workload, "seed": a.seed, "cores": res["cores"],
            "passes": len(walls), "op_tail_s": tail(walls), "cpu_s_per_op": cpu,
            "entry_p50_s": {e: statistics.median(p["entries"][e] for p in res["passes"])
                            for e in entries},
            "host": res["host"], "jvm_start_s": res["main_at_ms"] / 1e3 - launched,
            "gen_s": res["gen_s"], "warmup_s": res["warmup_s"],
            "session_s": res["session_s"], "corpus": res.get("corpus"),
            "failures": fails[:20],
        }
        print(json.dumps({"context": context}))
        print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                          "metrics": metrics}))
        return 0 if not fails else 1
    finally:
        # keep the small artifacts, drop corpora, outputs and tables
        for p in glob.glob(os.path.join(work, "*")):
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif p.endswith(".pbf"):
                os.remove(p)


if __name__ == "__main__":
    sys.exit(main())
