#!/usr/bin/env python3
"""graft benchmark: one workload run, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (once per source state), generates
the seeded inputs, runs the workload in a fresh JVM, checks every
answer against DuckDB over the same parquet, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones.  Build and run output goes to stderr.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Input scale (TPC-H scale factor) of each workload.
WORKLOADS = {
    "serve_read": {"sf": 0.002},
    "serve_write": {"sf": 0.002},
    "analytics_batch": {"sf": 0.002},
}
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    digest = source_hash()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("perfbench: building engine and harness")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("perfbench: build failed")
    cp = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln][-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


def driver_memory():
    """The tier-1 formula: half the RAM, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def canon_frame(df):
    """check.py's canonical form: sorted columns, floats to 9 significant
    figures, NULL for missing values, sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)
    return sorted(tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None))


def check_answers(result, data):
    """Compare every recorded answer with DuckDB; returns the number of
    operations whose answer was wrong."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    wrong = 0
    for c in result["checks"]:
        try:
            want = con.execute(c["sql"]).df()
            if c["format"] == "rows":
                with open(c["path"]) as fh:
                    got = sorted(tuple(json.loads(ln)) for ln in fh if ln.strip())
                ok = got == canon_frame(want)
            else:
                got_df = con.execute(f"SELECT * FROM '{c['path']}/*.parquet'").df()
                ok = (sorted(got_df.columns) == sorted(want.columns) and
                      {k: got_df[k].dtype.kind for k in got_df.columns} ==
                      {k: want[k].dtype.kind for k in want.columns} and
                      canon_frame(got_df) == canon_frame(want))
        except Exception as e:  # a check that cannot run is a failed check
            log(f"perfbench: check {c['name']} errored: {e}")
            ok = False
        if not ok:
            log(f"perfbench: WRONG ANSWER {c['name']}: {c['sql'][:200]}")
            wrong += c["n"]
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the raw result as perfbench/.run/result-<workload>-<seed>-<trace>.json")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("perfbench: engine sources not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    env = dict(os.environ, SPARK_HOME=spark_home())
    # resolve only from the local caches, as the repository's own test
    # command does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    classpath = build(env)

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
    for d in (data, work, tmp):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    try:
        sys.path.insert(0, HERE)
        import datagen
        sizes = datagen.generate(data, args.seed, WORKLOADS[args.workload]["sf"])
        log(f"perfbench: inputs {sizes}")
        env.update(SPARK_LOCAL_DIRS=os.path.join(work, "spark"), TMPDIR=tmp)
        cmd = (["java", f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work, "--out", out])
        r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: workload run failed (exit {r.returncode})")
        with open(out) as fh:
            result = json.load(fh)
        wrong = check_answers(result, data)
        if args.keep:
            shutil.copy(out, os.path.join(HERE, ".run",
                                          f"result-{args.workload}-{args.seed}-{args.trace}.json"))
        log("perfbench: info " + json.dumps(
            {k: v for k, v in result["info"].items() if k != "latencies_ms"}))
        source, wanted = ((result["e2e"], spec["end_to_end"]) if args.trace == 0
                          else (result["layers"], spec["per_layer"]))
        metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        failed = result["failed"] + wrong
        print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
