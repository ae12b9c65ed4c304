#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the repository's sources (once per source
state, with sbt), runs one JVM for the workload, checks doc_queries results
against the DuckDB oracle, and prints one line per metric followed by the
result as one JSON object on the last line. Exits non-zero when an output
check fails or the run cannot be made.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["crawl_runjob", "html_pii_pipeline", "resume_readback", "doc_queries"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_home():
    """SPARK_HOME, else the first Spark installation on PATH that has a
    jars directory (a pip-installed spark-submit has none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home)
    raise RuntimeError("set SPARK_HOME to a Spark installation with a jars directory")


def source_files():
    trees = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [f for t in trees for f in sorted(t.rglob("*")) if f.is_file()]
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build(out):
    """Compile the harness and the repository sources unless this exact
    source state was compiled already."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = out / "build.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = "-Dsbt.offline=true -Xmx2g"
    if repos.exists():
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    log("building with sbt (first run of this source state)")
    done = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0:
        raise RuntimeError(f"sbt compile failed with code {done.returncode}")
    out.mkdir(parents=True, exist_ok=True)
    stamp.write_text(digest.hexdigest())
    return classes


def host_window():
    """Host state next to every run: steal jiffies, load, cpus, memory."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"steal_jiffies": int(cpu[8]), "loadavg": load,
            "nproc": len(os.sched_getaffinity(0)),
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024}


def oracle_failures(results, tables):
    """Compare each doc_queries result with its DuckDB oracle SQL, strictly,
    the way tools/check_oracle.py does. Every timed pass reproduces the
    digest of these results, so this one compare covers the whole run."""
    import duckdb
    sys.dont_write_bytecode = True  # leave no __pycache__ in the repository
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import norm
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    failures = []
    oracle = json.loads((Path(results) / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        try:
            expect = norm(con.execute(sql).df())
            got = norm(duckdb.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001 - any failure fails the check
            failures.append(f"oracle {name}: {e}")
            continue
        if list(expect.columns) != list(got.columns):
            failures.append(f"oracle {name}: columns {list(got.columns)} != "
                            f"{list(expect.columns)}")
        elif len(expect) != len(got):
            failures.append(f"oracle {name}: {len(got)} rows != {len(expect)}")
        else:
            for c in expect.columns:
                if (expect[c].dtype != got[c].dtype or
                        expect[c].astype(str).tolist() != got[c].astype(str).tolist()):
                    failures.append(f"oracle {name}: column {c} differs")
                    break
    return failures


def run_jvm(args, classes, out):
    work = out / "work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    spark_jars = spark_home() / "jars"
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", str(work), "--out", str(result)]
    if args.trace:
        traces = out / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        cmd += ["--trace-file", str(traces / f"{args.workload}-s{args.seed}-{stamp}.json")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        if code != 0 or not result.exists():
            raise RuntimeError(f"benchmark JVM exited with code {code}")
        res = json.loads(result.read_text())
        if res["oracle_dir"]:
            t0 = time.monotonic()
            oracle = oracle_failures(res["oracle_dir"], res["oracle_tables"])
            log(f"DuckDB oracle compare: {time.monotonic() - t0:.1f} s")
            res["failures"] += oracle
            res["check_failures"] += len(oracle)
        return res
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no repository sources under {ROOT}/src/main/scala/graft")
        return 2

    out = build_dir()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    try:
        classes = build(out)
        before = host_window()
        res = run_jvm(args, classes, out)
        after = host_window()
    except (RuntimeError, subprocess.TimeoutExpired, OSError, SystemExit) as e:
        log(f"run failed: {e!r}")
        out.mkdir(parents=True, exist_ok=True)
        with open(out / "runs.jsonl", "a") as f:
            f.write(json.dumps({**record, "error": str(e)}) + "\n")
        return 1

    window = {"steal_jiffies": after["steal_jiffies"] - before["steal_jiffies"],
              "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
              "nproc": after["nproc"], "mem_available_mb": before["mem_available_mb"],
              "java": res["java"], "spark": res["spark"]}
    record.update(window=window, warmup_samples=res["warmup_samples"],
                  passes=res["passes"],
                  wall_samples=res["wall_samples"],
                  attempted=res["attempted"], failed=res["failed"],
                  failed_frac=res["failed_frac"], thrown=res["thrown"],
                  check_failures=res["check_failures"], failures=res["failures"],
                  metrics=res["metrics"])
    with open(out / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")

    for msg in res["failures"]:
        log(f"CHECK FAILED: {msg}")
    print("window " + json.dumps(window))
    print(f"warm-up walls {res['warmup_samples']} s")
    untraced = res["passes"] - res["traced_passes"]
    tail = res["wall_tail"]
    print(f"samples: median over {untraced} untraced passes"
          + (f", p{tail['q']:g} wall {tail['value']:.4f} s" if tail else
             " (too few passes for a tail percentile)"))
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {res['failed_frac']:.6g} ratio")
    print(f"check_failures = {res['check_failures']} count")
    print(json.dumps({"correct": res["check_failures"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["metrics"]}))
    return 0 if res["check_failures"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
