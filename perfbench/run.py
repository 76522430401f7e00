#!/usr/bin/env python3
"""Benchmark runner: verified migration into a live PostgreSQL, verified
parquet migration, and the query roster, measured end to end and layer by
layer.

    python3 perfbench/run.py --workload migrate_pg --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the program and the benchmark
from source (once per source digest, into .bench_build/), generates the
seeded inputs, starts a throwaway PostgreSQL cluster for migrate_pg, runs
the JVM side (perfbench/src) for --seconds of closed-loop passes, checks the
outputs, and prints one JSON result as the last stdout line: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The full result
(every pass, host facts, spans) lands in .bench_build/perfbench/results/.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

# input scale per workload (1.0 = the TPC-H-ish sf1 row counts)
SCALE = {"migrate_pg": 0.03, "migrate_verify": 0.01, "query_roster": 0.01}
SETUP_REPS = 3  # set-ups per run outside the JVM; setup_s takes their median
JVM_FLAGS = ["-Xmx4g", "-Xss8m"]
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def nproc():
    return len(os.sched_getaffinity(0))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    return main + bench


def build():
    """Compile the program and the benchmark with the Scala compiler that
    ships with Spark; reuse the classes while the sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + digest)
    if os.path.isdir(classes):
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-classpath", cp] + files,
                   check=True, stdout=sys.stderr, timeout=800)
    os.rename(tmp, classes)
    log(f"built {len(files)} sources in {time.time() - t0:.1f}s")
    return classes, digest


def pg_version():
    postgres = shutil.which("postgres")
    if postgres is None:
        return "absent"
    return subprocess.run([postgres, "--version"], capture_output=True, text=True,
                          timeout=10).stdout.strip()


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class PgCluster:
    """A throwaway PostgreSQL cluster on a unix socket, owned by the
    `postgres` system user (the server refuses root) under the system temp
    directory, which that user can reach. Server settings stay at their
    defaults (fsync on, synchronous_commit on). `stop` is idempotent and
    always removes the cluster."""

    def __init__(self):
        self.base = None
        self.up = False
        self.port = 0

    INITDB, PG_CTL = shutil.which("initdb"), shutil.which("pg_ctl")

    @classmethod
    def available(cls):
        return (cls.INITDB is not None and cls.PG_CTL is not None
                and shutil.which("psql") is not None
                and subprocess.run(["id", "-u", "postgres"], capture_output=True).returncode == 0
                and os.geteuid() == 0)

    def _as_postgres(self, cmd):
        return subprocess.run(["su", "-s", "/bin/sh", "postgres", "-c", cmd], cwd="/",
                              capture_output=True, text=True, timeout=60)

    def start(self):
        self.base = tempfile.mkdtemp(prefix="perfbench_pg_")
        os.chmod(self.base, 0o755)
        data, sock = os.path.join(self.base, "data"), os.path.join(self.base, "sock")
        os.makedirs(sock)
        shutil.chown(self.base, "postgres", "postgres")
        shutil.chown(sock, "postgres", "postgres")
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        r = self._as_postgres(f"{self.INITDB} -D {data} -A trust -U postgres -E UTF8 "
                              f"--locale=C -N")
        if r.returncode != 0:
            raise RuntimeError("initdb failed: " + r.stderr[-300:])
        opts = f"-c listen_addresses='' -p {self.port} -k {sock}"
        self.up = True
        r = self._as_postgres(f"{self.PG_CTL} -D {data} -o \"{opts}\" -w -t 60 "
                              f"-l {self.base}/pg.log start")
        if r.returncode != 0:
            raise RuntimeError("pg_ctl start failed: " + r.stderr[-300:])
        return sock, self.port

    def stop(self):
        if self.base is None:
            return
        if self.up:
            self._as_postgres(f"{self.PG_CTL} -D {self.base}/data -m immediate -w stop")
            self.up = False
        shutil.rmtree(self.base, ignore_errors=True)
        self.base = None


def load_check():
    """tools/check.py's canonical exact comparison, used as is."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(data_dir, dump_dir):
    """Compare every dumped roster result with its DuckDB oracle exactly as
    tools/check.py does; returns (attempted, failures)."""
    import duckdb
    import pyarrow.parquet as pq
    check = load_check()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    failures = []
    for name in sorted(oracles):
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            failures.append(f"oracle {name}: no result dumped")
            continue
        try:
            tbl = pq.read_table(path)
            s_cols = tbl.column_names
            s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
            res = con.execute(oracles[name])
            o_pd = res.df()
            res = con.execute(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            failures.append(f"oracle {name}: {type(e).__name__}: {e}"[:300])
            continue
        sc, sr = check.canon(s_rows, s_cols)
        oc, orows = check.canon(o_rows, o_cols)
        sd, od = check.dtypes_of(tbl.to_pandas(date_as_object=False)), check.dtypes_of(o_pd)
        if sc != oc:
            failures.append(f"oracle {name}: schema {sc} != {oc}")
        elif sr != orows:
            failures.append(f"oracle {name}: values differ ({len(sr)} vs {len(orows)} rows)")
        elif sd != od:
            failures.append(f"oracle {name}: dtypes differ")
    return len(oracles), failures


def run_jvm(classes, opts, deadline):
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={opts['work']}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "graftbench.Main"]
    cmd += [f"{k}={v}" for k, v in opts.items()]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("JVM side exceeded the run deadline")
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"JVM side exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    classes, digest = build()
    deadline = time.time() + DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    data = os.path.join(work, "data")
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    use_pg = a.workload == "migrate_pg" and PgCluster.available()
    if a.workload == "migrate_pg" and not use_pg:
        log("PostgreSQL binaries, the postgres user or root are missing: "
            "every migrate_pg operation will fail")
    pg_arg = "none"
    pg = PgCluster()
    try:
        # set-up outside the JVM, repeated for a steady median: the inputs
        # and, for migrate_pg, a fresh cluster (the last one is kept)
        reps = []
        for _ in range(SETUP_REPS):
            pg.stop()
            t0 = time.perf_counter()
            gen.generate(data, a.seed, SCALE[a.workload])
            if use_pg:
                sock, port = pg.start()
                pg_arg = f"{sock}:{port}"
            reps.append(time.perf_counter() - t0)
        raw_path = os.path.join(results, tag + ".raw.json")
        opts = {"workload": a.workload, "data": data, "work": work, "seed": a.seed,
                "cpus": nproc(), "seconds": a.seconds, "out": raw_path, "pg": pg_arg,
                "spans": os.path.join(results, tag + ".spans.jsonl"),
                "trace": "split" if a.trace else "untraced"}
        run_jvm(classes, opts, deadline)
    finally:
        pg.stop()
    with open(raw_path) as fh:
        raw = json.load(fh)
    failures = list(raw["failures"])
    attempted = raw["attempted"]
    if a.workload == "query_roster":
        n, fails = oracle_check(data, os.path.join(work, "verify"))
        attempted += n
        failures += fails
    setup = {"reps_s": reps, "prepare_s": statistics.median(reps),
             "jvm_session_s": raw["session_ready_s"], "jvm_setup_s": raw["setup_s"]}
    facts = dict(raw["facts"])
    facts.update({"seed": a.seed, "git_commit": git_commit(), "source_digest": digest,
                  "scale": SCALE[a.workload], "run_seconds": a.seconds,
                  "trace": a.trace, "host_nproc": nproc(), "pg_binaries": pg_version(),
                  "jvm_flags": " ".join(JVM_FLAGS)})
    summary = metrics.summarize(raw, setup, attempted, failures, facts)
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    for f in failures:
        log("FAILED " + f)
    log(f"{tag}: {attempted} ops, {len(failures)} failed, run took {time.time() - t_start:.1f}s")
    names = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    src = summary["per_layer"] if a.trace else summary["end_to_end"]
    out = {"correct": not failures, "attempted": attempted, "failed": len(failures),
           "metrics": {k: {"value": src[k], "unit": u} for k, u in names.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - report, then fail without a result line
        log(f"error: {type(e).__name__}: {e}")
        sys.exit(1)
