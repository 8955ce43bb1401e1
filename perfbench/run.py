#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload serve|dedup --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) into perfbench/.build; later runs
reuse that build while the sources are unchanged. Each run:

- starts one JVM on Spark local[nproc] with a heap of MemTotal/8 (1.5-4 GB),
  a java.io.tmpdir and spark.local.dir inside the run's own work dir;
- generates its seeded inputs, sets up several times (setup_s is the
  median), then drives one closed-loop client thread through a fixed
  number of calls sized to take about S seconds;
- checks every timed answer (exact top-k, bulk IVF, DuckDB oracles) and
  runs a negative control that must be caught;
- measures what the engine left in java.io.tmpdir, deletes its work dir,
  writes a uniquely named record under perfbench/results, and prints one
  JSON summary line as the last line of stdout.

Progress goes to stderr. The exit code is non-zero, and no summary is
printed, when the run cannot produce one.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, ".build")
RESULTS = os.path.join(BENCH, "results")
WORKLOADS = ("serve", "dedup")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s"}
PER_LAYER = {
    "jobs_per_op": "count", "tasks_per_op": "count", "driver_gap_share": "fraction",
    "cpu_util": "fraction", "gc_ms_per_op": "ms", "shuffle_write_kb_per_op": "KB",
    "input_rows_per_op": "count", "max_task_share": "fraction",
    "tokenizer_tokens_per_s": "1/s", "seal_mb_per_s": "MB/s", "decode_mb_per_s": "MB/s",
    "seek_ns": "ns", "topk_insert_ns": "ns", "topk_merge_ns": "ns",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. On timeout, or
    when this launcher is told to stop, kill the whole group (sbt and
    the JVM may fork helpers) and wait for it. Returns (exit code,
    stdout), with exit code None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        return None, out
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    log("building engine + benchmark (sbt compile)")
    rc, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = (out or "").splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[")))
    cps = [l for l in lines if l.strip() and not l.startswith("[")]
    if rc != 0 or not cps:
        log("build failed")
        sys.exit(1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def machine():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1536, min(4096, mem_kb // 8 // 1024))
    return cores, heap_mb, mem_kb // 1024


def cpu_times():
    """The machine's aggregate CPU time counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time a hypervisor gave to other guests between two
    counter readings: run-to-run drift on a shared host shows here."""
    if not a or not b or len(a) < 8:
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


def dir_mb(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total / 1048576.0


def canon(df):
    """Sorted columns, canonical row order, floats as bit patterns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].to_numpy(dtype="float64").view("u8")
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
        elif df[c].dtype.kind == "O":
            df[c] = df[c].map(lambda v: json.dumps(v.tolist() if hasattr(v, "tolist") else v,
                                                   sort_keys=True, default=str))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return bool(got.equals(want))


def oracle_check(rec):
    """Dedup: each op's rows must be bit-identical to its
    registry oracle SQL run in DuckDB over the generated corpus. Returns
    (failed calls, failure notes, negative control caught)."""
    import duckdb
    import pyarrow.parquet as pq
    d = rec["dedup"]
    corpus, dump = d["corpus_dir"], d["dump_dir"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failed, notes, control = 0, [], None
    for name, sql in sorted(oracles.items()):
        got = canon(pq.read_table(os.path.join(dump, name)).to_pandas())
        try:
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            want, notes = None, notes + [f"{name}: oracle error {e}"]
        ok = want is not None and same(got, want)
        if not ok:
            failed += 1
            notes.append(f"{name}: differs from its DuckDB oracle "
                         f"({len(got)} rows vs {None if want is None else len(want)})")
        elif control is None and len(got) > 0:
            control = not same(got.iloc[1:].reset_index(drop=True), want)
        log(f"oracle {name}: {'OK' if ok else 'MISMATCH'} ({len(got)} rows)")
    return failed, notes, bool(control)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
        sys.exit(2)
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        sys.exit(2)
    classpath, stamp = build()
    cores, heap_mb, mem_mb = machine()

    t_start = time.time()
    stamp_s = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    run_id = f"{stamp_s}-{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    work = os.path.join(BENCH, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(RESULTS, exist_ok=True)
    record_file = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseG1GC",
           f"-XX:ActiveProcessorCount={cores}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, record_file]
    log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"local[{cores}] heap={heap_mb}m")
    try:
        cpu0 = cpu_times()
        rc, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        cpu1 = cpu_times()
        if rc is None:
            log(f"run exceeded {RUN_TIMEOUT_S} s")
            sys.exit(1)
        if rc != 0 or not os.path.exists(record_file):
            log(f"benchmark JVM failed (exit {rc})")
            sys.exit(1)
        with open(record_file) as f:
            rec = json.load(f)

        # what the engine left in java.io.tmpdir (graft-* dirs), measured
        # after the JVM has exited, not cleaned silently
        leaked = [p for p in glob.glob(os.path.join(tmp, "graft-*"))]
        rec["leaked_tmp_mb"] = sum(dir_mb(p) if os.path.isdir(p) else os.path.getsize(p) / 1048576.0
                                   for p in leaked)
        rec["leaked_tmp_entries"] = len(leaked)

        control_ok = True
        if a.workload == "dedup":
            bad, notes, control_ok = oracle_check(rec)
            rec["failed"] += bad
            rec["failures"] += notes
            rec["oracle_negative_control_caught"] = control_ok
            if not control_ok:
                rec["failures"].append("oracle negative control: perturbed rows passed")
        rec["failed_share"] = rec["failed"] / max(1, rec["attempted"])
        correct = rec["failed"] == 0 and control_ok

        wanted = PER_LAYER if a.trace else END_TO_END
        source = rec["per_layer"] if a.trace else rec["end_to_end"]
        missing = [m for m in wanted if m not in source or source[m] is None]
        if missing:
            log(f"metrics not measured: {missing}")
            correct = False
        metrics = {m: {"value": source.get(m), "unit": u} for m, u in wanted.items()}

        if a.trace:
            rec["trace_overhead"] = trace_overhead(rec, a.workload, a.seed, stamp)

        rec.update({"run_id": run_id, "source_stamp": stamp, "commit": commit(),
                    "nproc": cores, "mem_total_mb": mem_mb, "heap_mb_requested": heap_mb,
                    "run_s": time.time() - t_start, "correct": correct,
                    "host_steal_share": steal_share(cpu0, cpu1)})
        with open(os.path.join(RESULTS, run_id + ".json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        for name in END_TO_END:
            log(f"{name} = {rec['end_to_end'].get(name)} {END_TO_END[name]}")
        detail = rec.get(a.workload, {})
        for k, v in detail.items():
            if not isinstance(v, (dict, list)) and not k.endswith("_dir"):
                log(f"{a.workload}.{k} = {v}")
        log(f"leaked_tmp_mb = {rec['leaked_tmp_mb']:.3f}; failed_share = {rec['failed_share']}")
        for note in rec["failures"]:
            log(f"failure: {note}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, ".work"))
        except OSError:
            pass

    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def trace_overhead(rec, workload, seed, stamp):
    """Traced minus untraced end-to-end metrics, against the latest
    untraced run of the same workload, seed and sources in this
    checkout; None when there is no such run."""
    for path in sorted(glob.glob(os.path.join(RESULTS, f"*-{workload}-s{seed}-t0-*.json")),
                       reverse=True):
        with open(path) as f:
            base = json.load(f)
        if base.get("source_stamp") == stamp:
            return {"against": os.path.basename(path),
                    "traced_minus_untraced": {
                        k: rec["end_to_end"][k] - v for k, v in base["end_to_end"].items()
                        if rec["end_to_end"].get(k) is not None and v is not None}}
    return None


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
