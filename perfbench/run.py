#!/usr/bin/env python3
"""Benchmark of the graft KG engine: KgRunner builds and corpus-ops queries.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 30 --trace 0

The first run in a checkout compiles the program's sources together with the
harness in perfbench/src (sbt, offline); later runs reuse the classes while
the sources are unchanged. Each op runs in a fresh JVM (`graftbench.Main`,
local[N] with N = available cores), because a KgRunner build or a batch of
queries is a batch job that pays JIT and codegen warm-up on every launch.
After the JVM exits, every output is checked in DuckDB and the last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones. With --trace 1 an
untraced reference op runs first, then the op runs with the benchmark's
SparkListener attached, and the metrics are the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import corpus_data  # noqa: E402
import metrics  # noqa: E402

KG_PAGES = 200
SENTENCE_PAGES = 200
RUN_LIMIT_S = 170.0
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def source_stamp(root):
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (root / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Compiles the program and the harness; returns the JVM classpath."""
    if not (root / "src" / "main" / "scala" / "graft" / "KgRunner.scala").is_file():
        raise BenchError(f"program sources not found under {root}/src/main/scala")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are needed to build the program")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    stamp, cp_file, stamp_file = source_stamp(root), out / "classpath.txt", out / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the program and the harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(out / "build.log", "w") as blog:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=blog, text=True,
            timeout=850)
        blog.write(proc.stdout)
    cp = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        raise BenchError(f"build failed; see {out / 'build.log'}")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    return cp[-1]


_children = set()


def _stop_children(signum, _frame):
    """Stops every JVM this process started, then exits."""
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except OSError:
            pass
    sys.exit(128 + signum)


def run_jvm(cp, args, work, tag, deadline):
    """Runs one benchmark JVM and returns its run record."""
    out = work / f"{tag}.json"
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
        "--work", str(work / tag), "--out", str(out)] + args
    with open(work / f"{tag}.log", "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        _children.add(proc.pid)
        try:
            proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{tag}: JVM did not finish in time; see {work / (tag + '.log')}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _children.discard(proc.pid)
    if proc.returncode != 0 or not out.is_file():
        tail = (work / f"{tag}.log").read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"{tag}: JVM exited with {proc.returncode}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def check_ops(con, workload, rec, data_dir, expected):
    """Runs the output checks of every op of a JVM record; marks failures
    on the ops and records the rows they produced. A failing digest check
    logs the digest found next to the pinned one."""
    for op in rec["ops"]:
        problems = [op["error"]] if op.get("error") else []
        if workload == "kg_build" and not op.get("error"):
            p, rows = checks.check_kg_dir(con, op["out_dir"], expected)
            problems += p
            op["out_rows"] = rows.get("triples", 0)
            op["out_bytes"] = dir_bytes(Path(op["out_dir"]))
        elif workload == "corpus_ops" and "results_dir" in op:
            checks.corpus_views(con, data_dir)
            total = 0
            for q, sql in rec["oracle_sql"].items():
                p, d = checks.check_query(con, op["results_dir"], q, sql, expected.get(q))
                problems += p
                if d is not None:
                    total += checks.digest_rows(d)
            op["out_rows"] = total
        op["problems"] = problems
        for p in problems:
            log(f"op failed: {p}")


def dir_bytes(d):
    return sum(p.stat().st_size for p in d.rglob("*")
               if p.is_file() and not p.name.startswith(".") and p.name != "_SUCCESS")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)
    root = Path.cwd().resolve()
    try:
        cp = build(root)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        return 2

    deadline = time.monotonic() + RUN_LIMIT_S
    work = root / ".bench_build" / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    expected = json.loads((HERE / "expected.json").read_text())[
        metrics.WORKLOADS[a.workload]["pin_key"]]

    args = ["--workload", a.workload, "--seed", str(a.seed)]
    data_dir = None
    if a.workload == "kg_build":
        args += ["--pages", str(KG_PAGES), "--sentence-pages", str(SENTENCE_PAGES),
                 "--kg-source", str(root / "src" / "main" / "scala" / "graft" / "KgRunner.scala"),
                 "--snapshots", ",".join(metrics.KG_SNAPSHOTS),
                 "--meta-snapshots", ",".join(metrics.META_SNAPSHOTS)]
    else:
        data_dir = corpus_data.write(str(work / "data"), a.seed)
        args += ["--data", data_dir, "--queries", ",".join(metrics.QUERIES),
                 "--oracle-inputs", ",".join(metrics.ORACLE_INPUTS)]

    con = checks.duckdb.connect()
    records = []
    ref_op_s = None
    try:
        if a.trace:
            # the untraced reference op, right before the traced one
            ref = run_jvm(cp, args + ["--trace", "0"], work, "jvm-ref", deadline)
            check_ops(con, a.workload, ref, data_dir, expected)
            records.append(ref)
            ref_op_s = statistics.median(metrics.op_s(o) for o in ref["ops"])
        # ops: one per JVM, until --seconds of op time were measured
        while True:
            tag = f"jvm-{len(records)}"
            rec = run_jvm(cp, args + ["--trace", str(a.trace)], work, tag, deadline)
            check_ops(con, a.workload, rec, data_dir, expected)
            records.append(rec)
            spent = sum(o["wall_s"] for r in records for o in r["ops"])
            last = max(o["wall_s"] for o in rec["ops"]) if rec["ops"] else 0
            room = deadline - time.monotonic()
            if spent >= a.seconds or a.trace or room < 1.5 * last + 15:
                break
    except BenchError as e:
        log(f"error: {e}")
        return 1

    try:
        result = metrics.result(a.workload, records, a.trace, ref_op_s)
    except ValueError as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
