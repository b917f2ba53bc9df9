#!/usr/bin/env python3
"""Benchmark of the graph engine: seeded closed-loop workloads.

    python3 perfbench/run.py --workload ingest|query|analytics|all \\
        --seed N --seconds S --trace 0|1 [--corrupt]

Run from the repository root. One workload runs in this process with one
client: session start, input generation, store pre-build and warm-up ops
make up ``setup_s``; then whole passes of the workload's op mix run back
to back, at least one, until ``--seconds`` have passed. Every op's output
is checked against the generator's truth outside its timed region.
``all`` runs each workload in a fresh process, one after another; with
``--trace 1`` it runs each untraced as well and reports the tracing
overhead.

The human-readable report (effective config, every metric with its unit)
goes to stdout before the last line, which is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` calls into the
package's public functions are recorded as spans (``spans.py``) and the
metrics are the per-layer ones. ``--corrupt`` damages the first measured
op's output, which the checks must count as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOAD_NAMES = ("ingest", "query", "analytics")


def _configure_env(work: str) -> dict:
    """Runner settings, fixed before the JVM starts: every core this
    process may use, a heap well under physical RAM (``get_spark``
    defaults to 20g), and every scratch file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = f"{max(1, min(3, int(phys_gib // 4)))}g"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package from this checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # no hsperfdata file: the JVM would write it under /tmp
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return {"cpus": cpus, "driver_mem": mem}


@dataclass
class Op:
    i: int
    kind: str
    seconds: float
    problems: list[str] = field(default_factory=list)
    rows: int = 0
    cpu_s: float = 0.0


class Harness:
    """What a workload sees: the session, the package's public API (each
    call a span when tracing), the tracer, the seed and a scratch dir."""

    def __init__(self, spark, tracer, seed: int, work: str):
        import pandas as pd
        from pyspark.sql import functions as F

        from neo4j_graphdb_spark.functions.text import ingest_filter
        from neo4j_graphdb_spark.graph.algorithms import connected_components, pagerank
        from neo4j_graphdb_spark.operators.cypher_text import run_cypher
        from neo4j_graphdb_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from neo4j_graphdb_spark.operators.similarity import cosine_topk
        from neo4j_graphdb_spark.sources.html_extract import extract_articles, extract_content
        from neo4j_graphdb_spark.writer import GraphStore

        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.pd, self.F = pd, F
        self.warmup: list[Op] = []
        w = tracer.wrap
        self.api = SimpleNamespace(
            GraphStore=GraphStore,
            run_cypher=run_cypher,   # spanned per statement kind by the workload
            extract_articles=w(extract_articles, "html_extract.extract_articles"),
            extract_content=w(extract_content, "html_extract.extract_content"),
            ingest_filter=w(ingest_filter, "text.ingest_filter"),
            exact_dedup=w(exact_dedup, "dedup.exact_dedup"),
            pagerank=w(pagerank, "graph.pagerank"),
            connected_components=w(connected_components, "graph.connected_components"),
            minhash_lsh_pairs=w(minhash_lsh_pairs, "dedup.minhash_lsh_pairs"),
            cosine_topk=w(cosine_topk, "similarity.cosine_topk"),
        )
        if tracer.active:
            # class-level, so calls the engine makes itself (run_cypher
            # reading or merging into the store) are spanned too
            for m in ("merge_nodes", "merge_edges", "nodes", "edges"):
                setattr(GraphStore, m, w(getattr(GraphStore, m), f"writer.{m}"))

    def record_warmup(self, o, problems: list[str]) -> None:
        self.warmup.append(Op(-1, o.kind, 0.0, problems))


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and every
    process under it (the JVM, the Python worker daemon and its workers),
    including their reaped children, read from /proc."""
    kids: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        stat[int(d)] = fields
        kids.setdefault(int(fields[1]), []).append(int(d))
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        if p in stat:
            ticks += sum(int(x) for x in stat[p][11:15])  # utime stime cutime cstime
        todo += kids.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _measure(args, wl, tracer, i: int) -> Op:
    """Op ``i``, timed; its output checked after the clock stops."""
    tracer.op = i
    cpu0 = tree_cpu_s(os.getpid()) if tracer.active else 0.0
    t = time.perf_counter()
    try:
        with tracer.span("op") as s:
            o = wl.op(i)
    except Exception:
        traceback.print_exc()
        return Op(i, "error", time.perf_counter() - t, ["exception"])
    finally:
        tracer.op = None
    op = Op(i, o.kind, time.perf_counter() - t, rows=o.rows)
    if tracer.active:
        op.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        s.name = f"op.{o.kind}"
        wl.after_op(o)
    if args.corrupt and i == 0:
        wl.corrupt(o)
    op.problems = wl.check(o)
    return op


def run_one(args, work: str) -> dict:
    from workloads import SIZES, WORKLOADS

    config = _configure_env(work)
    os.chdir(work)  # anything Spark drops in the cwd stays in the scratch dir
    t0 = time.perf_counter()
    from neo4j_graphdb_spark.session import get_spark

    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from spans import Tracer, live_store_bytes

        tracer = Tracer(spark, active=bool(args.trace))
        h = Harness(spark, tracer, args.seed, work)
        wl = WORKLOADS[args.workload](h)
        wl.setup()
        setup_s = time.perf_counter() - t0

        ops: list[Op] = []
        tracer.bookkeeping_s = 0.0
        loop0 = time.perf_counter()
        # whole passes of the workload's op mix, at least one, until
        # --seconds have passed, so every run measures the same mix
        while not ops or time.perf_counter() - loop0 < args.seconds:
            for i in range(len(ops), len(ops) + wl.cycle):
                ops.append(_measure(args, wl, tracer, i))
        final = wl.final_check()
        live, versions = live_store_bytes(wl.store_root())
    finally:
        _stop_spark(spark)

    done = [o for o in ops if o.kind != "error"]
    secs = [o.seconds for o in done]
    checked = h.warmup + ops
    failed = sum(1 for o in checked if o.problems) + (1 if final else 0)
    attempted = len(checked) + 1  # the final store check is one more

    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(secs) / sum(secs) if secs else 0.0, "1/s"),
        "store_bytes_per_input_byte": (live / wl.input_bytes, "B/B"),
    }
    report = dict(e2e)
    report["op_p50_s"] = (statistics.median(secs) if secs else 0.0, "s")
    report["op_samples"] = (len(secs), "count")
    report.update(wl.extra_metrics(done))
    report["fail_ratio"] = (failed / attempted, "ratio")
    metrics = e2e
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(tracer, wl, ops, start_s, versions)
        report.update(metrics)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))

    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={config['cpus']} driver_mem={config['driver_mem']} "
          f"sizes={json.dumps(SIZES[args.workload], sort_keys=True)}")
    print("# op seconds:", " ".join(f"{o.kind}:{o.seconds:.3f}" for o in ops))
    for o in checked:
        for p in o.problems:
            print(f"CHECK FAILED op {o.i} ({o.kind}): {p}")
    for p in final:
        print(f"CHECK FAILED final: {p}")
    for name, (v, unit) in report.items():
        print(f"{args.workload:>9} {name:<36} {v:>14.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _run_child(args, name: str, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)] + (["--corrupt"] if args.corrupt else [])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    print("\n".join(lines[:-1]))
    if p.returncode != 0 or not lines:
        print(f"perfbench: workload {name} exited with {p.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def run_all(args) -> int:
    """Each workload in a fresh process, so checkpoint blocks and tenured
    GC from one cannot land in the next. A traced pass also runs each
    workload untraced first and reports the tracing overhead: traced
    minus untraced seconds per op."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        plain = _run_child(args, name, 0) if args.trace else None
        res = _run_child(args, name, args.trace)
        if res is None or (args.trace and plain is None):
            return 1
        for r in filter(None, (plain, res)):
            combined["correct"] &= r["correct"]
            combined["attempted"] += r["attempted"]
            combined["failed"] += r["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
        if plain is not None:
            over = res["metrics"]["trace.op_mean_s"]["value"] - 1 / plain["metrics"]["ops_per_s"]["value"]
            combined["metrics"][f"{name}.trace.overhead_s_per_op"] = {"value": over, "unit": "s"}
            print(f"{name:>9} {'trace.overhead_s_per_op':<36} {over:>14.6g} s")
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "neo4j_graphdb_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run_one(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's dir is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
