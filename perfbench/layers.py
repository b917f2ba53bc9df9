"""Per-layer metrics of a traced run, computed from the recorded spans.

Only spans opened during measured ops count (set-up and warm-up spans are
kept in the span dump but not here). A layer the workload bypasses
reports 0: that is the prediction for it. Times are medians per call;
job/stage/task counts are means per call, which repeat exactly from run
to run when the plans do. A span around a call that returns a lazy frame
(``GraphStore.nodes/edges``, ``ingest_filter``, ``exact_dedup``,
``extract_*``) times only the plan building; the work runs, and is
counted, in the span that materialises the frame.
"""

from __future__ import annotations

import statistics

# span name → module, for self time per layer. Spans the benchmark opens
# around a whole job (call + collect) count toward the operator's module;
# ``op.*`` self time is the client's own work (building input frames).
_MODULE = {
    "html_extract": "html_extract",
    "text": "html_extract",   # ingest_filter, fused into the extract stage
    "writer": "writer",
    "cypher_text": "cypher_text",
    "cypher": "cypher",
    "graph": "graph",
    "pagerank": "graph",
    "components": "graph",
    "dedup": "dedup",
    "minhash": "dedup",
    "similarity": "similarity",
    "cosine_topk": "similarity",
    "op": "client",
}


def layer_metrics(tracer, wl, ops, start_s: float, versions: int) -> dict[str, tuple[float, str]]:
    n_ops = max(1, len(ops))

    def spans(*names):
        return [s for s in tracer.spans if s.op is not None and s.name in names]

    def med_s(*names):
        d = [s.end - s.start for s in spans(*names)]
        return statistics.median(d) if d else 0.0

    def mean_incl(key, *names):
        v = [tracer.inclusive(s, key) for s in spans(*names)]
        return sum(v) / len(v) if v else 0.0

    kept = getattr(wl, "kept", [])
    roots = [s for s in tracer.spans if s.op is not None and s.parent is None]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "html_extract.call_s": (med_s("html_extract"), "s"),
        "html_extract.kept_ratio": (
            sum(r for r, _ in kept) / sum(c for _, c in kept) if kept else 0.0, "ratio"),
        "writer.merge_nodes_s": (med_s("writer.merge_nodes"), "s"),
        "writer.merge_edges_s": (med_s("writer.merge_edges"), "s"),
        "writer.jobs_per_merge": (mean_incl("jobs", "writer.merge_nodes", "writer.merge_edges"), "count"),
        "writer.tasks_per_merge": (mean_incl("tasks", "writer.merge_nodes", "writer.merge_edges"), "count"),
        "writer.bytes_written_per_input_byte": (
            statistics.median(wl.bytes_written) if getattr(wl, "bytes_written", None) else 0.0, "B/B"),
        "writer.versions": (float(versions), "count"),
        "writer.read_s": (med_s("writer.nodes", "writer.edges"), "s"),
        "cypher_text.plan_s": (med_s("cypher_text.plan"), "s"),
        "cypher_text.plan_jobs": (mean_incl("jobs", "cypher_text.plan"), "count"),
        "cypher_text.write_s": (med_s("cypher_text.write"), "s"),
        "cypher_text.write_jobs": (mean_incl("jobs", "cypher_text.write"), "count"),
        "cypher.exec_s": (med_s("cypher.exec"), "s"),
        "cypher.exec_jobs": (mean_incl("jobs", "cypher.exec"), "count"),
        "cypher.exec_tasks": (mean_incl("tasks", "cypher.exec"), "count"),
    }
    for job in ("pagerank", "components", "minhash", "cosine_topk"):
        m[f"{job}.call_s"] = (med_s(job), "s")
        m[f"{job}.jobs"] = (mean_incl("jobs", job), "count")
    recall = getattr(wl, "recall", {"minhash": [], "topk": []})
    m["minhash.recall"] = (statistics.median(recall["minhash"]) if recall["minhash"] else 0.0, "ratio")
    m["cosine_topk.recall_at_k"] = (statistics.median(recall["topk"]) if recall["topk"] else 0.0, "ratio")

    m["jvm.gc_ms_per_op"] = (sum(s.gc_ms for s in roots) / n_ops, "ms")
    m["spark.jobs_per_op"] = (sum(tracer.inclusive(s, "jobs") for s in roots) / n_ops, "count")
    m["spark.stages_per_op"] = (sum(tracer.inclusive(s, "stages") for s in roots) / n_ops, "count")
    m["spark.tasks_per_op"] = (sum(tracer.inclusive(s, "tasks") for s in roots) / n_ops, "count")
    m["process.cpu_s_per_op"] = (sum(o.cpu_s for o in ops) / n_ops, "s")

    self_s: dict[str, float] = {mod: 0.0 for mod in sorted(set(_MODULE.values()))}
    for s in tracer.spans:
        if s.op is not None:
            self_s[_MODULE[s.name.split(".")[0]]] += tracer.self_s(s)
    for mod, v in self_s.items():
        m[f"layer.{mod}.self_s_per_op"] = (v / n_ops, "s")

    # seconds per op as traced; ``run.py --workload all --trace 1`` takes
    # the untraced figure from a plain run and reports the difference
    m["trace.op_mean_s"] = (sum(o.seconds for o in ops) / n_ops, "s")
    m["trace.bookkeeping_s_per_op"] = (tracer.bookkeeping_s / n_ops, "s")
    return m
