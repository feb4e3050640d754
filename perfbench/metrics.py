"""Reduce one harness run record to the benchmark's metrics.

End-to-end metrics (untraced runs) and per-layer metrics (traced runs) are
defined in BENCHMARK.json; this module is their one implementation. Every
per-layer metric is emitted on every workload, as 0 where the workload does
not exercise that layer.
"""
import statistics

import gen

KERNELS = ["graft_dot", "graft_cosine", "graft_l2sq", "graft_intersect_count",
           "graft_suffix_lcp", "graft_simhash60", "graft_word_ngrams60",
           "graft_adjacent_pairs", "minhash_signature"]
LLM_QUERIES = ["refinery_full", "forget_audit"]
LAYERS = ["bench", "etl", "streaming", "queries", "llm", "functions", "spark"]
SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
         ("task_busy_s", "s"), ("gc_s", "s")]
# rows of the generated corpus, the input of the registry workloads
CORPUS_ROWS = (5 + 25 + gen.N_CUSTOMER + gen.N_SUPPLIER + gen.N_PART + gen.N_ORDERS
               + gen.N_LINEITEM + gen.N_EVENTS + gen.N_DOCUMENTS + gen.N_EMBEDDINGS)

END_TO_END = ["setup_s", "cold_s", "wall_s", "op_p50_s", "op_p90_s", "rows_per_s",
              "retained_heap_mb"]
PER_LAYER = (
    [f"spark.{k}" for k, _ in SPARK]
    + ["spark.busy_share", "spark.codegen_compile_s", "spark.codegen_classes",
       "spark.codegen_warm_classes", "graft.session_build_s",
       "queries.build_s", "queries.plan_s", "queries.exec_s"]
    + [f"queries.{q}.{p}_s" for q in LLM_QUERIES for p in ("build", "plan", "exec")]
    + ["queries.tpch.build_s", "queries.tpch.plan_s", "queries.tpch.exec_s",
       "etl.upload_s", "etl.upload_jobs",
       "streaming.drain_s", "streaming.batches", "streaming.add_batch_s",
       "streaming.latest_offset_s", "streaming.query_planning_s", "streaming.wal_commit_s",
       "streaming.jobs_per_object", "streaming.output_files",
       "streaming.output_bytes_per_input_byte"]
    + [f"llm.{q}.{w}_s" for q in LLM_QUERIES for w in ("cold", "warm")]
    + ["llm.artifact_build_s", "llm.tmpdir_entries",
       "plan_bridge.pinned_rdds", "plan_bridge.storage_mb"]
    + [f"functions.{k}.{r}" for k in KERNELS for r in ("rows_per_s", "builtin_rows_per_s")]
    + [f"self.{layer}_s" for layer in LAYERS]
    + ["trace.accounted_share", "trace.overhead_s", "trace.untraced_wall_s"])


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n):
    """The highest percentile, up to the 90th, with at least ten samples
    beyond it; the median when there are too few samples for that."""
    return max(0.5, min(0.9, 1 - 10 / n)) if n else 0.5


def input_rows(record):
    last = record["iterations"][-1]
    if "etl" in last:
        return last["etl"]["input_rows"]
    if "kernel_rows" in last:
        return last["kernel_rows"] * len(KERNELS)
    return CORPUS_ROWS


def end_to_end(record):
    its = [it for it in record["iterations"][1:] if not it["traced"]]
    wall = med(it["wall_s"] for it in its)
    lat = [o["s"] for it in its for o in it["ops"] if o["latency"] and o["ok"]]
    q = tail_quantile(len(lat))
    values = {
        "setup_s": (med(record["setup_s"]), "s"),
        "cold_s": (record["iterations"][0]["wall_s"], "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (quantile(lat, 0.5) if lat else 0.0, "s"),
        "op_p90_s": (quantile(lat, q) if lat else 0.0, "s"),
        "rows_per_s": (input_rows(record) / wall if wall else 0.0, "rows/s"),
        "retained_heap_mb": (record["retained_heap_mb"], "MB"),
    }
    notes = {"op_samples": len(lat), "op_p90_quantile": q, "warm_iterations": len(its)}
    return values, notes


def self_times(iteration, spans):
    """Seconds of one traced iteration attributed to each layer: each
    instant goes to the deepest span or Spark job active then (a job belongs
    to the deepest span containing its start), so the layers' self times
    partition the iteration's wall time along the blocking path."""
    root = next(s for s in spans if s["name"] == f"iteration-{iteration['index']}")
    inside = {s["id"]: s for s in spans
              if root["start"] <= s["start"] and s["end"] <= root["end"]}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            p = inside.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    items = [(s["start"], s["end"], d(s), s["layer"]) for s in inside.values()]
    for j in iteration.get("jobs", []):
        host = max((s for s in inside.values() if s["start"] <= j["start"] <= s["end"]),
                   key=d, default=root)
        items.append((max(j["start"], root["start"]), min(j["end"], root["end"]),
                      d(host) + 1, "spark"))
    cuts = sorted({t for a, b, _, _ in items for t in (a, b)})
    out = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        active = [x for x in items if x[0] <= a and b <= x[1]]
        if active:
            out[max(active, key=lambda x: (x[2], x[0]))[3]] += (b - a) / 1e3
    return out


def per_layer(record, cores):
    its = record["iterations"]
    cold, warm = its[0], its[1:]
    traced = [it for it in warm if it["traced"]]
    untraced = [it for it in warm if not it["traced"]]
    wall_u = med(it["wall_s"] for it in untraced)
    extra = record.get("traced_extra", {})
    v = dict.fromkeys(PER_LAYER, 0.0)

    def ops(name, iters):
        return [o["s"] for it in iters for o in it["ops"] if o["name"] == name and o["ok"]]

    def span_total(it, name):
        root = next(s for s in record["spans"] if s["name"] == f"iteration-{it['index']}")
        return sum(s["end"] - s["start"] for s in record["spans"] if s["name"] == name
                   and root["start"] <= s["start"] and s["end"] <= root["end"]) / 1e3

    for k, _ in SPARK:
        v[f"spark.{k}"] = med(it["counters"][k] for it in warm)
    v["spark.busy_share"] = v["spark.task_busy_s"] / (wall_u * cores) if wall_u else 0.0
    v["spark.codegen_compile_s"] = cold["counters"]["codegen_compile_s"]
    v["spark.codegen_classes"] = cold["counters"]["codegen_classes"]
    v["spark.codegen_warm_classes"] = med(it["counters"]["codegen_classes"] for it in warm)
    v["graft.session_build_s"] = med(record["session_build_s"])

    registry = sorted({o["name"] for it in traced for o in it["ops"]
                       if any(s["name"] == o["name"] + ".plan" for s in record["spans"])})
    for p in ("build", "plan", "exec"):
        per_query = {q: med(span_total(it, f"{q}.{p}") for it in traced) for q in registry}
        v[f"queries.{p}_s"] = sum(per_query.values())
        for q in LLM_QUERIES:
            v[f"queries.{q}.{p}_s"] = per_query.get(q, 0.0)
        tpch = {q: x for q, x in per_query.items() if q.startswith("sql_q")}
        tpch.update({q: x[f"{p}_s"] for q, x in extra.get("queries", {}).items()})
        v[f"queries.tpch.{p}_s"] = sum(tpch.values())

    etl = [it["etl"] for it in warm if "etl" in it]
    if etl:
        objects = etl[0]["objects"]
        v["etl.upload_s"] = med(o["s"] for it in untraced for o in it["ops"]
                                if o["name"].startswith("upload:") and o["ok"])
        v["etl.upload_jobs"] = med((it["counters"]["jobs"] - it["etl"]["drain_jobs"]) / objects
                                   for it in traced)
        v["streaming.drain_s"] = med(ops("drain", untraced))
        v["streaming.batches"] = med(e["batches"] for e in etl)
        for k in ("add_batch_s", "latest_offset_s", "query_planning_s", "wal_commit_s"):
            v[f"streaming.{k}"] = med(e[k] for e in etl)
        v["streaming.jobs_per_object"] = med(it["etl"]["drain_jobs"] / objects for it in traced)
        v["streaming.output_files"] = med(e["output_files"] for e in etl)
        v["streaming.output_bytes_per_input_byte"] = med(e["output_bytes"] / e["input_bytes"]
                                                         for e in etl)

    if any(o["name"] in LLM_QUERIES for o in cold["ops"]):
        for q in LLM_QUERIES:
            v[f"llm.{q}.cold_s"] = med(ops(q, [cold]))
            v[f"llm.{q}.warm_s"] = med(ops(q, untraced))
        v["llm.artifact_build_s"] = cold["wall_s"] - wall_u
    v["llm.tmpdir_entries"] = record["tmpdir_entries"]
    pb = [it["plan_bridge"] for it in its if "plan_bridge" in it]
    if pb:
        v["plan_bridge.pinned_rdds"] = pb[-1]["pinned_rdds"]
        v["plan_bridge.storage_mb"] = pb[-1]["storage_mb"]

    if "kernels" in extra:
        rates, builtin = extra["kernels"]["rows_per_s"], extra["kernels"]["builtin_rows_per_s"]
    else:
        rows = its[-1].get("kernel_rows", 0)
        rates = {k: rows / med(ops(k, untraced)) for k in KERNELS if ops(k, untraced)}
        builtin = extra.get("builtin_rows_per_s", {})
    for k in KERNELS:
        v[f"functions.{k}.rows_per_s"] = rates.get(k, 0.0)
        v[f"functions.{k}.builtin_rows_per_s"] = builtin.get(k, 0.0)

    selfs = [self_times(it, record["spans"]) for it in traced]
    for layer in LAYERS:
        v[f"self.{layer}_s"] = med(s[layer] for s in selfs)
    v["trace.accounted_share"] = med(sum(s.values()) / it["wall_s"]
                                     for s, it in zip(selfs, traced))
    v["trace.overhead_s"] = med(it["wall_s"] for it in traced) - wall_u
    v["trace.untraced_wall_s"] = wall_u
    return ({k: (float(x), unit_of(k)) for k, x in v.items()},
            {"traced_iterations": len(traced), "untraced_iterations": len(untraced)})


def unit_of(name):
    """The unit of a per-layer metric, from its name."""
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("share", "per_input_byte")):
        return "ratio"
    return "count"
