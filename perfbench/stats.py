"""The benchmark's arithmetic: medians, tail percentiles, interval unions,
span self time, error rate, and the per-layer metrics of a traced run.

Times in a run record are epoch milliseconds; results are seconds or MB.
"""
import math
import os
import statistics

MB = 1048576.0
SMALL_JOB_MS = 50.0

TPCH = ["q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
        "q4_priority_count", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q10_returned_items", "q11_important_parts",
        "q12_priority_shipping", "q13_order_distribution",
        "q14_promo_revenue", "q15_top_supplier",
        "q16_supplier_part_counts", "q17_small_quantity",
        "q18_large_orders", "q19_disjunctive_revenue", "q20_part_promotion",
        "q21_waiting_orders", "q22_idle_balances"]
OLIST_NODES = ["olist_customers_dataset", "olist_order_items_dataset",
               "olist_orders_dataset", "stg_items", "stg_olist_customers",
               "stg_olist_orders", "fct_orders"]
OLIST_TESTS = ["unique_fct_orders_order_id", "not_null_fct_orders_order_id",
               "not_null_fct_orders_customer_id",
               "relationships_fct_orders_customer_id",
               "assert_revenue_is_positive"]
PRESETS = {"llm_pipeline_e2e": "e2e", "llm_pipeline_incremental": "incremental"}
# Call-site modules jobs are grouped by: the source file Spark names in each
# job's call site (Warehouse lives in Catalog.scala, the parquet `Tables`
# readers in Engine.scala). Jobs that AQE and broadcast exchanges submit
# from Spark's own threads carry no user frame and count as `async`.
SITES = ["Ckpt", "Dedup", "Catalog", "Checks", "Engine", "Sink", "async",
         "other"]

LAYER_METRICS = (
    [("spark.jobs", "count"), ("spark.jobs_small", "count"),
     ("spark.driver_gap_s", "s"), ("spark.parallelism", "ratio"),
     ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
     ("spark.spill_mb", "MB"), ("spark.task_skew", "ratio"),
     ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.blocks_mb_after", "MB"),
     ("ckpt.cuts", "count"), ("ckpt.cut_s", "s"),
     ("sql.actions", "count"), ("sql.planning_s", "s"), ("sql.exec_s", "s"),
     ("self.pass_s", "s"), ("self.calls_s", "s"),
     ("trace.overhead", "ratio")]
    + [(f"tpch.{q}_s", "s") for q in TPCH]
    + [(f"olist.node.{n}_s", "s") for n in OLIST_NODES]
    + [(f"olist.test.{t}_s", "s") for t in OLIST_TESTS]
    + [("olist.warehouse_mb", "MB"), ("olist.dag_speedup", "ratio")]
    + [(f"corpus.{p}.{k}_s", "s") for p in PRESETS.values()
       for k in ("build", "funnel")]
    + [(f"site.{m}.{k}", u) for m in SITES
       for k, u in (("jobs", "count"), ("busy_s", "s"))])


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, ladder=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest percentile of `ladder` with at least ten samples beyond it,
    as (percentile, nearest-rank value, samples beyond); None if even the
    median has fewer than ten samples above it.
    """
    xs = sorted(xs)
    n = len(xs)
    for p in ladder:
        rank = max(1, math.ceil(p / 100.0 * n))
        beyond = n - rank
        if beyond >= 10:
            return p, xs[rank - 1], beyond
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's length minus the union of its children, clipped to it."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def site_module(call_site):
    """`localCheckpoint at Ckpt.scala:34` -> `Ckpt`; a call site in a
    Java frame (Spark's async executors) -> `async`; else `other`.
    """
    f = call_site.rsplit(" at ", 1)[-1].split(":")[0]
    stem, ext = os.path.splitext(f)
    if ext == ".java":
        return "async"
    return stem if stem in SITES else "other"


def _dur(x):
    return x["end_ms"] - x["start_ms"]


def pass_layers(record, p):
    """Per-layer metrics of one traced pass `p` (a span map)."""
    spans = record["spans"]
    calls = [s for s in spans if s["parent"] == p["id"]]
    ids = {p["id"]} | {c["id"] for c in calls}
    jobs = [j for j in record["jobs"] if j["span"] in ids and j["end_ms"] >= 0]
    iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    busy = union_length(iv)
    m = {}
    m["spark.jobs"] = len(jobs)
    m["spark.jobs_small"] = sum(1 for j in jobs if _dur(j) <= SMALL_JOB_MS)
    m["spark.driver_gap_s"] = self_time((p["start_ms"], p["end_ms"]), iv) / 1e3
    m["spark.parallelism"] = (sum(j["run_ms"] for j in jobs) / busy) if busy else 0.0
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / MB
    m["spark.shuffle_read_mb"] = sum(j["shuffle_read"] for j in jobs) / MB
    m["spark.spill_mb"] = sum(j["spill"] for j in jobs) / MB
    stages = [s for j in jobs for s in j["stages"] if s["task_ms"]]
    if stages:
        longest = max(stages, key=lambda s: s["duration_ms"])
        med = median(longest["task_ms"])
        m["spark.task_skew"] = max(longest["task_ms"]) / med if med else 1.0
    else:
        m["spark.task_skew"] = 0.0
    m["spark.executor_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9
    acts = [q for q in record["sql"]
            if p["start_ms"] <= q["start_ms"] <= p["end_ms"]]
    m["sql.actions"] = len(acts)
    m["sql.planning_s"] = sum(q["planning_ms"] for q in acts) / 1e3
    m["sql.exec_s"] = sum(q["exec_ms"] for q in acts) / 1e3
    m["self.pass_s"] = self_time((p["start_ms"], p["end_ms"]),
                                 [(c["start_ms"], c["end_ms"]) for c in calls]) / 1e3
    m["self.calls_s"] = sum(
        self_time((c["start_ms"], c["end_ms"]),
                  [(j["start_ms"], j["end_ms"]) for j in jobs
                   if j["span"] == c["id"]])
        for c in calls) / 1e3
    by_kind = {}
    for c in calls:
        by_kind.setdefault((c["kind"], c["name"]), []).append(_dur(c) / 1e3)
    for q in TPCH:
        m[f"tpch.{q}_s"] = sum(by_kind.get(("query", q), []))
    for t in OLIST_TESTS:
        m[f"olist.test.{t}_s"] = sum(by_kind.get(("test", t), []))
    for name, short in PRESETS.items():
        m[f"corpus.{short}.build_s"] = sum(by_kind.get(("build", name), []))
        m[f"corpus.{short}.funnel_s"] = sum(by_kind.get(("funnel", name), []))
    run_s = sum(by_kind.get(("catalog", "run"), []))
    for mod in SITES:
        mj = [j for j in jobs if site_module(j["site"]) == mod]
        m[f"site.{mod}.jobs"] = len(mj)
        m[f"site.{mod}.busy_s"] = union_length(
            [(j["start_ms"], j["end_ms"]) for j in mj]) / 1e3
    # every lineage cut is one eager checkpoint job issued from Ckpt.scala
    m["ckpt.cuts"] = m["site.Ckpt.jobs"]
    m["ckpt.cut_s"] = m["site.Ckpt.busy_s"]
    return m, run_s


def layer_metrics(record):
    """Per-layer metrics of a traced run: the median over its timed passes;
    each olist node from the layer pass, whose sum over the threads = 4
    `Catalog.run` of the (equally warm) traced overhead pass is the DAG
    speed-up; and the tracing overhead, the traced over the untraced
    overhead passes.
    """
    spans = record["spans"]
    pass_span = {s["name"]: s for s in spans if s["kind"] == "pass"}
    by_role = {}
    for p in record["passes"]:
        by_role.setdefault((p["role"], p["traced"]), []).append(p)
    per_pass = []
    for p in by_role.get(("timed", True), []):
        m, _ = pass_layers(record, pass_span[str(p["index"])])
        m["spark.gc_s"] = p["gc_s"]
        m["spark.blocks_mb_after"] = p["blocks_mb"]
        m["olist.warehouse_mb"] = p["facts"].get("warehouse_mb", 0.0)
        per_pass.append(m)
    out = {k: median(m[k] for m in per_pass) for k in per_pass[0]} if per_pass else {}

    layer = [s["id"] for s in spans if s["kind"] == "layer"]
    nodes = {s["name"]: _dur(s) / 1e3 for s in spans
             if s["kind"] == "node" and s["parent"] in layer}
    for n in OLIST_NODES:
        out[f"olist.node.{n}_s"] = nodes.get(n, 0.0)
    traced = by_role.get(("overhead", True), [])
    untraced = by_role.get(("overhead", False), [])
    run = (pass_layers(record, pass_span[str(traced[0]["index"])])[1]
           if traced else 0.0)
    out["olist.dag_speedup"] = sum(nodes.values()) / run if run else 0.0
    out["trace.overhead"] = (median(p["wall_s"] for p in traced)
                             / median(p["wall_s"] for p in untraced)
                             if traced and untraced else 0.0)
    units = dict(LAYER_METRICS)
    return {name: {"value": out.get(name, 0.0), "unit": units[name]}
            for name, _ in LAYER_METRICS}
