"""The benchmark's metric catalogue: names, units, direction, and for
each per-layer metric the end-to-end metric and workload it should
move. ``BENCHMARK.json`` lists the same names; a test keeps them in
step.

Every run prints every metric of its kind. A per-layer metric of a
layer that a workload never calls reads 0 on that workload.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = ("serve", "ingest", "analytics")


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    moves: str = ""  # "<end-to-end metric> on <workload>" it should move


# End-to-end metrics. Each workload fills them with its own unit of
# work (README.md has the table): a serving request, an ingest cycle,
# a pass over the analytics mix.
END_TO_END = (
    Metric("setup_s", "s", "lower"),
    Metric("rss_mb", "MB", "lower"),
    Metric("p50_ms", "ms", "lower"),
    Metric("tail_ms", "ms", "lower"),
    Metric("throughput_per_s", "1/s", "higher"),
)

SUBJECTS = (
    "auctions_page", "price_list", "auctions_cursor", "price_history_slice",
    "items_query", "owners_query", "realm_status", "token_history",
    "unmet_demand",
)

# The analytics mix: one query from each query module (two from
# core), so every operator family the serving and ingest paths never
# call (dedup, similarity, text statistics, nested session windows)
# runs. The graph queries (a20 PageRank) are left out: one costs more
# than the rest of a warm pass.
MIX = {
    "a2_price_stats_median": "core",
    "o4_topn_per_group": "core",
    "j3_snapshot_churn": "joins_sets",
    "w2_history_series": "timeseries",
    "t4b_native_session_window": "nested",
    "x2_ngram_jaccard": "ext_dedup",
    "x3_cosine_topk": "ext_similarity",
    "x4_text_quality": "ext_text",
}
MODULES = tuple(dict.fromkeys(MIX.values()))

SERVE_P50 = "p50_ms and tail_ms on serve"
INGEST_CYCLE = "p50_ms on ingest"


def _per_layer() -> tuple[Metric, ...]:
    m = [
        Metric("bench.late_ms", "ms", "lower", "validity of the run (serve)"),
        Metric("trace.overhead_pct", "%", "lower", "validity of the run"),
        Metric("bench.peak_rss_mb", "MB", "lower", "rss_mb on every workload"),
        Metric("session.get_spark_s", "s", "lower", "setup_s on every workload"),
        Metric("session.cold_op_s", "s", "lower",
               "nothing bounded: the first operation in a fresh JVM"),
        Metric("serving_gate.warm_cache_s", "s", "lower", "setup_s on serve"),
        Metric("serving_gate.cached_mb", "MB", "lower", "setup_s and rss_mb on serve"),
        Metric("api.queue_ms", "ms", "lower", SERVE_P50),
    ]
    for s in SUBJECTS:
        m += [
            Metric(f"api.{s}.build_ms", "ms", "lower", SERVE_P50),
            Metric(f"api.{s}.plan_ms", "ms", "lower", SERVE_P50),
            Metric(f"api.{s}.exec_ms", "ms", "lower", SERVE_P50),
            Metric(f"api.{s}.jobs", "count", "lower", SERVE_P50),
            Metric(f"api.{s}.tasks", "count", "lower", SERVE_P50),
        ]
    for step in ("read_dump", "ingest_bronze", "redeliver", "silver", "gold_prices"):
        m.append(Metric(f"medallion.{step}_s", "s", "lower", INGEST_CYCLE))
    for step in ("ingest_bronze", "redeliver", "silver", "gold_prices", "churn"):
        m.append(Metric(f"medallion.{step}.jobs", "count", "lower", INGEST_CYCLE))
    m += [
        Metric("medallion.cycle_tasks", "count", "lower", INGEST_CYCLE),
        Metric("medallion.partitions_refreshed", "count", "lower", INGEST_CYCLE),
        Metric("medallion.silver_rewrite_ratio", "ratio", "lower", INGEST_CYCLE),
        Metric("medallion.skip_ratio", "ratio", "higher", INGEST_CYCLE),
        Metric("medallion.cycle_remainder_s", "s", "lower", INGEST_CYCLE),
        Metric("maintenance.churn_s", "s", "lower", INGEST_CYCLE),
        Metric("maintenance.compact_s", "s", "lower", "throughput_per_s on ingest"),
        Metric("maintenance.compact_bytes_rewritten", "bytes", "lower",
               "throughput_per_s on ingest"),
        Metric("ingest.write_amp", "ratio", "lower", "throughput_per_s on ingest"),
    ]
    for table in ("bronze", "silver", "gold", "churn", "manifest"):
        m += [
            Metric(f"maintenance.{table}.bytes_written", "bytes", "lower",
                   "throughput_per_s on ingest"),
            Metric(f"maintenance.{table}.files_written", "count", "lower",
                   "throughput_per_s on ingest"),
        ]
    for q in MIX:
        m += [
            Metric(f"{q}.plan_ms", "ms", "lower", "p50_ms on analytics"),
            Metric(f"{q}.exec_s", "s", "lower", "p50_ms on analytics"),
            Metric(f"{q}.jobs", "count", "lower", "p50_ms on analytics"),
            Metric(f"{q}.tasks", "count", "lower", "p50_ms on analytics"),
        ]
    for mod in MODULES:
        m += [
            Metric(f"queries.{mod}.s", "s", "lower", "p50_ms on analytics"),
            Metric(f"queries.{mod}.cold_minus_warm_s", "s", "lower",
                   "session.cold_op_s on analytics"),
        ]
    return tuple(m)


PER_LAYER = _per_layer()
