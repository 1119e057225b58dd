"""Turns the raw report of one benchmark run (samples, counts, spans) into
the end-to-end and per-layer metrics named in BENCHMARK.json."""

import statistics

# Percentiles the harness may report as a tail, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "query_qps": "1/s",
    "recall_at_10": "frac",
    "ingest_images_per_s": "1/s",
    "refresh_p50_ms": "ms",
    "upsert_rows_per_s": "1/s",
    "index_mem_mb": "MiB",
    "ops_success_frac": "frac",
}

PER_LAYER_UNITS = {
    "ingest.scan_ms": "ms",
    "ingest.dense_ids_ms": "ms",
    "ingest.bytes_read_mb": "MiB",
    "embed.image_ms": "ms",
    "embed.images_dropped": "count",
    "embed.text_ms": "ms",
    "embed.query_us": "us",
    "index.build_ms": "ms",
    "index.ivf_build_ms": "ms",
    "index.ivf_cells": "count",
    "index.search_ms": "ms",
    "index.rows_scanned_per_query": "count",
    "index.refresh_ms": "ms",
    "index.refresh_rows_read": "count",
    "index.state_rows": "count",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.shuffle_kb_per_query": "KiB",
    "spark.task_cpu_frac": "frac",
    "jvm.gc_frac": "frac",
}


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples: the smallest
    rank with at least p% of the samples at or below it. Exact for
    percentiles given in tenths."""
    tenths = round(p * 10)
    return max(1, -(-tenths * n // 1000))


def tail_percentile(n):
    """The highest candidate percentile with at least MIN_BEYOND of `n`
    samples beyond it, or None when even the median has too few."""
    for p in TAIL_CANDIDATES:
        if n > 0 and n - _rank(n, p) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile of the samples."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def failure_totals(ops):
    """(attempted, failed) summed over operation kinds. Each kind maps to
    {"attempted": a, "failed": f} with 0 <= f <= a."""
    attempted = failed = 0
    for kind, c in ops.items():
        a, f = int(c["attempted"]), int(c["failed"])
        if a < 0 or f < 0 or f > a:
            raise ValueError(f"inconsistent counts for {kind}: {c}")
        attempted += a
        failed += f
    return attempted, failed


def end_to_end(raw):
    query_ms = raw["query_ms"]
    tail = tail_percentile(len(query_ms))
    if tail is None or tail < 95.0:
        raise ValueError(f"{len(query_ms)} query samples cannot support a p95")
    attempted, failed = failure_totals(raw["ops"])
    if attempted < 1:
        raise ValueError("no operation attempted")
    refresh_s = sum(raw["refresh_ms"]) / 1000.0
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "query_p50_ms": percentile(query_ms, 50.0),
        "query_p95_ms": percentile(query_ms, 95.0),
        "query_qps": len(query_ms) / raw["serve_window_s"],
        "recall_at_10": statistics.fmean(raw["recall"]),
        "ingest_images_per_s": statistics.median(
            i["items"] / i["seconds"] for i in raw["ingest"]),
        "refresh_p50_ms": statistics.median(raw["refresh_ms"]),
        "upsert_rows_per_s": sum(raw["refresh_rows"]) / refresh_s,
        "index_mem_mb": raw["index_mem_bytes"] / 2**20,
        "ops_success_frac": 1.0 - failed / attempted,
    }


def _durations(spans, names, reqs=None):
    return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
            if s["name"] in names and (reqs is None or s["req"] in reqs)]


def _median_or_zero(values):
    return statistics.median(values) if values else 0.0


def per_layer(raw):
    spans = raw["spans"]
    c = raw["counters"]
    ops = c["ops"]
    facts = raw["facts"]
    empty = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "cpu_ns": 0,
             "records_read": 0, "bytes_read": 0, "scan_rows": 0}
    query, refresh, ingest = (ops.get(k, empty) for k in ("query", "refresh", "ingest"))
    n_query = max(1, raw["ops"].get("query", {}).get("attempted", 0))
    n_refresh = max(1, raw["ops"].get("refresh", {}).get("attempted", 0))
    n_ingest = max(1, raw["ops"].get("ingest", {}).get("attempted", 0))
    query_reqs = {s["id"] for s in spans if s["name"] == "request.query"}
    window_ns = max(1, c["window_ns"])
    return {
        "ingest.scan_ms": _median_or_zero(_durations(spans, {"ingest.scan"})),
        "ingest.dense_ids_ms": _median_or_zero(_durations(spans, {"ingest.withDenseIds"})),
        "ingest.bytes_read_mb": ingest["bytes_read"] / n_ingest / 2**20,
        "embed.image_ms": _median_or_zero(_durations(spans, {"embed.embedImages"})),
        "embed.images_dropped": facts.get("images_dropped", 0),
        "embed.text_ms": _median_or_zero(_durations(spans, {"embed.embedText"})),
        "embed.query_us": 1000.0 * _median_or_zero(
            _durations(spans, {"embed.forQuery"}, query_reqs)),
        "index.build_ms": _median_or_zero(_durations(spans, {"index.build"})),
        "index.ivf_build_ms": _median_or_zero(_durations(spans, {"index.buildIvf"})),
        "index.ivf_cells": facts.get("ivf_cells", 0),
        "index.search_ms": _median_or_zero(
            _durations(spans, {"index.search", "index.searchIvf"}, query_reqs)),
        "index.rows_scanned_per_query": query["scan_rows"] / n_query,
        "index.refresh_ms": _median_or_zero(_durations(spans, {"index.refresh"})),
        "index.refresh_rows_read": refresh["records_read"] / n_refresh,
        "index.state_rows": facts.get("state_rows", 0),
        "spark.jobs_per_query": query["jobs"] / n_query,
        "spark.tasks_per_query": query["tasks"] / n_query,
        "spark.shuffle_kb_per_query": query["shuffle_bytes"] / n_query / 1024,
        "spark.task_cpu_frac": sum(o["cpu_ns"] for k, o in ops.items() if k != "warmup")
                               / (window_ns * c["cores"]),
        "jvm.gc_frac": c["gc_ns"] / window_ns,
    }


def self_times(spans):
    """Per span name: (count, total ms, self ms), where self time is the
    span's duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        total = s["end_ns"] - s["start_ns"]
        covered, cursor = 0, s["start_ns"]
        for ch in sorted(children.get(s["id"], []), key=lambda x: x["start_ns"]):
            lo, hi = max(cursor, ch["start_ns"]), min(s["end_ns"], ch["end_ns"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        n, t, own = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, t + total / 1e6, own + (total - covered) / 1e6)
    return out


def result_line(metrics, units, attempted, failed):
    return {
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
