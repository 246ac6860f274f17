"""Turn a benchmark run record into the metrics BENCHMARK.json names."""
import statistics


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond=10):
    """The tail of a timing sample: `(value, percentile, n)`.

    The value is the highest order statistic with at least `beyond`
    samples above it. A run with fewer than `5 * beyond` samples would
    put that at or below its 80th percentile (or, from `2 * beyond`
    samples down, at or below the median), so there the rule keeps a
    fifth of the samples above it instead: the 80th percentile by
    nearest rank, which from 4 samples on is above the median and
    below the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = beyond if n >= 5 * beyond else max(1, n // 5)
    return float(s[n - k - 1]), 100.0 * (n - k) / n, n


def end_to_end(record):
    w = record["samples"]["write"]
    r = record["samples"]["read"]
    wt = tail(w)
    rt = tail(r)
    return {
        "setup_s": (record["session_s"] + median(record["generate_s"])
                    + record["prepare_s"]),
        "write_p50_ms": median(w),
        "write_tail_ms": wt[0],
        "read_p50_ms": median(r),
        "read_tail_ms": rt[0],
        "rows_per_s": record["rows_committed"] / (sum(w) / 1000.0) if w else 0.0,
        "live_heap_mb": record["live_heap_mb"],
        "storage_amp": record["storage_bytes"] / max(1, record["input_bytes"]),
    }, {"write": {"percentile": wt[1], "samples": wt[2]},
        "read": {"percentile": rt[1], "samples": rt[2]}}


def per_layer(record, names):
    layer = record["layer"]
    out = {}
    for n in names:
        v = layer.get(n, 0.0)
        out[n] = median(v) if isinstance(v, list) else float(v)
    return out


def validity(record):
    """A run is invalid when its tables span more than one
    `_ingestion_date` (it crossed UTC midnight: the sink partitions by
    `current_date()`, so the file count doubles)."""
    dates = record["diag"].get("ingestion_dates", [])
    if len(dates) > 1:
        return False, f"rows landed in {len(dates)} _ingestion_date partitions: {dates}"
    return True, ""


def result(record, spec, traced):
    e2e, tails = end_to_end(record)
    record["diag"]["tails"] = tails
    record["diag"]["valid"], record["diag"]["invalid_reason"] = validity(record)
    record["end_to_end"] = e2e
    if traced:
        wanted = spec["per_layer"]
        values = per_layer(record, [m["name"] for m in wanted])
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    correct = (all(c["ok"] for c in record["checks"])
               and record["failed"] == 0 and not record["errors"])
    return {"correct": correct, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}
