"""Round metrics (A1/A8): replace mutable atomic counters with aggregates.

Reference counters (/root/reference/stats.go:39-48): ``requests``,
``items``, ``errors``, ``download_fail`` plus one counter per observed
HTTP status (stats.go:162-167).  Here a round's metrics are one
``groupBy().count()`` over that round's fetch_log (partial aggregation
map-side, tiny shuffle) plus the item count — appended as rows of the
``metrics`` table, never mutated.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def counter_rows(fetch_log: DataFrame) -> DataFrame:
    """The tiny aggregate behind :func:`parse_counter_rows` — kept as a
    DataFrame so the engine can hand its collect to a helper thread that
    overlaps the previous round's commit."""
    return fetch_log.groupBy(
        "outcome",
        F.col("status"),
        F.coalesce(F.col("error").startswith("disallowed status"), F.lit(False)).alias(
            "_disallowed"
        ),
    ).count()


def parse_counter_rows(rows) -> tuple[dict, dict]:
    """Driver-side fold of :func:`counter_rows` output: returns
    (outcome_counts, status_counts) plus error classing — the inputs
    for the metrics rows and RoundResult."""
    outcome_counts: dict[str, int] = {}
    status_counts: dict[int, int] = {}
    errors = 0
    download_fail = 0
    for row in rows:
        outcome_counts[row["outcome"]] = outcome_counts.get(row["outcome"], 0) + row["count"]
        if row["outcome"] in ("fetched", "failed"):
            if row["status"] is not None and row["status"] > 0:
                status_counts[row["status"]] = (
                    status_counts.get(row["status"], 0) + row["count"]
                )
            if row["outcome"] == "failed":
                errors += row["count"]
                if not row["_disallowed"]:
                    download_fail += row["count"]
    outcome_counts["_errors"] = errors
    outcome_counts["_download_fail"] = download_fail
    return outcome_counts, status_counts


def round_metrics_rows(
    outcome_counts: dict, status_counts: dict, n_items: int, round_no: int
) -> list[tuple[int, str, int]]:
    """Metric rows (stats.go:39-48 keys + per-status + per-outcome)
    built driver-side from the collected counters — no extra Spark
    aggregation jobs, identical content."""
    requests = outcome_counts.get("fetched", 0) + outcome_counts.get("failed", 0)
    rows = [
        (round_no, "requests", requests),
        (round_no, "items", int(n_items)),
        (round_no, "errors", outcome_counts.get("_errors", 0)),
        (round_no, "download_fail", outcome_counts.get("_download_fail", 0)),
    ]
    rows += [(round_no, str(s), n) for s, n in sorted(status_counts.items())]
    rows += [
        (round_no, f"outcome_{o}", n)
        for o, n in sorted(outcome_counts.items())
        if not o.startswith("_")
    ]
    return rows
