"""Physical-plan audit over every driver-contract query.

For each ``queries()`` entry, capture the formatted physical plan at
$SPARK_GRAFT_SF_DIR (default sf0.01) and grade the properties that
matter at the 100 TB design point:

- **scan health**: parquet scans should show a pruned ReadSchema (no
  SELECT * of wide tables) and PushedFilters where the query filters
  scan columns;
- **join strategy**: dimension-sized sides should broadcast — every
  SortMergeJoin is listed for review;
- **codegen**: the hot path should sit inside WholeStageCodegen spans;
  row-at-a-time fallbacks (outside UDF exchange points) are flagged;
- **exchange count**: every Exchange is a shuffle — the audit records
  the count so a regression (a new unexpected shuffle) diffs loudly.

Writes PLANS.md (tracked) — regenerate after plan-shaping changes:

    python scripts/audit_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries whose plan is expected to carry a non-broadcast join at ANY
# scale (documented reasons below) — everything else gets flagged
SMJ_EXPECTED = {
    # candidate self-joins: both sides are the full corpus derivative
    "dedup_jaccard_words",
    "dedup_jaccard_ngrams",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "multimodal_phash_neardup",  # same chunk self-join class as simhash
    "embedding_neardup",
    # corpus-projection ⋈ corpus-projection (quality × lang stats) and
    # the corpus-sized semi-join back to documents: no dimension side
    "pipeline_quality_dedup",
    # bucketed-layout self-join: SMJ is the POINT (merge-hinted, zero
    # Exchange/Sort because the table is bucketed+sorted on doc_id)
    "bucketed_quality_join",
    # row-local stats ⋈ word-mode agg, both derived from the full
    # corpus and co-keyed on doc_id: no dimension side
    "text_repetition",
    # train ids ⋈ per-doc overlap counts (both corpus-sized; the eval
    # gram probe itself IS broadcast — visible in the same plan)
    "decontaminate_ngrams",
    # full-table anti join: both sides fact-sized at the design point
    "f1_dedup_anti_join",
    "a6_union_distinct",
    # cuckoo gate: maybe-fps ⋈ url_seen confirm + corpus ⋈ verdicts —
    # both sides corpus-scale at the design point (same class as the
    # f1 anti-join; the cuckoo state itself never joins, it cogroups)
    "a5_cuckoo_dedup_gate",
    # connected components: every join is edge-set ⋈ edge-set-derived
    # (neighborhood min) — both sides scale with the near-dup graph, no
    # dimension side exists; same for the final corpus ⋈ assignment map
    "dedup_cluster_canonical",
    "image_caption_dedup",
    # frontier ⋈ url_seen dedup gate: fact ⋈ fact at 10^10 URLs (the
    # one politeness dim in the same plan broadcasts explicitly —
    # schedule.with_robots_allowed; AQE re-plans the small cases at
    # runtime, which a static explain cannot show)
    "crawl_round_schedule",
}


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def audit(name: str, df) -> dict:
    plan = plan_of(df)
    scans = re.findall(r"Scan parquet[^\n]*", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    # node names in formatted mode: "(N) Exchange" is a shuffle,
    # "(N) BroadcastExchange" is not (and \bExchange\b can't match
    # inside BroadcastExchange — no word boundary)
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    # formatted mode tags codegen membership per node
    n_wsc = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    return {
        "scans": len(scans),
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_schemas": read_schemas,
        "shuffle_exchanges": n_exchange,
        "broadcast_joins": n_bhj,
        "sortmerge_joins": n_smj,
        "codegen_spans": n_wsc,
        "flag_smj": n_smj > 0 and name not in SMJ_EXPECTED,
        "flag_wide_scan": any(len(rs) > 400 for rs in read_schemas),
    }


def main() -> None:
    os.environ["SPARK_GRAFT_SKIP_FIXTURES"] = "1"
    import __spark_entry__ as entrymod
    from tegenaria_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]")
    rows = []
    for name, fn in entrymod.queries().items():
        try:
            rows.append((name, audit(name, fn(spark, SF_DIR))))
        except Exception as e:  # a query that can't build a plan is a finding
            rows.append((name, {"error": str(e).splitlines()[0][:200]}))

    out = [
        "# PLANS — physical-plan audit of every driver-contract query",
        "",
        f"Generated by `python scripts/audit_plans.py` at `{SF_DIR}`.",
        "Checks: parquet scans project pruned schemas and push filters;",
        "dimension joins broadcast (SortMergeJoin only where both sides are",
        "corpus-sized by design); hot paths sit in WholeStageCodegen spans;",
        "shuffle Exchange counts are recorded so new shuffles diff loudly.",
        "",
        "| query | scans | pushed filters | shuffles | BHJ | SMJ | codegen | flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    flagged = []
    for name, a in rows:
        if "error" in a:
            out.append(f"| {name} | — | — | — | — | — | — | ERROR: {a['error']} |")
            flagged.append(name)
            continue
        flags = []
        if a["flag_smj"]:
            flags.append("unexpected-SMJ")
        if a["flag_wide_scan"]:
            flags.append("wide-scan")
        if flags:
            flagged.append(name)
        pf = "; ".join(a["pushed_filters"])[:60] or "—"
        out.append(
            f"| {name} | {a['scans']} | {pf} | {a['shuffle_exchanges']} "
            f"| {a['broadcast_joins']} | {a['sortmerge_joins']} "
            f"| {a['codegen_spans']} | {', '.join(flags) or 'ok'} |"
        )
    out += [
        "",
        f"Flagged: {', '.join(flagged) if flagged else 'none'}.",
        "",
        "Non-broadcast joins are expected (and correct) only where both",
        "sides scale with the corpus: the dedup candidate self-joins",
        "(word/n-gram/minhash/simhash/embedding) and the full-table",
        "anti-join/union shapes. Every dimension-shaped side (budgets,",
        "robots, id maps, signatures ≤ O(docs) rows, ANN query sets)",
        "broadcasts.",
    ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries, flagged={flagged or 'none'}")
    spark.stop()


if __name__ == "__main__":
    main()
