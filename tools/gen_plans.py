"""Regenerate PLANS.md: formatted physical plans for representative queries.

Usage: python tools/gen_plans.py  (from the repo root)

The properties called out per plan are asserted in tests/test_plans.py; this
file is the human-readable snapshot of the same evidence.
"""
from __future__ import annotations

import sys

sys.path.insert(0, ".")

from aws_logs_parquet_converter_spark import operators  # noqa: E402
from aws_logs_parquet_converter_spark.functions.log_lines import WHITE_SPACE  # noqa: E402
from aws_logs_parquet_converter_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"

PICKS = {
    "q06_revenue_delta": "all predicates + column pruning reach the parquet scan; one partial+final agg, no join",
    "q05_region_volume": "star join: every dimension broadcast, fact scanned once, zero SortMergeJoin",
    "q_top_orders": "top-k via TakeOrderedAndProject — never a global sort",
    "q_asof_join": "as-of join as union+window merge — one exchange, no Join node, no row explosion",
    "q15_top_supplier": "max-vs-self via window over aggregated rows — lineitem scanned once",
    "dedup_minhash_lsh": "shingle/signature stages narrow; only (doc_id, 16 longs) and band keys shuffle",
    "text_repetition": "per-row array fold — zero hash-partition exchanges",
    "q_range_join_banded": "non-equi band predicate as a quantized-band HASH join — no BroadcastNestedLoopJoin",
    "q_window_range_frame_scalable": "sliding RANGE frame as difference of two growing frames — incremental, no per-row frame recompute",
    "q10_returned_revenue": "revenue pre-aggregated by custkey BEFORE the customer join — narrow (key, sum) pairs shuffle into the dim join, not fat joined rows (r3 rewrite, 2x)",
    "sim_ann_pq_adc": "PQ/ADC with TRAINED codebooks (r4): Lloyd's per-subspace k-means feeds the broadcast integer lookup tables; the scan ranks CODES, raw vectors appear only in the shortlist re-rank",
    "dedup_incremental_minhash": "persisted band index (r4): the only documents scan carries the pushed doc_id>=400 batch filter; the corpus enters via the signatures/bands parquet index only — no corpus re-shingle",
    "q_incremental_rollup_seeded": "monthly rollup reads ONLY the day-partitioned partials table (r4) — the orders scan happened once, at seed/repair time",
    "sim_ann_pq_indexed": "ANN serving over the persisted PQ index (r4): codebook+codes from parquet, no training stage in the plan; raw vectors only in pushed query reads and the shortlist re-rank",
    "q_pit_features": "three as-of feature attaches as union+window merges — no range join, no row explosion, leakage-free by construction",
    "q_global_ids_scalable": "dense global ranks via range-partition + local rank + broadcast offsets — no single-partition window",
    "sim_ann_pq_append": "incremental ANN serving (r5): codebook trained on the OLD slice + codes for old AND appended vectors, all from the persisted index; no training stage, no old-vector re-encode in the plan",
    "dedup_levenshtein_capped": "hot-block cap (r5): block sizes aggregated once and broadcast into an anti-join BEFORE the self-join — boilerplate-prefix blocks never reach the O(len^2) confirm",
    "sim_ann_ivf_pq": "full IVFADC (r6): broadcast coarse-centroid probe restricts the ADC scan to an equi-join on (cluster) — candidate codes O(nprobe x sqrt(n)) per query, never the full codes table; exact re-rank only touches the broadcast shortlist",
    "table_snapshot_sql_view": "plain Spark SQL over a snapshot table (r7): the Python DataSource plans one Arrow task per manifest file (BatchEvalPython-free scan) feeding an ordinary Catalyst partial+final aggregate — the read side of the SQL-DML boundary",
    "log_compaction: parse path": None,
}


def main() -> None:
    spark = build_session(extra_conf={"spark.ui.enabled": "false"})
    out = [
        "# PLANS — formatted physical plans for representative queries",
        "",
        "Regenerate with `python tools/gen_plans.py` (writes this file). Captured on",
        "local[32] at sf0.001; the properties called out per plan are asserted in",
        "`tests/test_plans.py`, so they cannot silently regress.",
        "",
    ]
    qs = operators.all_queries()
    for name, note in PICKS.items():
        if name.startswith("log_compaction"):
            import tempfile

            from aws_logs_parquet_converter_spark.sources.generator import write_log_files
            from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs

            d = tempfile.mkdtemp()
            write_log_files(d, n_lines=100, n_files=1, seed=1)
            df = read_s3_access_logs(spark, d + "/*.txt")
            note = (
                "whole parse in one WholeStageCodegen span: no Exchange, no "
                "Python eval between text scan and output"
            )
        else:
            df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # the log parsers' trim literal holds line breaks and control chars
        plan = plan.replace(WHITE_SPACE, "<the 25 White_Space code points>")
        out += [f"## {name}", "", f"**Property:** {note}", "", "```", plan.strip()[:6000], "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
