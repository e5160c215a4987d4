"""Oracle sensitivity harness (r4 verdict item #6): measure the KILL RATE
of the DuckDB oracle suite against single-constant mutations.

The correctness gate's value rests on the oracles actually being able to
catch a wrong engine: if a query's output is insensitive to a boundary
(`<` vs `<=`), an off-by-one, or a comparison flip, a bug of that class
would sail through the hash check. This script mutates ONE token of each
oracle's SQL at a time (the comparison is symmetric, so "mutated oracle
vs real Spark result" detects exactly the same divergences as "mutated
engine vs real oracle" — without maintaining a throwaway branch of the
engine), re-runs only the DuckDB side against the already-computed Spark
result, and reports:

    killed    — the harness failed the comparison (good: sensitive)
    survived  — the mutated oracle still matches bit-for-bit (a blind
                spot: that constant does not influence this query's
                output at this SF)
    invalid   — the mutation produced non-executable SQL (not counted)

Usage:
    python scripts/oracle_mutation_check.py [sf_dir] [--only a,b,...]
                                            [--max-mutants N]

Defaults to sf0.001 (sensitivity is about plan logic, not volume) and
one representative query per family (REPRESENTATIVES below); pass
--only to widen. Exit code is 0 — this is a measurement, not a gate;
the kill-rate table lands in SCALE.md per round.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bicis_spark.caching import release_tracked  # noqa: E402
from bicis_spark.plans import queries as registry  # noqa: E402
from bicis_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import assert_oracle_match, duck_views  # noqa: E402

# One query per operator family (SURVEY §2 groupings). Chosen for having
# boundary constants / offsets in their oracle SQL.
REPRESENTATIVES = [
    "timestamp_range_filter",   # F1 boundary timestamps
    "split_bounds",             # A1/X8 least-of-maxes arithmetic
    "hour_profile",             # flagship two-level agg
    "next_window_target",       # W1 forward range frame offsets
    "topk_orders_per_customer", # window top-k rank boundary
    "range_join_recent_orders", # bucketized range-join band
    "asof_nearest_order",       # as-of tolerance/direction
    "sessionization",           # lag gap threshold
    "dedup_minhash_lsh",        # banded LSH band/row split
    "dedup_ngram_jaccard",      # shingle n / jaccard threshold
    "ann_topk_lsh",             # hyperplane sign boundary
    "text_quality",             # quality-score thresholds
    "gopher_quality_flags",     # rule-battery constants
    "c4_line_clean",            # line-retention constants
    "q1_pricing_summary" if "q1_pricing_summary" in registry.queries() else "pricing_summary",
    "q6_forecast_revenue",      # TPC-H selective filter constants
    "q18_large_orders",         # HAVING boundary
    "hash_split_assignment",    # split fractions
    "quantity_deciles",         # ntile boundary
    "hourly_gap_fill_ffill",    # gap-fill window
    "dsir_importance_resample", # acceptance threshold
    "span_dedup_rebuild",       # span width constants
    "multimodal_bmp_wav_decode",  # codec arithmetic constants
    "cohort_retention_weekly",  # week bucketing offset
    "bloom_pruned_part_revenue",  # semi-join predicate constant
    # round-5 additions
    "cluster_balanced_sample",  # k-means mod/cap + sample target
    "ngram_novelty_scores",     # gram width / ownership comparison
    "incremental_agg_maintenance",  # delta split modulus
    "kaplan_meier_user_lifetimes",  # lifetime bucket width
    "cusum_hourly_drift",       # drift threshold multiplier
    "bm25_query_scores",        # Okapi integer coefficients
    "frequent_itemsets_parts",  # min-support boundary
    "seasonal_decompose_hourly",  # MA radius / slot extraction
    "label_propagation_communities",  # co-purchase ordering boundary
    # round-5 session-2 additions
    "weighted_quantiles_price",  # quantile num/den + cents scaling
    "brand_weighted_median_price",  # grouped rank boundary (cw*2 >= tot)
    "bfs_part_supplier_hops",    # depth cap + vertex-encoding parity
    "dedup_edit_distance_names", # levenshtein <= 1 verify boundary
    "interval_union_coverage_users",  # interval width + open-flag boundary
    "phrase_search_positional",  # position-offset arithmetic
]

# (pattern, replacement, label) — applied ONE AT A TIME, first match only.
MUTATIONS = [
    (r"(?<![<>=!])<(?![=<])", "<=", "lt->le"),
    (r"(?<![<>])<=", "<", "le->lt"),  # r10: the class the live-boundary
    # seed caps are designed to kill (<= mod·(L−1)+1 drops seed L)
    (r">=", ">", "ge->gt"),
    (r"(?<!\w)(\d+)(?!\w)", lambda m: str(int(m.group(1)) + 1), "int+1"),
]


_TYPE_WIDTH = re.compile(r"(?:DECIMAL|NUMERIC|VARCHAR|CHAR)\s*\([^)]*$", re.I)


def _is_type_width(sql: str, pos: int) -> bool:
    """True when the literal at ``pos`` sits inside a type-width argument
    list (DECIMAL(18,2) etc.) — mutating precision digits is the classic
    EQUIVALENT mutant (output unchanged by construction), which would
    deflate the kill rate without revealing any blind spot."""
    return bool(_TYPE_WIDTH.search(sql[max(0, pos - 40) : pos]))


def iter_mutants(sql: str, max_mutants: int):
    """Yield (label, mutated_sql): for each mutation class, mutate the
    FIRST match; for the numeric class also the second and third distinct
    literals (boundaries often aren't the first number in the text).
    Type-width digits are excluded (equivalent mutants)."""
    count = 0
    for pat, rep, label in MUTATIONS:
        occurrences = [
            m
            for m in re.finditer(pat, sql)
            if not (label == "int+1" and _is_type_width(sql, m.start()))
        ]
        # first occurrence for operator flips; up to 3 distinct positions
        # for numeric literals
        positions = occurrences[:3] if label == "int+1" else occurrences[:1]
        for k, m in enumerate(positions):
            if count >= max_mutants:
                return
            r = rep(m) if callable(rep) else rep
            mutated = sql[: m.start()] + r + sql[m.end() :]
            if mutated != sql:
                count += 1
                yield f"{label}#{k}", mutated


def main() -> int:
    argv = list(sys.argv[1:])
    only, max_mutants = None, 5
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    if "--max-mutants" in argv:
        i = argv.index("--max-mutants")
        max_mutants = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    spark = get_spark(app_name="oracle_mutation_check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf_dir)

    qs, oracles = registry.queries(), registry.oracle_sql()
    names = [n for n in (only or REPRESENTATIVES) if n in oracles]
    skipped = [n for n in (only or REPRESENTATIVES) if n not in oracles]
    if skipped:
        print(f"# skipped (no oracle / not registered): {skipped}")

    killed = survived = invalid = 0
    blind: list[tuple[str, str]] = []
    for name in names:
        sdf = qs[name](spark, sf_dir)
        pdf = sdf.toPandas()  # compute Spark side ONCE per query
        release_tracked()
        spark.catalog.clearCache()
        # re-wrap as a constant frame so assert_oracle_match can reuse it
        for label, mutant_sql in iter_mutants(oracles[name], max_mutants):
            try:
                expected = con.execute(mutant_sql).fetchdf()  # noqa: F841
            except Exception:
                invalid += 1
                continue
            try:
                _compare(pdf, con, mutant_sql, name)
            except AssertionError:
                killed += 1
                continue
            survived += 1
            blind.append((name, label))
            print(f"SURVIVED {name} [{label}]")
    total = killed + survived
    rate = (100.0 * killed / total) if total else 0.0
    print(
        f"\nkill rate: {killed}/{total} = {rate:.1f}% "
        f"({invalid} invalid mutants excluded) over {len(names)} queries"
    )
    if blind:
        print("blind spots (mutant survived):")
        for n, lbl in blind:
            print(f"  {n} [{lbl}]")
    spark.stop()
    return 0


def _compare(spark_pdf, con, sql: str, name: str) -> None:
    """assert_oracle_match against a precomputed pandas frame."""

    class _Shim:
        def toPandas(self):  # noqa: N802 — mimics pyspark DataFrame
            return spark_pdf

    assert_oracle_match(_Shim(), con, sql, name)


if __name__ == "__main__":
    raise SystemExit(main())
