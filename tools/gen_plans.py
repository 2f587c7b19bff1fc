"""Generate PLANS.md: formatted physical plans of the headline queries
with an audit of the scale-relevant properties (pushdown, pruning,
broadcast, codegen, no-Python-in-hot-path)."""

import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from contextlib import redirect_stdout

import __spark_entry__ as em
from geojson_vt_rs_spark.operators.session import get_spark

SF = "/root/testdata/sf0.001"

AUDITS = {
    "cell_assign": [
        ("ReadSchema: struct<o_orderkey:bigint>", "column pruning to the single key column"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF",
         "no Python in the hot path (pure JVM expressions)"),
        ("HashAggregate", "partial+final hash agg (map-side combine)"),
    ],
    "pip_join": [
        # pure theta predicates (point-in-rect) -> broadcast nested loop
        # with the 25-row side broadcast is the right physical join here;
        # the images PIP adds a cell equi-join prune (BroadcastHashJoin)
        ("BroadcastNestedLoopJoin", "small rect side broadcast (theta join)"),
        ("!ShuffleExchange.*lon", "no shuffle of the points side"),
        ("ReadSchema: struct<o_orderkey:bigint>", "column pruning"),
    ],
    "knn_join": [
        ("BroadcastNestedLoopJoin|BroadcastHashJoin|CartesianProduct",
         "25-row centers side broadcast"),
        ("RunningWindowFunction|Window", "ranking window for top-k"),
    ],
    "minhash_pairs": [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "band-bucket equi-join"),
    ],
    "ann_topk": [
        ("TakeOrderedAndProject",
         "distributed top-k (per-partition local top-k, merged) — not a sort"),
        ("!Window", "NO WindowExec: an unpartitioned window would pull the "
         "whole scored table into one task"),
    ],
    "ann_lsh_topk": [
        ("TakeOrderedAndProject", "distributed top-k over the pruned bucket"),
        ("!Window", "no WindowExec"),
        ("MapInPandas",
         "LSH buckets come from the numpy kernel (its only "
         "implementation; no inlined-hyperplane plan)"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
    ],
    "ann_ivf_topk": [
        ("TakeOrderedAndProject", "distributed top-k over the probed cells"),
        ("!Window", "no WindowExec"),
        ("MapInPandas",
         "IVF cell assignment + probe filter are ONE numpy Arrow pass "
         "(an inlined-centroid expression chain was a 30 KB plan "
         "dominated by analysis+codegen)"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
    ],
    "ann_pq_topk": [
        ("TakeOrderedAndProject",
         "ADC candidate cut AND final top-k are TakeOrdered, no sort"),
        ("!rangepartitioning",
         "no global range-sort: a sort-shaped cut (Exchange range + Sort "
         "+ Local/GlobalLimit) must not green-light this section again"),
        ("!Window", "no WindowExec"),
        ("MapInPandas",
         "PQ codes + ADC lookups are ONE numpy Arrow pass (an "
         "inlined-literal expression chain was an 80 KB plan dominated "
         "by analysis+codegen)"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
    ],
    "cosine_near_dup": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "band-bucket equi-joins"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
        ("!CartesianProduct", "no cartesian"),
    ],
    "simhash_near_pairs": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "pigeonhole band equi-join"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
    ],
    "phash_near_dups": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "2x32-bit band equi-join"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
    ],
    "token_stats": [
        ("HashAggregate", "partial aggregation"),
        ("ReadSchema", "pruned scan"),
    ],
    "dataset_split": [
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "split assignment is one md5 JVM expression per row"),
        ("HashAggregate", "partial+final per-(split,lang) agg"),
        ("!ReadSchema.*text", "text column pruned from the scan"),
        ("!Window", "no window — split is row-local"),
    ],
    "stratified_mix": [
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "keep predicate is a pure JVM expression"),
        ("HashAggregate", "partial aggregation"),
        ("!ReadSchema.*text", "text column pruned from the scan"),
        ("!Exchange.*(?i:filter)", "filter evaluated scan-side, not post-shuffle"),
    ],
    "domain_quota": [
        ("windowspecdefinition\\(source",
         "ranking windows PARTITIONED by group (salt lane then survivor "
         "re-rank) — never an unpartitioned global sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "token counts + ranks are pure JVM"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "token_budget_pack": [
        ("windowspecdefinition\\(lang",
         "prefix-sum windows PARTITIONED by (group[, coarse range]) — "
         "the running total never sorts a whole group in one task"),
        ("BroadcastHashJoin",
         "per-(group, coarse) offsets (tiny: |groups| x 100) broadcast "
         "back onto the rows"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "token counts + cumulative sums are pure JVM"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "decontaminate": [
        ("BroadcastHashJoin LeftSemi",
         "eval n-gram set (bounded: eval_cut/10000 of the corpus) "
         "broadcasts; the train side is scanned once, map-side only"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "n-gram zip_with chain + joins are pure JVM"),
        ("!CartesianProduct|BroadcastNestedLoopJoin",
         "no all-pairs anywhere"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "pii_redact": [
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "regex chain + fingerprint agg are pure JVM (row-local scan)"),
        ("!(?s)Exchange hashpartitioning.*Exchange hashpartitioning",
         "one shuffle only: the final per-lang partial agg"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "repetition_stats": [
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "token/bigram distinct counts are pure JVM (row-local scan)"),
        ("HashAggregate", "partial+final per-lang agg"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "semantic_dedup": [
        ("FlatMapGroupsInPandas",
         "per-cell pairwise = ONE vectorized kernel per ivf_cell group "
         "(SemDeDup cost model: pairwise work bounded per cell; r6 — "
         "the interpreted per-pair fold was ~10 us/pair)"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
        ("!CartesianProduct", "no cartesian"),
        ("!Window", "no WindowExec"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
        ("HashAggregate", "partial+final per-(id, cell) agg"),
    ],
    "importance_topk": [
        ("TakeOrderedAndProject",
         "top-k by mean weight — per-partition local top-k, no global sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("BroadcastHashJoin",
         "the <=V_BUCKETS-row weight table broadcasts onto the "
         "histogram; scoring is map-side + one per-doc partial agg"),
        ("MapInPandas",
         "per-doc bucket histogram is row-local — ONE Arrow kernel "
         "(one md5 per DISTINCT token) emits (doc,b,c) directly; the "
         "token stream is never exploded/shuffled"),
        ("!Window", "no WindowExec"),
    ],
    "lm_perplexity": [
        ("TakeOrderedAndProject",
         "top-k by mean NLL — per-partition local top-k, no global sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("MapInPandas",
         "per-doc bigram histogram is row-local — ONE Arrow kernel "
         "(one md5 per DISTINCT token); the bigram stream is never "
         "exploded/shuffled"),
        ("BroadcastHashJoin",
         "the <=LM_BUCKETS-row context-total table broadcasts onto "
         "c12; the model join itself is a plain equi-join (c12 can be "
         "LM_BUCKETS^2 rows — never force-broadcast)"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
        ("!Window", "no WindowExec"),
    ],
    "asof_attribution": [
        ("windowspecdefinition\\(user_id",
         "the as-of scan window is PARTITIONED by the join key — one "
         "shuffle, spill-able per-key sort, never a global sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "union + last-ignorenulls window are pure JVM"),
        ("!BroadcastNestedLoopJoin|CartesianProduct",
         "no per-left candidate join at all (union-scan formulation)"),
        ("Union", "tagged two-side union feeding the window"),
    ],
    "group_quantiles": [
        ("windowspecdefinition\\(o_orderpriority",
         "rank + group-size windows PARTITIONED by the group key"),
        ("!rangepartitioning", "no global range-sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "rank-by-definition + CASE-max pivot are pure JVM"),
        ("HashAggregate", "partial-agg pivot"),
        ("!ReadSchema.*comment", "only the three needed columns scan"),
    ],
    "kmv_distinct": [
        ("windowspecdefinition\\(g",
         "rank windows PARTITIONED by (group[, lane]) — the salt-lane "
         "min-k pattern, never an unpartitioned sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "hash + rank + estimator are pure JVM"),
        ("HashAggregate", "partial-agg distinct on (group, hash)"),
        ("!ReadSchema.*comment", "value hashes map-side; only the two "
         "needed columns are scanned"),
    ],
    "dup_spans": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "dup-gram membership = equi-join on the md5 gram hash"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
        ("!CartesianProduct", "no cartesian"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "gram build + hash are pure JVM (zip_with chain, one md5/gram)"),
        ("HashAggregate", "partial-agg count-distinct on the gram hash"),
        ("!Window", "no WindowExec"),
    ],
    "bm25_topk": [
        ("TakeOrderedAndProject",
         "top-k cut is per-partition local top-k, no global sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("!Window", "no WindowExec"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "tokenize/tf/idf/score are pure JVM expressions"),
        ("!CartesianProduct|BroadcastNestedLoopJoin",
         "idf is a 3-branch CASE over inlined literals — no join on "
         "the data path"),
        ("HashAggregate", "tf + per-doc partial+final aggs"),
    ],
    "kmeans_clusters": [
        ("MapInPandas",
         "per-round assignment + partial sums are ONE numpy Arrow pass "
         "over the JVM-quantized vectors (an inlined-centroid "
         "expression chain re-analyzed + re-codegen'd ~512 literals per "
         "Lloyd round)"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
        ("!Window", "no WindowExec"),
        ("!rangepartitioning", "no global range-sort"),
        ("HashAggregate", "(k, pos) partial+final agg over the batch "
         "partials (map-side combine; K*dims result rows per iteration)"),
        ("!CartesianProduct|BroadcastNestedLoopJoin",
         "assignment joins nothing — centroids ride the kernel closure"),
    ],
    "sessionize": [
        ("windowspecdefinition\\(user_id",
         "lag + running new-session sum share one window spec "
         "PARTITIONED by the key — one shuffle, spill-able sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "flag/seq/rollup are pure JVM expressions"),
        ("HashAggregate", "session rollup is a partial+final hash agg"),
    ],
    "range_join": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "bucket-blocked equi-join on the time bucket"),
        ("!BroadcastNestedLoopJoin",
         "NEVER the BNLJ Spark lowers a bare inequality join to"),
        ("!CartesianProduct", "no cartesian"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "bucket explode + range filter are pure JVM"),
        ("HashAggregate", "per-interval partial+final agg"),
    ],
    "topk_ngrams": [
        ("TakeOrderedAndProject",
         "top-k cut is per-partition local top-k, no global sort"),
        ("!rangepartitioning", "no global range-sort"),
        ("!Window", "no WindowExec"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "tokenize/gram/count are pure JVM expressions"),
        ("HashAggregate", "map-side partial agg collapses the gram "
         "stream before the shuffle"),
        ("!Condition : .*transform",
         "no Catalyst-inferred scan-side size()>0 filter re-running "
         "the tokenizer (explode_outer + null filter)"),
    ],
    "chunk_pack": [
        ("windowspecdefinition\\(bucket",
         "running token offsets are windows PARTITIONED by the id "
         "bucket — never an unpartitioned global cumsum"),
        ("!windowspecdefinition\\(\\s*(?:doc_id)?\\s*ASC",
         "no unpartitioned window (the naive global formulation)"),
        ("!rangepartitioning", "no global range-sort"),
        ("BroadcastHashJoin", "n_buckets offset dimension broadcast"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "tokenize/offsets/fan-out are pure JVM"),
        ("HashAggregate", "per-chunk partial+final rollup"),
    ],
    "rolling_stats": [
        ("windowspecdefinition\\(user_id",
         "RANGE frame PARTITIONED by the key over integer micros"),
        ("!rangepartitioning", "no global range-sort"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "frame aggregates are pure JVM"),
    ],
    "zorder_blocks": [
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "morton spreads are pure JVM integer expressions (codegen)"),
        ("HashAggregate", "per-block partial+final agg"),
        ("!Window", "no WindowExec"),
        ("!rangepartitioning", "no global range-sort"),
        ("ReadSchema: struct<o_orderkey:bigint>",
         "column pruning to the single key column"),
    ],
    "audio_stats": [
        ("MapInPandas",
         "decode + signal stats are ONE Arrow-batched kernel"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
        ("HashAggregate", "per-format partial+final agg of exact ints"),
        ("!Window", "no WindowExec"),
        ("!rangepartitioning", "no global range-sort"),
    ],
    "top_revenue_orders": [
        ("BroadcastHashJoin", "filtered customer dimension broadcasts"),
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "orders x lineitem fact join is a plain equi-join — Catalyst "
         "broadcasts it at audit scale (lineitem is tiny), shuffles on "
         "the key at scale; no hint pins the toy choice"),
        ("!BroadcastNestedLoopJoin|CartesianProduct", "equi-joins only"),
        ("TakeOrderedAndProject", "top-10 cut, no global sort"),
        ("!Window", "no WindowExec"),
        ("!BatchEvalPython|ArrowEvalPython|PythonUDF|MapInPandas",
         "fixed-point revenue is a pure JVM expression"),
        ("PushedFilters: \\[IsNotNull\\(o_orderstatus\\), "
         "EqualTo\\(o_orderstatus,O\\)",
         "status filter pushed to the parquet scan"),
    ],
    "winnow_pairs": [
        ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "shared-fingerprint equi-join (complete blocking, no cross product)"),
        ("!BroadcastNestedLoopJoin", "no all-pairs theta join"),
        ("!CartesianProduct", "no cartesian"),
        ("MapInPandas",
         "fingerprints from the Arrow-batched numpy kernel (the "
         "operator's only implementation)"),
        ("!BatchEvalPython",
         "no row-at-a-time Python UDF — Arrow batches only"),
        ("HashAggregate", "partial+final shared-count agg"),
    ],
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark(cpus=8)
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by tools/gen_plans.py (`df.explain('formatted')` at "
        "sf0.001).  Each section lists the scale properties the plan must "
        "exhibit and whether they hold.\n",
    ]
    qs = em.queries()
    for name in ["cell_assign", "pip_join", "knn_join", "minhash_pairs",
                 "ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
                 "cosine_near_dup", "simhash_near_pairs", "phash_near_dups",
                 "token_stats", "winnow_pairs", "dataset_split",
                 "stratified_mix", "domain_quota", "token_budget_pack",
                 "decontaminate", "pii_redact", "repetition_stats",
                 "semantic_dedup", "importance_topk", "lm_perplexity",
                 "kmv_distinct", "asof_attribution", "group_quantiles",
                 "dup_spans", "kmeans_clusters", "bm25_topk",
                 "sessionize", "range_join", "topk_ngrams",
                 "chunk_pack", "rolling_stats", "zorder_blocks",
                 "audio_stats", "top_revenue_orders"]:
        df = qs[name](spark, SF)
        plan = plan_of(df)
        out.append(f"\n## {name}\n")
        for pattern, why in AUDITS.get(name, []):
            neg = pattern.startswith("!")
            hit = re.search(pattern.lstrip("!"), plan) is not None
            ok = (not hit) if neg else hit
            out.append(f"- {'PASS' if ok else 'MISS'}: `{pattern}` — {why}")
        out.append("\n```\n" + plan.strip()[:6000] + "\n```\n")
    with open(f"{REPO}/PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
