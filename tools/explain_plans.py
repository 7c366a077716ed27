"""Dump formatted physical plans of the flagship queries to
``plan_dumps/PLANS.md`` (gitignored, regenerated on demand) — plan-quality
evidence (pushdown, pruning, broadcast, codegen spans). The durable plan
checks are ``tests/test_plan_quality*.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

PREAMBLE = """# PLANS — formatted physical plans (sf0.01, round 7)

Plan-quality notes: every BroadcastNestedLoopJoin in this file has a
broadcast tiny side — cosine_topk's query set (intentional: the exact
brute-force baseline broadcasts the queries and streams the corpus,
linear in N, no corpus shuffle) and, from round 6, the <=128-row
centroid/codebook/subspace tables of the PQ family (see the round-6
paragraph below). The production near-dup operators (simhash_near_dup_banded,
simhash64_near_dup, embedding_near_dup_lsh, ngram_jaccard_filtered,
minhash_lsh_pairs*) are pure equi-join/aggregate plans — no
CartesianProduct, no nested loop (asserted by tests/test_dedup_banded.py
and tests/test_plan_quality.py); embedding_near_dup_lsh's exact-cosine
work runs inside a per-(table,bucket) FlatMapGroupsInPandas (chunked numpy
matmul), bounded by bucket size. Round-4 plan changes visible here:
minhash banding is threshold-derived (128 permutations) and both minhash
forms end in the exact-jaccard verification join; the KIE metric
(ser_seqeval_metric) is windows-partitioned-by-doc_id + one exact-span
equi-join + single-row aggregates; gopher_repetition is one scan, one
(doc,n,gram) aggregate, one (doc,n) aggregate, and a no-shuffle
conditional-aggregation pivot. Round-5 plan changes: both minhash
forms hash each shingle ONCE (md5 K-M halves / xxhash64 base fingerprint)
so the 128-permutation aggregate is pure integer arithmetic over one
projected column; extract_interleaved_salted inserts the two-phase
(doc_id, salt) partial-aggregate before the per-doc merge (one extra
bounded exchange, identical output + oracle); xfund_entities is a
wholetext scan + from_json + two Generates + a broadcast width join.
stream_windowed_counts has no batch plan (Structured Streaming:
watermarked tumbling-window agg -> parquet sink; the facade's returned
frame is the sink scan). Round-5 pretrain suite: pii_redaction is a pure
stateless Project (zero exchanges — scan, derive, regexp, md5);
sequence_packing shows the two-phase prefix sum (per-bucket window after
one hash exchange, the single-partition window ONLY over the tiny
bucket-totals aggregate, broadcast join back); mixture_weights is one
map-side-combinable aggregate plus windows over the ~|src|x|lang| group
table; boilerplate_line_removal is explode -> gram-count
exchange -> equi-join back -> per-doc reassembly aggregate;
model_quality_filter is one compact-table repartition + one
exchange-free aggregate, zero joins. Late round-5 minhash change: the
verify stage no longer shows the sizes aggregate or its two doc-keyed
joins — per-doc shingle counts ride the minhash aggregate and reach the
verify filter attached to each candidate pair.

Round-6 additions: table_structure_acc / layout_map are pure
Catalyst metric aggregates (integer basis points, the det_metric_prf
pattern — grouped joins + single-row composition).
sequence_packing_grouped shows the per-(source, lang) variant of the
two-phase prefix sum: the grouped bucket-totals window replaces the
single-partition global one.

Round-7 optimization changes visible in these plans (see
OPTIMIZATION_r07.md for the measurements): the flagship's CPU-spread
exchange now moves the 3-column span keys BELOW the media broadcast join
(payloads attach in place) and the empty-doc restore join is gone
(explode_outer + null-skipping collect_list — fused plan: 2 exchanges,
no SortMergeJoin).
Both minhash twins band through one function (dedup._minhash_bands):
(band_no, band_key) rows keyed by xxhash64 longs, not string
concatenations. Every exact-hamming form takes its join keys from
dedup.block_keys. simhash manku/64 and image dHash run the
exact_hamming_pairs skeleton: key tables over DISTINCT signatures, (h,h,0)
self-rows, member expansion — identical output, duplicate-cluster-safe
candidate volume. simhash_near_dup_banded, the small-corpus form, keeps
the direct signature-level band join.
Vector search (operators/similarity.py and semdedup): every
nearest-centroid argmin is similarity.nearest, a min(struct(dist, id))
HashAggregate whose partial step collapses the candidate fan-out before
the exchange — pq_codes' nearest codebook entry per (vec, s), the IVF
cell of ivf_topk and ivf_pq_topk, and both semdedup levels (centroid ->
super, vector -> cell); a payload (embedding, norm) joins back once by
id. Every row_number is similarity.top_k: the six search operators'
final per-query top-k, plus two probe rankings over narrow rows
(ivf_pq_topk's nprobe cells for <= N_QUERIES queries, semdedup's top-2
supers per vector). Every nested-loop join has a broadcast side of a few
rows — the 8 IVF centroids, the 128-row PQ codebook, semdedup's
~sqrt(k) supers, or the N_QUERIES query set of the brute-force
operators — never corpus x corpus. pq_adc_topk and ivf_pq_topk add the
broadcast (query, s, code) LUT equi-join and a map-side-combinable
integer sum; ivf_pq_topk's candidates come from a broadcast cell
equi-join. semdedup's three consumers of the assignment share one
build through exchange reuse (ReusedExchange in the final AQE plan), and
it pairs via a SortMergeJoin on cell.
ser_seqeval_metric is one side-exploded window chain + one conditional
aggregate (was four window chains across three aggregate branches);
decontamination_flags is one left-probe of the broadcast eval set + one
conditional aggregate. Wide minhash aggregates compile under
spark.sql.codegen.maxFields=1024 (they ran interpreted at the default
100 — not visible in formatted explain, documented here).
"""


def main() -> None:
    import __spark_entry__ as entrymod
    from mindocr_spark.session import get_spark

    sf = "/root/testdata/sf0.01"
    names = [
        "extract_interleaved",
        "pricing_summary",
        "order_revenue_topn",
        "cosine_topk",
        "minhash_lsh_pairs",
        "minhash_lsh_pairs_fast",
        "sessionize_events",
        "ngram_jaccard_filtered",
        "simhash_near_dup_banded",
        "simhash64_near_dup",
        "embedding_near_dup_lsh",
        "ser_seqeval_metric",
        "gopher_repetition",
        "minhash_lsh_incremental",
        "decontamination_flags",
        "duplicate_span_coverage",
        "extract_interleaved_salted",
        "xfund_entities",
        "pii_redaction",
        "sequence_packing",
        "mixture_weights",
        "semdedup",
        "boilerplate_line_removal",
        "model_quality_filter",
        "sequence_manifest",
        "epoch_sample",
        "intra_doc_dedup",
        "embedding_quantize",
        "ann_quantized_topk",
        "bpe_merge_candidates",
        # round 6: table/layout reference metrics + the PQ/IVFADC pair
        "table_structure_acc",
        "layout_map",
        "pq_codes",
        "pq_adc_topk",
        "ivf_pq_topk",
        "sequence_packing_grouped",
    ]
    spark = get_spark(cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [PREAMBLE]
    for name in names:
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    spark.stop()
    os.makedirs("plan_dumps", exist_ok=True)
    with open("plan_dumps/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote plan_dumps/PLANS.md")


if __name__ == "__main__":
    main()
