"""Round-7 plan-shape gates: the optimization round's restructures must
survive refactors (OPTIMIZATION_r07.md). Each test pins the plan property
the optimization bought, in the style of test_plan_quality.py."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_extract_has_no_restore_join(spark):
    """Empty-doc restoration is explode_outer + null-skipping collect_list
    — no all_docs distinct, no sort-merge join anywhere in the fused
    flagship."""
    from mindocr_spark.data.derive_corpus import derive_corpus
    from mindocr_spark.plans.extract import extract_serialized

    spans, media = derive_corpus(spark, SF)
    plan = _plan(extract_serialized(spark, spans, media, mode="fused"))
    assert "SortMergeJoin" not in plan
    assert "explode_outer" in plan or "Generate explode" in plan


def test_media_spread_exchange_is_narrow(spark):
    """The CPU-spread hashpartitioning(media_ref) exchange must sit BELOW
    the media join (narrow span keys move; image payloads attach in
    place): no Exchange input may contain the image column."""
    import re

    from mindocr_spark.data.derive_corpus import derive_corpus
    from mindocr_spark.plans.extract import extract_serialized

    spans, media = derive_corpus(spark, SF)
    plan = _plan(extract_serialized(spark, spans, media, mode="fused"))
    for m in re.finditer(r"Exchange hashpartitioning\(media_ref[^\n]*\n[^\n]*", plan):
        assert "image" not in m.group(0), m.group(0)


def test_pq_code_table_argmin_is_aggregate(spark):
    """The nearest-codebook argmin is a map-side-combinable aggregate
    (partial min over struct), not a rank window."""
    from mindocr_spark.operators.similarity import _pq_code_table

    plan = _plan(_pq_code_table(spark, SF))
    assert "Window" not in plan
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    ("query", "max_specs"),
    # ivf_pq_topk: probe top-nprobe + final top-k; ivf_topk: final top-1
    [("ivf_pq_topk", 2), ("ivf_topk", 1)],
    ids=["ivf_pq_topk", "ivf_topk"],
)
def test_ivf_pq_corpus_assignment_has_no_corpus_window(spark, query, max_specs):
    """The corpus cell assignment (and the PQ code table) are aggregates:
    only per-query rankings over <= N_QUERIES rows use a window."""
    import re

    from mindocr_spark.operators import similarity

    plan = _plan(getattr(similarity, query)(spark, SF))
    specs = set(re.findall(r"row_number\(\) windowspecdefinition\([^)]*\)", plan))
    assert len(specs) <= max_specs, specs


def test_semdedup_argmins_are_aggregates(spark):
    """Both semdedup argmins (centroid->super, assignment) are partial
    min(struct) aggregates; the only window left is the probe top-2 over
    the narrow (vec_id, sup_id, dist) projection — its input must not
    carry the embedding column."""
    import re

    from mindocr_spark.operators.pretrain import semdedup

    plan = _plan(semdedup(spark, SF))
    argmins = {
        re.sub(r"#\d+L?", "", s)
        for s in re.findall(r"partial_min\(struct\(dist, [^)]*\)", plan)
    }
    assert len(argmins) == 2, argmins  # centroid -> super, vector -> cell
    specs = {
        re.sub(r"#\d+L?", "", s)
        for s in re.findall(
            r"row_number\(\) windowspecdefinition\([^)]*\)", plan
        )
    }
    assert len(specs) == 1, specs  # only the probe top-2 ranks via window
    # the probe window's Window operator must not carry the embedding
    m = re.search(r"Window \[row_number\(\)[^\n]*", plan)
    assert m and "embedding" not in m.group(0), m.group(0) if m else plan


def test_md5_minhash_band_keys_are_longs(spark):
    """The md5 twin's band identity is xxhash64 longs, not string
    concatenations (no concat_ws in the band explode)."""
    from mindocr_spark.operators.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(spark, SF))
    # the old band identity was concat('b<i>:', concat_ws('|', mh...));
    # shingle construction legitimately keeps its own concat_ws
    assert "b0:" not in plan
    assert "xxhash64" in plan


def test_exact_hamming_key_tables_are_distinct_signature_level(spark):
    """The Manku/band combo tables must enumerate DISTINCT signatures
    (duplicate-cluster safety): a distinct aggregate feeds the combo
    explode, and the expansion joins carry the hamming column through."""
    from mindocr_spark.operators.dedup import simhash64_near_dup

    df = simhash64_near_dup(spark, SF)
    plan = _plan(df)
    assert "bit_count" in plan
    # the (h, h, 0) union + two expansion joins are present
    assert "Union" in plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2


def test_ser_seqeval_single_window_chain(spark):
    """One side-exploded window chain (lag + running sum over
    (doc_id, side)) and conditional aggregates — not one chain per
    aggregate branch. Two Window operators total (lag, sum share specs),
    and no join in the plan at all."""
    import re

    from mindocr_spark.operators.kie import ser_seqeval_metric

    plan = _plan(ser_seqeval_metric(spark, SF))
    # every window spec is (doc_id, side)- or (doc_id)-partitioned over
    # pos — one chain, not one per aggregate branch; and the three counts
    # come from conditional aggregation, so the plan has NO join at all
    specs = set(re.findall(r"windowspecdefinition\([^)]*\)", plan))
    assert len(specs) <= 3, specs  # segment_id sum + side lag + side sum
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, j


def test_decontamination_single_pass(spark):
    """One broadcast probe of the eval grams + one aggregate computing
    both counts — the train-gram explode appears ONCE (a single Generate
    over the train filter side)."""
    from mindocr_spark.operators.quality import decontamination_flags

    plan = _plan(decontamination_flags(spark, SF))
    assert plan.count("BroadcastHashJoin") == 1
    # train-side explode once + eval-side explode once = 2 Generates max
    assert plan.count("Generate") <= 2


def test_ocr_stages_read_payload_columns_only(spark):
    """OCR is a function of the media payload alone: no MapInPandas stage
    of either flagship mode reads or writes the span keys doc_id/offset."""
    import re

    from mindocr_spark.data.derive_corpus import derive_corpus
    from mindocr_spark.plans.extract import extract_serialized

    spans, media = derive_corpus(spark, SF)
    for mode in ("fused", "exploded"):
        nodes = re.findall(r"MapInPandas [^\n]*", _plan(
            extract_serialized(spark, spans, media, mode=mode)
        ))
        assert nodes, mode
        for node in nodes:
            assert "doc_id" not in node and "offset" not in node, node
