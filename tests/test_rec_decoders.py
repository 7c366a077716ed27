"""Goldens for the Master/SAR/ABINet/VisionLAN decode heads — expected
values derived by hand-executing the reference decode paths
(rec_postprocess.py, rec_abinet_postprocess.py + CharsetMapper) on the
same index/probability inputs."""

import numpy as np
import pytest

from mindocr_spark.config import CHARSET
from mindocr_spark.functions import rec_decoders as rd


def _idx(c: str) -> int:
    return CHARSET.index(c)


def test_master_decode_stop_cut_and_pad_literal():
    # vocab: 0=<GO> 1=<STOP> 2=<PAD>, chars from 3; "cat" = c,a,t
    seq = [3 + _idx("c"), 3 + _idx("a"), 3 + _idx("t"), 1, 2, 2]
    probs = np.array([[0.9, 0.8, 0.7, 0.99, 0.0, 0.0]])
    texts, confs = rd.master_decode(np.array([seq]), probs)
    assert texts == ["cat"]
    np.testing.assert_allclose(confs[0], np.mean([0.9, 0.8, 0.7]))
    # a <PAD> before the stop is emitted literally (reference dict-join)
    seq2 = [3 + _idx("a"), 2, 1]
    texts2, _ = rd.master_decode(np.array([seq2]), probs[:, :3])
    assert texts2 == ["a<PAD>"]
    # no <STOP> anywhere -> empty text, conf mean([0]) = 0
    texts3, confs3 = rd.master_decode(
        np.array([[3, 4, 5]]), np.ones((1, 3))
    )
    assert texts3 == [""] and confs3 == [0.0]


def test_master_unknown_char_vocab():
    chars = rd.master_charset(use_unknown_char=True)
    assert chars[-1] == "<UNKNOWN>" and len(chars) == 3 + len(CHARSET) + 1
    texts, _ = rd.master_decode(
        np.array([[len(chars) - 1, 1]]),
        np.ones((1, 2)),
        use_unknown_char=True,
    )
    assert texts == ["<UNKNOWN>"]


def test_sar_decode_skip_pad_break_eos():
    seq = [
        _idx("h"), rd.SAR_PADDING_IDX, _idx("i"), rd.SAR_END_IDX, _idx("x"),
    ]
    probs = np.array([[0.5, 0.0, 0.7, 0.9, 0.9]])
    texts, confs = rd.sar_decode(np.array([seq]), probs)
    assert texts == ["hi"]
    np.testing.assert_allclose(confs[0], np.mean([0.5, 0.7]))
    # eos at position 0 with probs given still breaks -> empty
    texts2, _ = rd.sar_decode(
        np.array([[rd.SAR_END_IDX, _idx("a")]]), np.ones((1, 2))
    )
    assert texts2 == [""]
    # unknown token joins literally
    seq4 = [rd.SAR_UNKNOWN_IDX, _idx("a"), rd.SAR_END_IDX]
    texts4, _ = rd.sar_decode(np.array([seq4]), np.ones((1, 3)))
    assert texts4 == ["<UKN>a"]


def test_abinet_decode_null_cut_and_length():
    # charset: 0='░', 1..26='a'..'z', 27..36='1'..'90'
    cs = rd.ABINET_CHARSET
    assert cs[0] == "░" and cs[1] == "a" and cs[27] == "1" and cs[36] == "0"
    T, C = 6, len(cs)
    logits = np.full((1, T, C), -10.0)
    word = "cab"
    for t, ch in enumerate(word):
        logits[0, t, cs.index(ch)] = 5.0
    logits[0, 3, 0] = 5.0  # null -> end
    logits[0, 4, cs.index("z")] = 5.0  # after null: ignored by the cut
    logits[0, 5, 0] = 5.0
    out = rd.abinet_decode(logits)
    assert out["texts"] == ["cab"]
    assert out["lengths"] == [4]  # len + 1 for the end token
    assert out["scores"][0].shape == (T,)
    # scores are post-softmax per-step maxima
    assert 0.99 < out["scores"][0][0] <= 1.0


def test_visionlan_decode_blank_length_and_conf():
    # vocab: 0=blank, then CHARSET (digits first)
    C = 1 + len(CHARSET)
    T = 25
    pre = np.full((1, T, C), -5.0)
    word = "ok7"
    for t, ch in enumerate(word):
        pre[0, t, 1 + CHARSET.index(ch)] = 6.0
    pre[0, 3, 0] = 6.0  # blank wins at step 3 -> length 4
    out = rd.visionlan_decode(pre)
    # blank step contributes '' to the text
    assert out["texts"] == ["ok7"]
    assert out["raw_chars"][0][:4] == ["o", "k", "7", ""]
    assert len(out["raw_chars"][0]) == 4
    # conf = exp(mean log top-1 prob) over the 4 kept steps
    e = np.exp(pre[0, :4])
    soft = e / (e.sum(axis=1, keepdims=True) + 1e-7)
    p = soft.max(axis=1)
    want = np.exp(np.log(p).sum() / (p.shape[0] + 1e-6))
    np.testing.assert_allclose(out["confs"][0], want)
    # no blank anywhere -> full length
    pre2 = np.full((1, T, C), -5.0)
    pre2[0, :, 1 + CHARSET.index("a")] = 6.0
    out2 = rd.visionlan_decode(pre2)
    assert out2["texts"] == ["a" * T]


def test_end_to_end_all_heads_agree_on_clean_crop():
    """Master and SAR head contracts are reachable through the fused
    kernel like attn (round 5): on a clean generator-vocabulary crop all
    four decode families return the exact transcription."""
    from mindocr_spark.functions.glyphs import render_page
    from mindocr_spark.kernels.system import (
        classify_and_recognize,
        crop_box,
        detect_quads,
    )

    page, _ = render_page([("spark", 16, 16)], 64, 224)
    (poly,) = detect_quads(page)
    crop = crop_box(page, poly)
    got = {
        d: classify_and_recognize(crop, decoder=d)
        for d in ("ctc", "attn", "master", "sar")
    }
    assert {t for t, _ in got.values()} == {"spark"}
    assert got["master"][1] > 0.5 and got["sar"][1] > 0.5


@pytest.mark.parametrize("decoder", ["ctc", "attn", "master", "sar"])
def test_blank_crop_decodes_empty_with_zero_conf(decoder):
    """A crop with no ink decodes to ('', 0.0) under every head; the batch
    master_decode's NaN for a stop at step 0 stays its own."""
    from mindocr_spark.kernels.system import classify_and_recognize

    blank = np.full((32, 64), 255, np.uint8)
    assert classify_and_recognize(blank, decoder=decoder) == ("", 0.0)


def test_framing_contracts():
    from mindocr_spark.kernels.rec import analyze_crop, head_logits, rec_resize_norm
    from mindocr_spark.functions.glyphs import render_page
    from mindocr_spark.kernels.system import crop_box, detect_quads

    page, _ = render_page([("ab", 16, 16)], 64, 128)
    (poly,) = detect_quads(page)
    analysis = analyze_crop(rec_resize_norm(crop_box(page, poly)))
    m = head_logits(analysis, "master")
    s = head_logits(analysis, "sar")
    assert m.shape[1] == 3 + len(CHARSET)
    assert s.shape[1] == len(CHARSET) + 3
    assert m[-1].argmax() == rd.MASTER_STOP_IDX
    assert s[-1].argmax() == rd.SAR_END_IDX


def test_label_encode_kernels_reference_semantics():
    """str2idx / RecCTCLabelEncode / RecAttnLabelEncode goldens
    (rec_transforms.py:28-135, 233-318, 420-453)."""
    from mindocr_spark.functions.chardict import (
        attn_label_encode,
        ctc_label_encode,
        str2idx,
    )

    # OOD chars (space) skipped, not substituted
    assert str2idx("ab c") == [10, 11, 12]
    # empty / over-budget -> None
    assert str2idx("") is None and str2idx("x" * 24) is None
    # all-OOD -> None
    assert str2idx("   ") is None
    # CTC: blank(36)-padded to 23, length = valid chars
    ln, seq = ctc_label_encode("ab1")
    assert ln == 3 and len(seq) == 23
    assert seq[:3] == [10, 11, 1] and set(seq[3:]) == {36}
    ln0, seq0 = ctc_label_encode("x" * 24)
    assert ln0 == 0 and set(seq0) == {36}
    # attn: [GO] + (ids+2) + [STOP] + GO-padding, len = max+2
    ln2, seq2 = attn_label_encode("ab1")
    assert ln2 == 3 and len(seq2) == 25
    assert seq2[:5] == [0, 12, 13, 3, 1] and set(seq2[5:]) == {0}


def test_rec_label_encodings_query_matches_kernels(spark):
    """The pure-Catalyst corpus query equals the python kernels row-for-row
    (the oracle SQL equality is covered by the driver gate)."""
    from mindocr_spark.functions.chardict import (
        attn_label_encode,
        ctc_label_encode,
    )
    from mindocr_spark.operators.rec_labels import rec_label_encodings

    rows = rec_label_encodings(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    over_budget = 0
    for r in rows:
        ln, seq = ctc_label_encode(r["label"])
        ln2, seq2 = attn_label_encode(r["label"])
        assert r["enc_len"] == ln
        assert r["ctc_seq"] == "-".join(map(str, seq))
        assert r["attn_seq"] == "-".join(map(str, seq2))
        if len(r["label"]) > 23:
            over_budget += 1
            assert ln == 0
    assert over_budget > 0  # the None path is actually exercised
