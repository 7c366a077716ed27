"""TableMaster structure-token decode + HTML composition.

The HTML-token vocabulary of the reference's TableMaster path, beside the
ruling-line grid in ``kernels/table.py``. This module carries the DECODE
and COMPOSITION semantics exactly, pure numpy/python:

- the structure vocabulary (``mindocr/utils/dict/
  table_master_structure_dict.txt`` + the special tokens appended by
  ``TableMasterLabelDecode.add_special_char``,
  ``mindocr/postprocess/table_postprocess.py:402-409``, with
  ``merge_no_span_structure`` applied as in :402-312);
- ``decode_structure``: the per-sequence token decode with <EOS> stop,
  ignored-token skip, <td>-token bbox attachment and the xywh->xyxy bbox
  unscale (``table_postprocess.py:326-361,414-432``);
- the matcher pipeline (``tools/infer/text/utils/matcher.py``): the
  center/IoU/distance rule cascade (:217-270, :525-553), unmatched-text
  row grouping (:144-190), virtual-token extension (:556-578),
  span-token merge (:305-332), <eb*> expansion (:335-350), text insertion
  (:353-367) and <thead> bolding with its duplicate/isolate-span repairs
  (:370-464) — composed by :func:`table_master_html` exactly like
  ``TableMasterMatcher.__call__`` (:600-614).

The "model" upstream stays a deterministic scorer (SURVEY §2.13): the
structure-token sequence itself comes from the detected ruling-line grid
or any deterministic source; everything from logits-argmax DOWN is
reference-exact and golden-tested (tests/test_table_master.py).
"""

from __future__ import annotations

import re

import numpy as np

from .geometry import convex_hull, poly_area_perimeter

# mindocr/utils/dict/table_master_structure_dict.txt, verbatim order
STRUCTURE_DICT = [
    "<thead>", "<tr>", "<td></td>", "</tr>", "</thead>",
    "<tbody>", "<eb></eb>", "</tbody>", "<td", ' colspan="5"',
    ">", "</td>", ' colspan="2"', ' colspan="3"', "<eb2></eb2>",
    "<eb1></eb1>", ' rowspan="2"', ' colspan="4"', ' colspan="6"',
    ' rowspan="3"', ' colspan="9"', ' colspan="10"', ' colspan="7"',
    ' rowspan="4"', ' rowspan="5"', ' rowspan="9"', ' colspan="8"',
    ' rowspan="8"', ' rowspan="6"', ' rowspan="7"', ' rowspan="10"',
    "<eb3></eb3>", "<eb4></eb4>", "<eb5></eb5>", "<eb6></eb6>",
    "<eb7></eb7>", "<eb8></eb8>", "<eb9></eb9>", "<eb10></eb10>",
]

UNKNOWN_STR = "<UKN>"
BEG_STR = "<SOS>"
END_STR = "<EOS>"
PAD_STR = "<PAD>"

TD_TOKENS = ["<td>", "<td", "<td></td>"]


def build_vocab() -> list[str]:
    """Token list with specials, exactly TableMasterLabelDecode.__init__
    (table_postprocess.py:289-305) with merge_no_span_structure=True, the
    reference default: append '<td></td>' if absent and remove '<td>' if
    present, then append [<UKN>, <SOS>, <EOS>, <PAD>]."""
    chars = list(STRUCTURE_DICT)
    if "<td></td>" not in chars:
        chars.append("<td></td>")
    if "<td>" in chars:
        chars.remove("<td>")
    return chars + [UNKNOWN_STR, BEG_STR, END_STR, PAD_STR]


VOCAB = build_vocab()
TOKEN_TO_ID = {t: i for i, t in enumerate(VOCAB)}
IGNORED_IDS = [
    TOKEN_TO_ID[BEG_STR],
    TOKEN_TO_ID[END_STR],
    TOKEN_TO_ID[PAD_STR],
    TOKEN_TO_ID[UNKNOWN_STR],
]


def bbox_decode(bbox: np.ndarray, shape: np.ndarray) -> np.ndarray:
    """Normalized xywh -> image-space xyxy, exactly
    TableMasterLabelDecode._bbox_decode (table_postprocess.py:414-432)
    with box_shape='ori', the reference default: scale by the image w/h,
    divide the resize ratios, then xyxy via FLOOR division of w/h by 2
    (the reference's ``w // 2``)."""
    bbox = np.asarray(bbox, dtype=np.float64).copy()
    h, w, ratio_h, ratio_w = [float(v) for v in shape[:4]]
    bbox[0::2] *= w
    bbox[1::2] *= h
    bbox[0::2] /= ratio_w
    bbox[1::2] /= ratio_h
    x, y, bw, bh = bbox
    return np.array(
        [x - bw // 2, y - bh // 2, x + bw // 2, y + bh // 2], dtype=np.float64
    )


def decode_structure(
    token_ids: np.ndarray,
    bbox_preds: np.ndarray | None = None,
    shape: np.ndarray | None = None,
    scores: np.ndarray | None = None,
) -> tuple[list[str], np.ndarray, float]:
    """One sequence of vocab ids -> (structure tokens, td bboxes xyxy,
    mean token score) — TableMasterLabelDecode.decode
    (table_postprocess.py:326-361): break at <EOS> past position 0, skip
    ignored tokens, attach a decoded bbox at every td token."""
    token_ids = np.asarray(token_ids).ravel()
    tokens: list[str] = []
    boxes: list[np.ndarray] = []
    kept_scores: list[float] = []
    for idx, tid in enumerate(token_ids):
        tid = int(tid)
        if idx > 0 and tid == TOKEN_TO_ID[END_STR]:
            break
        if tid in IGNORED_IDS:
            continue
        text = VOCAB[tid]
        if text in TD_TOKENS and bbox_preds is not None and shape is not None:
            boxes.append(bbox_decode(bbox_preds[idx], shape))
        tokens.append(text)
        kept_scores.append(
            float(scores[idx]) if scores is not None else 1.0
        )
    mean_score = float(np.mean(kept_scores)) if kept_scores else 0.0
    return tokens, np.array(boxes, dtype=np.float64).reshape(-1, 4), mean_score


# --- matcher (tools/infer/text/utils/matcher.py semantics) -----------------


def _xyxy2xywh(b: np.ndarray) -> np.ndarray:
    out = np.empty_like(b, dtype=np.float64)
    out[..., 0] = b[..., 0] + (b[..., 2] - b[..., 0]) / 2
    out[..., 1] = b[..., 1] + (b[..., 3] - b[..., 1]) / 2
    out[..., 2] = b[..., 2] - b[..., 0]
    out[..., 3] = b[..., 3] - b[..., 1]
    return out


def _cal_iou(a: np.ndarray, b: np.ndarray) -> float:
    """matcher.py:86-97 — NOTE the reference divides the rect
    intersection by the CONVEX-HULL area of both boxes' corners (not the
    union area; the reference's shapely MultiPoint(...).convex_hull.area);
    reproduced exactly."""
    ix0, iy0 = max(a[0], b[0]), max(a[1], b[1])
    ix1, iy1 = min(a[2], b[2]), min(a[3], b[3])
    if ix1 <= ix0 or iy1 <= iy0:
        return 0.0
    inter = (ix1 - ix0) * (iy1 - iy0)
    corners = np.array(
        [
            [a[0], a[1]], [a[2], a[1]], [a[2], a[3]], [a[0], a[3]],
            [b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]],
        ]
    )
    hull = poly_area_perimeter(convex_hull(corners))[0]
    return inter / hull if hull > 0 else 0.0


def match_table_boxes(
    text_xyxy: np.ndarray, master_xyxy: np.ndarray
) -> list[list[int]]:
    """The three-rule cascade (matcher.py:525-553): center-inside (a text
    may match SEVERAL master cells), max-IoU for center-unmatched texts,
    then nearest top-left distance pairing leftover masters to leftover
    texts. Returns [text_idx, master_idx] pairs."""
    text_xyxy = np.asarray(text_xyxy, dtype=np.float64).reshape(-1, 4)
    master_xyxy = np.asarray(master_xyxy, dtype=np.float64).reshape(-1, 4)
    text_xywh = _xyxy2xywh(text_xyxy)
    master_xywh = _xyxy2xywh(master_xyxy)
    match_list: list[list[int]] = []
    # rule 1: center inside (matcher.py:217-229)
    for i, t in enumerate(text_xywh):
        cx, cy = t[0], t[1]
        for j, m in enumerate(master_xyxy):
            if m[0] <= cx <= m[2] and m[1] <= cy <= m[3]:
                match_list.append([i, j])
    # rule 2: max-IoU for unmatched texts (matcher.py:232-250)
    matched_t = {p[0] for p in match_list}
    for i in range(len(text_xyxy)):
        if i in matched_t:
            continue
        best, best_iou = None, 0.0
        for j, m in enumerate(master_xyxy):
            iou = _cal_iou(text_xyxy[i], m)
            if iou > best_iou:
                best, best_iou = [i, j], iou
        if best:
            match_list.append(best)
    # rule 3: per-MASTER nearest top-left distance (matcher.py:253-270)
    matched_t = {p[0] for p in match_list}
    matched_m = {p[1] for p in match_list}
    rest_t = [i for i in range(len(text_xyxy)) if i not in matched_t]
    rest_m = [j for j in range(len(master_xyxy)) if j not in matched_m]
    if rest_t and rest_m:
        for j in rest_m:
            mp = master_xywh[j][:2]
            best, best_d = [0, 0], np.inf
            for i in rest_t:
                tp = text_xywh[i][:2]
                d = float(np.hypot(mp[0] - tp[0], mp[1] - tp[1]))
                if d < best_d:
                    best, best_d = [i, j], d
            match_list.append(best)
    return match_list


ROW_Y_THRESHOLD = 3.0  # the reference's default row threshold (matcher.py:144), px


def sort_unmatched_rows(text_xywh: np.ndarray, indexes: list[int]) -> list[list[int]]:
    """Group unmatched text boxes into visual rows (matcher.py:144-190):
    a box joins the first group whose FIRST member's center-y is within
    ``ROW_Y_THRESHOLD``; rows sort by first-member y, boxes within a row
    by x."""
    groups: list[list[int]] = []
    bgroups: list[list[np.ndarray]] = []
    for idx, bb in zip(indexes, text_xywh):
        for g, bg in zip(groups, bgroups):
            if abs(bb[1] - bg[0][1]) < ROW_Y_THRESHOLD:
                g.append(idx)
                bg.append(bb)
                break
        else:
            groups.append([idx])
            bgroups.append([bb])
    order = sorted(
        range(len(groups)),
        key=lambda k: sorted(bgroups[k], key=lambda b: b[0])[0][1],
    )
    out = []
    for k in order:
        pairs = sorted(zip(groups[k], bgroups[k]), key=lambda p: p[1][0])
        out.append([i for i, _ in pairs])
    return out


# --- HTML composition ------------------------------------------------------

EB_REPLACEMENTS = {
    "<eb></eb>": "<td></td>",
    "<eb1></eb1>": "<td> </td>",
    "<eb2></eb2>": "<td><b> </b></td>",
    "<eb3></eb3>": "<td>\u2028\u2028</td>",
    "<eb4></eb4>": "<td><sup> </sup></td>",
    "<eb5></eb5>": "<td><b></b></td>",
    "<eb6></eb6>": "<td><i> </i></td>",
    "<eb7></eb7>": "<td><b><i></i></b></td>",
    "<eb8></eb8>": "<td><b><i> </i></b></td>",
    "<eb9></eb9>": "<td><i></i></td>",
    "<eb10></eb10>": "<td><b> \u2028 \u2028 </b></td>",
}


def merge_span_token(tokens: list[str]) -> list[str]:
    """Collapse '<td' [span-attr]{1,2} '>' '</td>' runs into one token and
    force a trailing </tbody> (matcher.py:305-332)."""
    tokens = list(tokens)
    out: list[str] = []
    if not tokens or tokens[-1] != "</tbody>":
        tokens.append("</tbody>")
    p = 0
    while p < len(tokens) and tokens[p] != "</tbody>":
        if tokens[p] == "<td":
            try:
                if any(
                    tokens[p + 1].startswith(a)
                    for a in (" colspan=", " rowspan=")
                ):
                    out.append("".join(tokens[p : p + 4]))
                    p += 4
                elif any(
                    tokens[p + 2].startswith(a)
                    for a in (" colspan=", " rowspan=")
                ):
                    out.append("".join(tokens[p : p + 5]))
                    p += 5
                else:
                    out.append(tokens[p])
                    p += 1
            except IndexError:
                break
        else:
            out.append(tokens[p])
            p += 1
    out.append("</tbody>")
    return out


def deal_eb_token(token: str) -> str:
    for old, new in EB_REPLACEMENTS.items():
        token = token.replace(old, new)
    return token


def _join_cell_texts(text_list: list[str]) -> str:
    """get_match_text_dict + reduce_repeat_bb (matcher.py:288-305) with the
    reference's break_token ' ': if EVERY fragment is individually bolded,
    merge into one <b> span before joining."""
    if text_list and all(
        t.startswith("<b>") and t.endswith("</b>") for t in text_list
    ):
        inner = " ".join(t[3:-4] for t in text_list)
        return f"<b>{inner}</b>"
    return " ".join(text_list)


def insert_text_to_token(
    tokens: list[str], match_text: dict[int, str]
) -> str:
    """Insert matched texts into the td stream (matcher.py:353-367): the
    Nth td-ish token takes match_text[N] via the '><' seam."""
    merged = merge_span_token(tokens)
    out: list[str] = []
    td_count = 0
    for tok in merged:
        if tok.startswith("<td"):
            if td_count in match_text:
                tok = tok.replace("><", f">{match_text[td_count]}<")
            td_count += 1
        out.append(deal_eb_token(tok))
    return "".join(out)


def _deal_duplicate_bb(thead: str) -> str:
    td_pat = re.compile(r'<td(?: rowspan="\d+")?(?: colspan="\d+")?>.*?</td>')
    tds = td_pat.findall(thead)
    for td in tds:
        if td.count("<b>") > 1 or td.count("</b>") > 1:
            fixed = td.replace("<b>", "").replace("</b>", "")
            fixed = fixed.replace("<td>", "<td><b>").replace(
                "</td>", "</b></td>"
            )
            thead = thead.replace(td, fixed)
    return thead


def _deal_isolate_span(thead: str) -> str:
    pat = re.compile(
        r'<td></td> (rowspan="\d+" colspan="\d+"'
        r'|colspan="\d+" rowspan="\d+"|rowspan="\d+"|colspan="\d+")></b></td>'
    )
    fixes = [f"<td {span}></td>" for span in pat.findall(thead)]
    return pat.sub(lambda _: fixes.pop(0), thead)


def deal_bb(html: str) -> str:
    """Bold every <thead> cell, with the reference's span-aware variant
    and its duplicate-<b>/isolated-span repairs (matcher.py:418-464)."""
    m = re.search(r"<thead>(.*?)</thead>", html)
    if not m:
        return html
    thead = origin = m.group()
    span_pat = re.compile(
        r'<td (?:rowspan="\d+" colspan="\d+"'
        r'|colspan="\d+" rowspan="\d+"|rowspan="\d+"|colspan="\d+")>'
    )
    spans = span_pat.findall(thead)
    if not spans:
        thead = (
            thead.replace("<td>", "<td><b>")
            .replace("</td>", "</b></td>")
            .replace("<b><b>", "<b>")
            .replace("</b></b>", "</b>")
        )
    else:
        for sp in spans:
            thead = thead.replace(sp, sp.replace(">", "><b>"))
        thead = thead.replace("</td>", "</b></td>")
        thead = re.sub(r"(<b>)+", "<b>", thead)
        thead = re.sub(r"(</b>)+", "</b>", thead)
        thead = thead.replace("<td>", "<td><b>").replace("<b><b>", "<b>")
    thead = thead.replace("<td><b></b></td>", "<td></td>")
    thead = _deal_duplicate_bb(thead)
    thead = _deal_isolate_span(thead)
    return html.replace(origin, thead)


def table_master_html(
    structure_tokens: list[str],
    master_bboxes: np.ndarray,
    text_boxes: np.ndarray,
    texts: list[str],
) -> str:
    """Full TableMasterMatcher.__call__ pipeline (matcher.py:600-614 +
    Matcher.match/_format/get_merge_result): match OCR boxes to the
    decoded td bboxes, group unmatched texts into virtual rows appended
    after the real body, insert texts, bold the head, wrap."""
    text_boxes = np.asarray(text_boxes, dtype=np.float64).reshape(-1, 4)
    master_bboxes = np.asarray(master_bboxes, dtype=np.float64).reshape(-1, 4)
    nonzero = master_bboxes[np.abs(master_bboxes).sum(axis=1) != 0]
    match_list = match_table_boxes(text_boxes, nonzero)
    matched_t = {p[0] for p in match_list}
    unmatched = [i for i in range(len(text_boxes)) if i not in matched_t]
    tokens = list(structure_tokens)
    if unmatched:
        rows = sort_unmatched_rows(
            _xyxy2xywh(text_boxes[unmatched]), unmatched
        )
        flat = [i for row in rows for i in row]
        match_list = match_list + [
            [idx, len(nonzero) + k] for k, idx in enumerate(flat)
        ]
        virtual = [
            "<tr>" + "<td></td>" * len(row) + "</tr>" for row in rows
        ]
        # Matcher._format (matcher.py:563-571): note the reference's
        # "</tbody>"-tail branch extends a TEMPORARY slice (a no-op) —
        # reproduced so virtual rows land identically
        if tokens and tokens[-1] == "</tbody>":
            pass
        elif tokens and tokens[-1] == "<td></td>":
            tokens.append("</tr>")
            tokens.extend(virtual)
            tokens.append("</tbody>")
        else:
            tokens.extend(virtual)
            tokens.append("</tbody>")
    by_master: dict[int, list[int]] = {}
    for t_idx, m_idx in match_list:
        by_master.setdefault(m_idx, []).append(t_idx)
    match_text = {
        m_idx: _join_cell_texts([texts[i] for i in t_idxs])
        for m_idx, t_idxs in by_master.items()
    }
    html = insert_text_to_token(tokens, match_text)
    html = deal_bb(html)
    return "<html><body><table>" + html + "</table></body></html>"


def grid_structure_tokens(n_rows: int, n_cols: int) -> list[str]:
    """Deterministic structure-token sequence for an n_rows x n_cols
    ruled grid, its first row the <thead> — the bridge from
    kernels/table.py's grid detection to the TableMaster vocabulary
    (every emitted token is in VOCAB)."""
    row = ["<tr>"] + ["<td></td>"] * n_cols + ["</tr>"]
    head = ["<thead>", *row, "</thead>"] if n_rows > 0 else []
    return head + ["<tbody>"] + row * (n_rows - 1) + ["</tbody>"]
