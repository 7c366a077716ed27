"""Deterministic 5x7 bitmap glyph raster and text rendering.

Plays the role of the reference's synthetic-image trick for system tests
(``tests/st/test_online_infer.py:10-44`` renders known texts at known boxes
so detection/recognition goldens are known by construction). Our corpus
generator and the recognition scorer (template matching) share this raster,
which is what makes end-to-end span equality exact without a neural net.

Charset = the reference's default 36-char lowercase-alnum recognition dict
(``mindocr/postprocess/rec_postprocess.py:57-64``).
"""

from __future__ import annotations

import numpy as np

from ..config import CHARSET

# 5x7 font. '#'=ink. Each glyph's occupied columns are contiguous (validated
# by tests) so column-run segmentation in the recognizer is unambiguous.
_FONT: dict[str, list[str]] = {
    "0": [".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."],
    "1": ["..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "2": [".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"],
    "3": [".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."],
    "4": ["...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."],
    "5": ["#####", "#....", "####.", "....#", "....#", "#...#", ".###."],
    "6": ["..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."],
    "7": ["#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."],
    "8": [".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."],
    "9": [".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."],
    "a": [".....", ".....", ".###.", "....#", ".####", "#...#", ".####"],
    "b": ["#....", "#....", "####.", "#...#", "#...#", "#...#", "####."],
    "c": [".....", ".....", ".###.", "#....", "#....", "#...#", ".###."],
    "d": ["....#", "....#", ".####", "#...#", "#...#", "#...#", ".####"],
    "e": [".....", ".....", ".###.", "#...#", "#####", "#....", ".###."],
    "f": ["..##.", ".#..#", ".#...", "###..", ".#...", ".#...", ".#..."],
    "g": [".....", ".####", "#...#", "#...#", ".####", "....#", ".###."],
    "h": ["#....", "#....", "####.", "#...#", "#...#", "#...#", "#...#"],
    "i": ["..#..", ".....", ".##..", "..#..", "..#..", "..#..", ".###."],
    "j": ["...#.", ".....", "..##.", "...#.", "...#.", "#..#.", ".##.."],
    "k": ["#....", "#....", "#..#.", "#.#..", "##...", "#.#..", "#..#."],
    "l": [".##..", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "m": [".....", ".....", "##.#.", "#.#.#", "#.#.#", "#.#.#", "#.#.#"],
    "n": [".....", ".....", "####.", "#...#", "#...#", "#...#", "#...#"],
    "o": [".....", ".....", ".###.", "#...#", "#...#", "#...#", ".###."],
    "p": [".....", "####.", "#...#", "#...#", "####.", "#....", "#...."],
    "q": [".....", ".####", "#...#", "#...#", ".####", "....#", "....#"],
    "r": [".....", ".....", "#.##.", "##..#", "#....", "#....", "#...."],
    "s": [".....", ".....", ".####", "#....", ".###.", "....#", "####."],
    "t": [".#...", ".#...", "###..", ".#...", ".#...", ".#..#", "..##."],
    "u": [".....", ".....", "#...#", "#...#", "#...#", "#...#", ".####"],
    "v": [".....", ".....", "#...#", "#...#", "#...#", ".#.#.", "..#.."],
    "w": [".....", ".....", "#...#", "#.#.#", "#.#.#", "#.#.#", ".#.#."],
    "x": [".....", ".....", "#...#", ".#.#.", "..#..", ".#.#.", "#...#"],
    "y": [".....", "#...#", "#...#", "#...#", ".####", "....#", ".###."],
    "z": [".....", ".....", "#####", "...#.", "..#..", ".#...", "#####"],
}

GLYPH_H = 7
GLYPH_W = 5
ADVANCE = GLYPH_W + 1  # 1 blank column between glyphs
GLYPH_SCALE = 4  # rendered pixels per font cell
# render_table's ruled grid: cell size and rule width, in pixels
TABLE_CELL_W, TABLE_CELL_H, TABLE_LINE_PX = 224, 64, 2


def glyph_bitmap(ch: str) -> np.ndarray:
    """(7,5) uint8 {0,1} ink mask for one charset character."""
    rows = _FONT[ch]
    return np.array([[1 if c == "#" else 0 for c in r] for r in rows], dtype=np.uint8)


_TEMPLATES: np.ndarray | None = None


def templates() -> np.ndarray:
    """(36, 7, 5) uint8 stack of all glyph bitmaps, charset order."""
    global _TEMPLATES
    if _TEMPLATES is None:
        _TEMPLATES = np.stack([glyph_bitmap(c) for c in CHARSET])
    return _TEMPLATES


def tall_chars() -> str:
    """Charset chars whose glyph ink starts above row 2 (ascenders/digits),
    in charset order. The complement is the x-height class. Derived from the
    font so the corpus generator and the DuckDB oracle SQL (which inlines
    these as regex classes) can never drift from the raster."""
    return "".join(
        c for c in CHARSET
        if int(glyph_bitmap(c).any(axis=1).nonzero()[0][0]) < 2
    )


def mixed_height(word: str) -> bool:
    """True when the word mixes tall (ascender/digit) and x-height glyphs —
    the cls stage's baseline-alignment evidence is then decisive, so a
    180-degree rotation is always recoverable. All-x-height words (e.g.
    ``one``) are inherently orientation-ambiguous per crop and are only
    placed on upright pages."""
    tall = set(tall_chars())
    kinds = {ch in tall for ch in word}
    return len(kinds) == 2


def render_word(word: str) -> np.ndarray:
    """Render a charset-only word as a grayscale image (white bg, black ink).

    Returns uint8 (7*s, (len*6-1)*s) for s = ``GLYPH_SCALE``: each glyph
    cell is 5*s wide with a 1*s gap; no outer margin (the page renderer
    adds margins).
    """
    scale = GLYPH_SCALE
    if not word:
        return np.full((GLYPH_H * scale, GLYPH_W * scale), 255, dtype=np.uint8)
    w_cells = len(word) * ADVANCE - 1
    mask = np.zeros((GLYPH_H, w_cells), dtype=np.uint8)
    for i, ch in enumerate(word):
        mask[:, i * ADVANCE : i * ADVANCE + GLYPH_W] = glyph_bitmap(ch)
    big = np.kron(mask, np.ones((scale, scale), dtype=np.uint8))
    return np.where(big > 0, np.uint8(0), np.uint8(255))


def render_page(
    words_and_origins: list[tuple[str, int, int]],
    height: int,
    width: int,
    rotate180: bool = False,
) -> tuple[np.ndarray, list[dict]]:
    """Render words at (y, x) origins on a white page; return (image, gt).

    gt entries: ``{"transcription": word, "points": [[x,y]x4 clockwise]}`` —
    the reference's golden det/system record shape
    (``tools/infer/text/predict_system.py:358-379``). When ``rotate180`` the
    whole page is rotated 180 degrees and gt points are remapped, exercising
    the angle-classification stage.
    """
    page = np.full((height, width), 255, dtype=np.uint8)
    gt: list[dict] = []
    for word, y, x in words_and_origins:
        img = render_word(word)
        h, w = img.shape
        if y + h > height or x + w > width:
            raise ValueError(f"word {word!r} at ({y},{x}) overflows {height}x{width}")
        page[y : y + h, x : x + w] = np.minimum(page[y : y + h, x : x + w], img)
        pts = [[x, y], [x + w - 1, y], [x + w - 1, y + h - 1], [x, y + h - 1]]
        gt.append({"transcription": word, "points": pts})
    if rotate180:
        page = page[::-1, ::-1].copy()
        for rec in gt:
            rec["points"] = [
                [width - 1 - px, height - 1 - py] for px, py in rec["points"]
            ]
            # restore clockwise-from-topleft order after point reflection
            rec["points"] = [rec["points"][2], rec["points"][3], rec["points"][0], rec["points"][1]]
    return page, gt


def render_table(cell_words: list[list[str]]) -> tuple[np.ndarray, list[list[str]]]:
    """Render a ruled table: grid lines ``TABLE_LINE_PX`` wide around
    ``TABLE_CELL_W`` x ``TABLE_CELL_H`` cells, one word per cell (or '').

    Returns (gray image with dims padded to multiples of 32, the cell-word
    matrix as ground truth). Cell geometry respects the detection
    invariants (words well inside cells, lines far from glyphs).
    """
    n_rows = len(cell_words)
    n_cols = len(cell_words[0])
    cell_w, cell_h, line_px = TABLE_CELL_W, TABLE_CELL_H, TABLE_LINE_PX
    height0 = n_rows * cell_h + line_px
    width0 = n_cols * cell_w + line_px
    height = ((height0 + 31) // 32) * 32
    width = ((width0 + 31) // 32) * 32
    page = np.full((height, width), 255, dtype=np.uint8)
    for r in range(n_rows + 1):
        y = r * cell_h
        page[y : y + line_px, : width0] = 0
    for c in range(n_cols + 1):
        x = c * cell_w
        page[:height0, x : x + line_px] = 0
    for r in range(n_rows):
        for c in range(n_cols):
            word = cell_words[r][c]
            if not word:
                continue
            img = render_word(word)
            gh, gw = img.shape
            y = r * cell_h + (cell_h - gh) // 2
            x = c * cell_w + 16
            page[y : y + gh, x : x + gw] = np.minimum(
                page[y : y + gh, x : x + gw], img
            )
    return page, cell_words
