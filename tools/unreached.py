"""List the engine definitions that no production path reaches.

Usage: python tools/unreached.py [root]

``root`` is the repository checkout to scan (default: the current
directory). The nodes are the top-level ``def``/``class`` statements of
``mindocr_spark/`` and the names its top-level assignments bind, so a
module-level constant or table counts only when something reached names
it. The roots are every file under ``jobs/`` and ``perfbench/`` (not
``perfbench/tests``), ``__spark_entry__.py``, ``bench.py`` and
``bench_extra.py``, plus each engine module's other top-level statements
(not its imports).

A definition reaches every definition whose name appears in its body as an
identifier token. A string literal counts only when it is a whole (dotted)
identifier, and the ``{...}`` fields of an f-string count as code, so a
mention in a comment or in docstring prose does not count. Names resolve by
name alone, so a collision can hide an unreached definition but never
invent one.

``ALLOWED`` names the definitions kept without a production caller; what
they use is kept with them. Prints one ``<module>.<name>`` line per
unreached definition outside that closure, then one ``stale allow-list
entry: <name>`` line per entry that names no definition or one a root
reaches, and exits 1 if it printed anything.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import re
import sys
import tokenize

ENGINE = "mindocr_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ROOT_DIRS = ("jobs", "perfbench")
ROOT_SKIP = (os.path.join("perfbench", "tests"),)

_IDENT = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")

# Unreached on purpose, each with what keeps it. Reference components with
# no production path name their COVERAGE.md row ("library: no production
# path" there); test oracles name the test they check the engine against;
# constants only tests read name those tests; the rest name the tool or
# fixture that needs them. What an entry uses is kept with it.
ALLOWED: dict[str, str] = {
    # reference components
    "sources.images.predict_image_dir": "COVERAGE §2.1 get_image_paths",
    "sources.golden.read_det_gt": "COVERAGE §2.1 DetDataset",
    "sources.golden.read_rec_gt": "COVERAGE §2.1 RecDataset",
    "sources.golden.write_system_results": "COVERAGE §2.1 sink save_res",
    "sources.datasets.read_publaynet": "COVERAGE §2.1 PublayNetDataset",
    "sources.datasets.read_pubtabnet": "COVERAGE §2.1 PubTabDataset",
    "sources.datasets.read_synthtext": "COVERAGE §2.1 SynthTextDataset",
    "functions.mat5.savemat": "COVERAGE §2.1 SynthTextDataset (fixture writer)",
    "functions.layout.recover_page_docx": "COVERAGE §2.1 convert_info_docx",
    "functions.layout.recover_page_text": "COVERAGE §2.5 sorted_layout_boxes",
    "kernels.rec.rec_resize_padded": "COVERAGE §2.2 RecResizeImg",
    "kernels.layout_post.letterbox": "COVERAGE §2.2 layout letterbox",
    "kernels.det.validate_polygons_train": "COVERAGE §2.2 ValidatePolygons",
    "kernels.system.layout_region_text": "COVERAGE §2.3 layout-region rec route",
    "kernels.det_label.shrink_binary_map": "COVERAGE §2.2 ShrinkBinaryMap / BorderMap",
    "kernels.det_label.border_map": "COVERAGE §2.2 ShrinkBinaryMap / BorderMap",
    "kernels.det_label_alt.east_score_geo": "COVERAGE §2.2 EASTProcessTrain labels",
    "kernels.det_label_alt.pse_gt_decode": "COVERAGE §2.2 PSEGtDecode labels",
    "functions.imaging.img_rotate": "COVERAGE §2.7 img_rotate",
    "metrics.cls_metric": "COVERAGE §2.4 cls_metric",
    "functions.chardict.load_char_dict": "COVERAGE §2.4 char-dict loading",
    "functions.chardict.valid_rec_label": "COVERAGE §2.4 CTC-aware label filters",
    "functions.chardict.ctc_label_encode": "COVERAGE §2.8 RecCTCLabelEncode",
    "functions.chardict.attn_label_encode": "COVERAGE §2.8 RecAttnLabelEncode",
    "functions.rec_decoders.abinet_decode": "COVERAGE §2.8 ABINetLabelDecode",
    "functions.rec_decoders.visionlan_decode": "COVERAGE §2.8 VisionLANPostProcess",
    "kernels.det_alt.pse_postprocess": "COVERAGE §2.9 PSEPostprocess",
    "kernels.det_alt.east_postprocess": "COVERAGE §2.9 EASTPostprocess",
    "kernels.layout_post.yolo_layout_postprocess": "COVERAGE §2.9 YOLOv8Postprocess",
    "kernels.layout_post.xyxy2xywh": "COVERAGE §2.9 YOLOv8Postprocess",
    "functions.table_master.decode_structure": "COVERAGE table-path status",
    # test oracles
    "operators.dedup.simhash_near_pairs": "tests/test_dedup_banded.py",
    "operators.dedup.simhash64_near_pairs": "tests/test_dedup_banded.py",
    "operators.similarity.embedding_near_dup_pairs": "tests/test_dedup_banded.py",
    "oracle.pipeline.extract_documents_oracle": "tests/test_extract_e2e.py and five more",
    "functions.xxh64_sql.xxh64_long_py": "tests/test_xxh64_sql.py",
    "functions.xxh64_sql.xxh64_bytes_py": "tests/test_xxh64_sql.py, tests/test_gopher.py",
    "functions.xxh64_sql.to_signed": "tests/test_xxh64_sql.py",
    "functions.kie.bio_label_maps": "tests/test_kie.py",
    "functions.kie.ser_segment_vote": "tests/test_kie.py",
    "functions.kie.show_label": "tests/test_kie.py",
    "functions.kie.seqeval_prf": "tests/test_kie.py",
    # constants only tests read, each naming the test
    "config.NUM_CLASSES": "tests/test_functions.py, tests/test_properties.py",
    "functions.attn.ATTN_NUM_CLASSES": "tests/test_round2_kernels.py",
    "functions.rec_decoders.MASTER_STOP_IDX": "tests/test_rec_decoders.py",
    "operators.dedup.NGRAM_JACCARD_SQL": "tests/test_dedup_banded.py",
    # tools and fixtures
    "functions.imaging.box_filter": "tools/kernel_parity.py (PSE inputs)",
    "data.gen_corpus.write_corpus_parquet": "writes what jobs/extract_job.py reads",
}


def _py_files(root: str, rel: str):
    top = os.path.join(root, rel)
    if os.path.isfile(top):
        yield rel
        return
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.relpath(os.path.join(dirpath, name), root)
            if name.endswith(".py") and not path.startswith(ROOT_SKIP):
                yield path


def _string_names(text: str) -> list[str]:
    """The identifiers a STRING token contributes: a whole dotted identifier
    literal, or the names inside an f-string's replacement fields (Python
    3.11 tokenizes an f-string as one STRING; 3.12 yields its fields as
    NAME tokens)."""
    node = ast.parse(text, mode="eval").body
    if isinstance(node, ast.Constant):
        v = node.value
        return v.split(".") if isinstance(v, str) and _IDENT.fullmatch(v) else []
    return [
        sub.id if isinstance(sub, ast.Name) else sub.attr
        for field in ast.walk(node)
        if isinstance(field, ast.FormattedValue)
        for sub in ast.walk(field.value)
        if isinstance(sub, (ast.Name, ast.Attribute))
    ]


def _bound_names(stmt: ast.stmt) -> list[str]:
    """The names a top-level assignment binds: plain and tuple targets, not
    subscript or attribute stores, nor dunders (``__version__``), which
    Python and packaging tools read."""
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [
        node.id
        for t in targets
        for node in (t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t])
        if isinstance(node, ast.Name) and not node.id.startswith("__")
    ]


def _tokens(src: str):
    """Yield ``(line, name)`` for every identifier the source uses in code."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            yield tok.start[0], tok.string
        elif tok.type == tokenize.STRING:
            for name in _string_names(tok.string):
                yield tok.start[0], name


def scan(root: str) -> tuple[dict[str, set[str]], dict[str, list[str]], set[str]]:
    """Return (each engine definition ``<module>.<name>`` -> the names its
    body uses, name -> the definitions of that name, the names the roots
    use)."""
    uses: dict[str, set[str]] = {}
    by_name: dict[str, list[str]] = {}
    root_names: set[str] = set()

    for path in _py_files(root, ENGINE):
        with open(os.path.join(root, path), encoding="utf-8") as f:
            src = f.read()
        tree = ast.parse(src)
        module = path[len(ENGINE) + 1 : -3].replace(os.sep, ".")
        # line -> the definitions it belongs to; [] for a root statement,
        # None for an import
        owner: dict[int, list[str] | None] = {}
        for stmt in tree.body:
            first, names = stmt.lineno, []
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                names = _bound_names(stmt)
            quals = [f"{module}.{name}" for name in names]
            for name, qual in zip(names, quals):
                if qual not in uses:
                    uses[qual] = set()
                    by_name.setdefault(name, []).append(qual)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                quals = None
            for line in range(first, stmt.end_lineno + 1):
                owner[line] = quals
        for line, name in _tokens(src):
            quals = owner.get(line)
            if quals:
                for qual in quals:
                    uses[qual].add(name)
            elif quals == []:
                root_names.add(name)

    for rel in ROOT_FILES + ROOT_DIRS:
        if not os.path.exists(os.path.join(root, rel)):
            continue
        for path in _py_files(root, rel):
            with open(os.path.join(root, path), encoding="utf-8") as f:
                src = f.read()
            root_names.update(name for _, name in _tokens(src))
    return uses, by_name, root_names


def _closure(uses, by_name, seeds) -> set[str]:
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        qual = todo.pop()
        if qual in reached or qual not in uses:
            continue
        reached.add(qual)
        todo.extend(q for n in uses[qual] for q in by_name.get(n, ()))
    return reached


def report(root: str, allowed=ALLOWED) -> tuple[list[str], list[str]]:
    """Return (the unreached definitions outside ``allowed``, the stale
    ``allowed`` entries). An allowed definition counts as reached, and so
    does everything it uses: a library component keeps its helpers. An
    entry is stale when no such definition exists or a root reaches it."""
    uses, by_name, root_names = scan(root)
    seeds = [q for n in root_names for q in by_name.get(n, ())]
    production = _closure(uses, by_name, seeds)
    kept = _closure(uses, by_name, seeds + list(allowed))
    stale = [q for q in allowed if q not in uses or q in production]
    return sorted(set(uses) - kept), sorted(stale)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=".")
    args = ap.parse_args()
    bad, stale = report(args.root)
    for qual in bad:
        print(qual)
    for qual in stale:
        print(f"stale allow-list entry: {qual}")
    sys.exit(1 if bad or stale else 0)


if __name__ == "__main__":
    main()
