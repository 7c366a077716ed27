"""List the engine definitions and options that no production path reaches.

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
identifier token. A string literal does not count, but the ``{...}``
fields of an f-string count as code, so a mention in a comment, in
docstring prose or as a dict key does not count. A name resolves
to the module a file imports it from, to the module a qualified reference
(``relational.rec_metric``) names, or to the engine module's own
definition; any other name resolves by name alone, so a collision can hide
an unreached definition but never invent one.

An option is a parameter with a default on a top-level engine ``def``
that is not a ``row_stage`` row function (whose parameters name its input
columns). A call in the engine or a root sets an option when
it passes it by keyword or by position, directly or through ``partial``; a
``*args`` or ``**kwargs`` argument sets every option it could reach. An
option no call sets is reported as ``<module>.<name>(<option>)``.

``ALLOWED`` names the definitions kept without a production caller (what
they use is kept with them) and the options only a test or tool sets.
Prints one line per unreached definition or unset option outside it, then
one ``stale allow-list entry: <entry>`` line per entry that names nothing
or something a production caller reaches or sets, and exits 1 if it
printed anything.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

ENGINE = "mindocr_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ROOT_DIRS = ("jobs", "perfbench")
ROOT_SKIP = (os.path.join("perfbench", "tests"),)

# Unreached on purpose, each with what keeps it. Reference components with
# no production path name their COVERAGE.md row ("library: no production
# path" there); test oracles name the test they check the engine against;
# constants only tests read name those tests; the rest name the tool or
# fixture that needs them. What an entry uses is kept with it. An option
# entry, ``<definition>(<option>)``, names the test or tool that sets it.
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
    "metrics.rec_metric": "COVERAGE §2.4 rec_metric (RecMetric)",
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
    # options only a test or tool sets, each naming it
    "data.gen_corpus.write_corpus_parquet(seed)": "tests/conftest.py, tests/test_skew.py",
    "data.gen_corpus.write_corpus_parquet(media_heavy_frac)": "tests/test_skew.py",
    "functions.chardict.load_char_dict(path)": "tests/test_functions.py",
    "functions.chardict.load_char_dict(use_space_char)": "tests/test_functions.py",
    "functions.mat5.savemat(compress)": "tests/test_properties.py",
    "functions.pdf_text.make_simple_pdf(compress)": "tests/test_pdf.py",
    "functions.rec_decoders.master_decode(use_unknown_char)": "tests/test_rec_decoders.py",
    "functions.table_master.decode_structure(bbox_preds)": "tests/test_table_master.py",
    "functions.table_master.decode_structure(shape)": "tests/test_table_master.py",
    "functions.table_master.decode_structure(scores)": "tests/test_table_master.py",
    "functions.xxh64_sql.xxh64_bytes_py(seed)": "tests/test_xxh64_sql.py",
    "functions.xxh64_sql.xxh64_long_py(seed)": "tests/test_xxh64_sql.py",
    "kernels.layout_post.letterbox(scaleup)": "tests/test_round2_kernels.py",
    "kernels.layout_post.yolo_layout_postprocess(conf_thres)": "tests/test_layout_post.py",
    "operators.quality.bpe_apply(n_merges)": "tests/test_pretrain.py",
    "session.get_spark(shuffle_partitions)": "tests/conftest.py, tools/check_oracles.py",
    "sources.datasets.read_synthtext(data_dir)": "tests/test_dataset_sources.py",
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


def _join(module: str, name: str) -> str:
    return f"{module}.{name}" if module else name


def _string_names(text: str) -> list[str]:
    """The identifiers a STRING token contributes: the names inside an
    f-string's replacement fields (Python 3.11 tokenizes an f-string as one
    STRING; 3.12 yields its fields as NAME tokens)."""
    node = ast.parse(text, mode="eval").body
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


def _options(stmt: ast.stmt) -> list[tuple[str, int | None]]:
    """A top-level def's options: ``(name, position)`` per parameter with a
    default, position None for a keyword-only one. A ``row_stage`` row
    function has none: its parameters name its input columns."""
    if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) or any(
        isinstance(d, ast.Call) and _dotted(d.func)[-1:] == ("row_stage",)
        for d in stmt.decorator_list
    ):
        return []
    a = stmt.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    return [(p.arg, i) for i, p in enumerate(positional) if i >= first] + [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
    ]


def _dotted(node: ast.expr) -> tuple[str, ...]:
    """``a.b.c`` -> ("a", "b", "c"); an attribute of anything but a name
    gets the head "" (``f().g`` -> ("", "g")); () when not a name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    elif parts:
        parts.append("")
    return tuple(reversed(parts))


def _tokens(src: str):
    """Yield ``(line, prefix, name)`` for every identifier the source uses
    in code. ``prefix`` is the dotted chain before ``name``: ("relational",)
    for ``relational.rec_metric``, ("",) after a non-name (``f().g``)."""
    chain: tuple[str, ...] = ("",)
    last = None
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            chain = (*chain, tok.string) if last == "." else (tok.string,)
            yield tok.start[0], chain[:-1], tok.string
        elif tok.type == tokenize.STRING:
            for name in _string_names(tok.string):
                yield tok.start[0], (), name
        if tok.type != tokenize.NAME and tok.string != ".":
            chain = ("",)
        last = tok.string


def _calls(tree: ast.AST):
    """Yield ``(prefix, name, args, keywords)`` per call of a dotted name;
    ``partial(f, ...)`` counts as a call of ``f``."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func, args = node.func, node.args
        if _dotted(func)[-1:] == ("partial",) and args:
            func, args = args[0], args[1:]
        chain = _dotted(func)
        if chain:
            yield chain[:-1], chain[-1], args, node.keywords


class _Scan:
    """The engine's definitions, the edges between them, the roots' uses
    and the options calls set."""

    def __init__(self, root: str):
        self.uses: dict[str, set[str]] = {}
        self.by_name: dict[str, list[str]] = {}
        self.modules: set[str] = set()
        self.options: dict[str, list[tuple[str, int | None]]] = {}
        self.roots: set[str] = set()
        self.set_options: set[str] = set()

        engine = []
        for path in _py_files(root, ENGINE):
            with open(os.path.join(root, path), encoding="utf-8") as f:
                src = f.read()
            module = path[len(ENGINE) + 1 : -3].replace(os.sep, ".")
            module = module.removesuffix("__init__").rstrip(".")
            self.modules.add(module)
            engine.append((module, path.endswith("__init__.py"), src, ast.parse(src)))
        # line -> the definitions it belongs to; [] for a root statement,
        # None for an import
        owners = []
        for module, _, _, tree in engine:
            owner: dict[int, list[str] | None] = {}
            for stmt in tree.body:
                first, names = stmt.lineno, []
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    first = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
                    names = [stmt.name]
                elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                    names = _bound_names(stmt)
                quals = [_join(module, name) for name in names]
                opts = _options(stmt)
                for name, qual in zip(names, quals):
                    if qual not in self.uses:
                        self.uses[qual] = set()
                        self.by_name.setdefault(name, []).append(qual)
                    if opts:
                        self.options[qual] = opts
                if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    quals = None
                for line in range(first, stmt.end_lineno + 1):
                    owner[line] = quals
            owners.append(owner)

        for (module, is_pkg, src, tree), owner in zip(engine, owners):
            package = module if is_pkg else module.rpartition(".")[0]
            ctx = self._imports(tree, module, package)
            for line, prefix, name in _tokens(src):
                quals = owner.get(line)
                if quals is None:
                    continue
                for target in self.resolve(prefix, name, ctx):
                    for qual in quals or ():
                        self.uses[qual].add(target)
                    if quals == []:
                        self.roots.add(target)
            self._set_options(tree, ctx)

        for rel in ROOT_FILES + ROOT_DIRS:
            if not os.path.exists(os.path.join(root, rel)):
                continue
            for path in _py_files(root, rel):
                with open(os.path.join(root, path), encoding="utf-8") as f:
                    src = f.read()
                tree = ast.parse(src)
                ctx = self._imports(tree, None, None)
                for _, prefix, name in _tokens(src):
                    self.roots.update(self.resolve(prefix, name, ctx))
                self._set_options(tree, ctx)

    def _imports(self, tree, module, package):
        """A file's context: (alias -> engine module, name -> the engine
        definitions its import statements bind, its own engine module)."""
        mods: dict[str, str] = {}
        names: dict[str, list[str]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == ENGINE:
                        local = a.asname or ENGINE
                        mods[local] = a.name[len(ENGINE) + 1 :] if a.asname else ""
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    if package is None:
                        continue
                    parts = package.split(".") if package else []
                    base = ".".join(parts[: len(parts) - node.level + 1])
                    base = _join(base, node.module or "")
                elif (node.module + ".").startswith(ENGINE + "."):
                    base = node.module[len(ENGINE) + 1 :]
                else:
                    continue
                for a in node.names:
                    full = _join(base, a.name)
                    if full in self.modules:
                        mods[a.asname or a.name] = full
                    elif full in self.uses:
                        names.setdefault(a.asname or a.name, []).append(full)
        return mods, names, module

    def resolve(self, prefix: tuple[str, ...], name: str, ctx) -> list[str]:
        """The definitions ``prefix.name`` can mean in a file."""
        mods, names, own = ctx
        if not prefix:
            if name in names:
                return names[name]
            if own is not None and _join(own, name) in self.uses:
                return [_join(own, name)]
            return self.by_name.get(name, [])
        module = mods.get(prefix[0])
        for part in prefix[1:]:
            if module is not None:
                module = _join(module, part)
                module = module if module in self.modules else None
        qual = None if module is None else _join(module, name)
        if qual in self.uses:
            return [qual]
        if qual in self.modules:
            return []
        return self.by_name.get(name, [])

    def _set_options(self, tree, ctx) -> None:
        for prefix, name, args, keywords in _calls(tree):
            starred = any(isinstance(a, ast.Starred) for a in args)
            passed = {k.arg for k in keywords}
            for qual in self.resolve(prefix, name, ctx):
                for opt, pos in self.options.get(qual, ()):
                    if None in passed or opt in passed or (
                        pos is not None and (starred or pos < len(args))
                    ):
                        self.set_options.add(f"{qual}({opt})")


def _closure(uses: dict[str, set[str]], seeds) -> set[str]:
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        qual = todo.pop()
        if qual in reached or qual not in uses:
            continue
        reached.add(qual)
        todo.extend(uses[qual])
    return reached


def report(root: str, allowed=ALLOWED) -> tuple[list[str], list[str]]:
    """Return (the unreached definitions and unset options outside
    ``allowed``, the stale ``allowed`` entries). An allowed definition
    counts as reached, and so does everything it uses: a library component
    keeps its helpers. Options are reported only on kept definitions. An
    entry is stale when it names no definition or option, or a root
    reaches the definition, or a call sets the option."""
    s = _Scan(root)
    production = _closure(s.uses, s.roots)
    kept = _closure(s.uses, s.roots | {q for q in allowed if "(" not in q})
    options = {f"{q}({o})": q for q, opts in s.options.items() for o, _ in opts}
    unset = {o for o, q in options.items() if q in kept and o not in s.set_options}
    stale = [
        q for q in allowed
        if (
            (q in s.set_options or q not in options)
            if "(" in q
            else (q in production or q not in s.uses)
        )
    ]
    return sorted((set(s.uses) - kept) | (unset - set(allowed))), sorted(stale)


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
