"""The traced run: per-layer metrics, measured from outside the program.

Three sources, each named after the module whose layer it measures:

- Spark sub-plans built from the engine's public functions, each timed
  under its own job group, with the group's stage and SQL-node metrics
  read from the UI REST API (``sparkmetrics``);
- a single-process pass of the kernels over the workload's own payloads
  and text spans, phase by phase;
- the ten near-dup queries over the near-dup input
  (``inputs.dedup_input``).

Spans (name, start, end, parent) are kept in memory and written once, at
the end, to ``.perfbench_work/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time

import pyarrow.parquet as pq

from .inputs import Corpus
from .sparkmetrics import SparkRest, node_rows

DEDUP_QUERIES = (
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "minhash_lsh_incremental",
    "ngram_jaccard_filtered",
    "simhash_near_dup_banded",
    "simhash_near_dup_manku",
    "simhash64_near_dup",
    "image_near_dup",
    "embedding_near_dup_lsh",
    "semdedup",
)


class Tracer:
    """In-memory spans: name, start, end and the index of the parent span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _text_spans(spans):
    from pyspark.sql import functions as F

    from mindocr_spark.operators.text_path import extract_main_text_udf

    s = spans.select("doc_id", F.explode("spans").alias("s"))
    return s.filter(F.col("s.kind") == "text").select(
        "doc_id", extract_main_text_udf(F.col("s.text")).alias("text")
    )


def _joined_media(spans, media, cores: int):
    """Media spans with their payloads, spread over 2 x cores partitions by
    media_ref: the input the flagship's OCR stages see."""
    from pyspark.sql import functions as F

    s = spans.select("doc_id", F.explode("spans").alias("s"))
    refs = s.filter(F.col("s.kind") == "media").select(
        "doc_id", F.col("s.offset").alias("offset"),
        F.col("s.media_ref").alias("media_ref"),
    )
    return refs.repartition(2 * cores, "media_ref").join(
        media.select("media_ref", "image", "profile"), "media_ref", "left"
    ).select("doc_id", "offset", "media_ref", "image", "profile")


def _recognized(crops):
    """The exploded mode's crop redistribution, as ``plans.extract`` builds
    it, and the rec UDF over it."""
    from pyspark.sql import functions as F

    from mindocr_spark.operators.media_path import REC_SCHEMA, recognize_iter

    return crops.repartition(F.col("media_ref"), F.col("box_idx")).sortWithinPartitions(
        (F.col("crop_w") / F.greatest(F.col("crop_h"), F.lit(1))).asc()
    ).mapInPandas(recognize_iter, REC_SCHEMA)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _sub, files in os.walk(path)
        for f in files
    )


def kernel_pass(corpus: Corpus, tracer: Tracer) -> dict:
    """Every media span's payload and every text span once through the
    kernels in this process, one phase at a time, in the order the fused
    OCR UDF applies them (``kernels.system.media_payload_text``)."""
    from mindocr_spark.config import DROP_SCORE
    from mindocr_spark.functions.html_text import extract_main_text
    from mindocr_spark.functions.pdf_text import extract_pdf_text
    from mindocr_spark.functions.png_codec import decode_png
    from mindocr_spark.kernels.system import (
        classify_and_recognize,
        crop_box,
        detect_quads,
    )
    from mindocr_spark.kernels.table import detect_grid, extract_table

    media = pq.read_table(
        f"{corpus.dir}/media.parquet", columns=["media_ref", "image", "profile"]
    ).to_pylist()
    by_ref = {m["media_ref"]: m for m in media}
    spans = pq.read_table(f"{corpus.dir}/documents_spans.parquet").column("spans")
    texts, payloads = [], []
    for doc in spans.to_pylist():
        for s in doc:
            if s["kind"] == "text":
                texts.append(s["text"])
            else:
                payloads.append(by_ref.get(s["media_ref"]))

    c = dict.fromkeys(("images", "pdfs", "tables", "skipped", "boxes",
                       "crops_dropped"), 0)
    with tracer.span("kernels.decode"):
        images = []
        for m in payloads:
            blob = None if m is None else bytes(m["image"])
            if blob is None or blob.startswith(b"%PDF"):
                continue
            try:
                img = decode_png(blob)  # the generated pages are gray
            except ValueError:  # undecodable payload: counted, not fatal
                c["skipped"] += 1
                continue
            images.append((img, m["profile"]))
        c["images"] = len(images)
        c["skipped"] += sum(m is None for m in payloads)
    with tracer.span("kernels.pdf"):
        for m in payloads:
            if m is not None and bytes(m["image"]).startswith(b"%PDF"):
                extract_pdf_text(bytes(m["image"]))
                c["pdfs"] += 1
    with tracer.span("kernels.grid"):
        routed = []
        for img, prof in images:
            h, v = detect_grid(img)
            routed.append((img, prof, len(h) >= 2 and len(v) >= 2))
    with tracer.span("kernels.table"):
        for img, _prof, is_table in routed:
            if is_table:
                extract_table(img)
                c["tables"] += 1
    with tracer.span("kernels.det"):
        boxed = [
            (img, prof, detect_quads(img, box_mode="poly" if prof == "poly" else "quad"))
            for img, prof, is_table in routed
            if not is_table
        ]
        c["boxes"] = sum(len(b) for _i, _p, b in boxed)
    with tracer.span("kernels.crop"):
        crops = [(crop_box(img, q), prof) for img, prof, quads in boxed for q in quads]
    with tracer.span("kernels.cls_rec"):
        for crop, prof in crops:
            text, conf = classify_and_recognize(
                crop, decoder="attn" if prof == "attn" else "ctc"
            )
            c["crops_dropped"] += (not text) or conf < DROP_SCORE
    with tracer.span("text_path.strip"):
        for t in texts:
            extract_main_text(t)

    out = {f"kernels.{k}": v for k, v in c.items()}
    out["kernels.kept_ratio"] = (
        (len(crops) - c["crops_dropped"]) / len(crops) if crops else 0.0
    )
    phases = ("decode", "pdf", "grid", "table", "det", "crop", "cls_rec")
    for phase in phases:
        out[f"kernels.{phase}_s"] = tracer.seconds(f"kernels.{phase}")
    out["text_path.strip_ms"] = tracer.seconds("text_path.strip") * 1e3
    out["kernels.single_core_s"] = (
        sum(out[f"kernels.{p}_s"] for p in phases) + out["text_path.strip_ms"] / 1e3
    )
    distinct = {
        hashlib.blake2b(bytes(m["image"]), digest_size=16).digest()
        for m in payloads if m is not None
    }
    out["media_path.distinct_payloads"] = len(distinct) + any(m is None for m in payloads)
    return out


def traced_run(spark, corpus: Corpus, work: str, cores: int, rss) -> dict:
    """Per-layer metrics of one workload; the near-dup input must be at
    ``{work}/dedup``. The full extract's output is left at
    ``{work}/trace/extract`` and the job's at ``{work}/trace/job`` for the
    caller's correctness check."""
    import __spark_entry__

    from mindocr_spark.operators.media_path import (
        DET_CROPS_SCHEMA,
        FUSED_SCHEMA,
        det_crops_iter,
        ocr_fused_iter,
    )
    from mindocr_spark.plans.extract import extract, load_corpus
    from mindocr_spark.plans.lineage import run_extract_job

    from .workloads import run_op

    rest = SparkRest(spark)
    tracer = Tracer()
    sc = spark.sparkContext
    tdir = f"{work}/trace"
    m: dict[str, float] = {}

    t = time.perf_counter()
    run_op(spark, corpus, f"{tdir}/untraced")
    untraced_s = time.perf_counter() - t

    @contextlib.contextmanager
    def group(name: str):
        sc.setJobGroup(name, name)
        try:
            with tracer.span(name):
                yield
        finally:
            sc.setJobGroup(None, None)

    with tracer.span(corpus.workload):
        with group("sources.scan"):
            spans, media = load_corpus(spark, corpus.dir)
            _noop(spans)
            _noop(media)
        st = rest.group_stats("sources.scan")
        m["sources.scan_s"] = tracer.seconds("sources.scan")
        m["sources.input_bytes"] = st["input_bytes"]

        with group("text_path.udf"):
            _noop(_text_spans(spans))
        st = rest.group_stats("text_path.udf")
        m["text_path.udf_s"] = tracer.seconds("text_path.udf")
        m["text_path.spans"] = node_rows(st, "ArrowEvalPython")

        joined = _joined_media(spans, media, cores)
        with group("media_path.ocr"):
            _noop(joined.mapInPandas(ocr_fused_iter, FUSED_SCHEMA))
        st = rest.group_stats("media_path.ocr")
        m["media_path.ocr_stage_s"] = tracer.seconds("media_path.ocr")
        m["media_path.ocr_rows"] = node_rows(st, "MapInPandas")

        crops = joined.mapInPandas(det_crops_iter, DET_CROPS_SCHEMA)
        with group("media_path.det_crops"):
            _noop(crops)
        st = rest.group_stats("media_path.det_crops")
        m["media_path.det_crops_stage_s"] = tracer.seconds("media_path.det_crops")
        m["media_path.crop_rows"] = crop_rows = node_rows(st, "MapInPandas")

        # rec has no input of its own: time det + crop shuffle + rec, and
        # take the det-only time off
        with group("media_path.det_rec"):
            _noop(_recognized(crops))
        st = rest.group_stats("media_path.det_rec")
        m["media_path.recognize_stage_s"] = (
            tracer.seconds("media_path.det_rec") - m["media_path.det_crops_stage_s"]
        )
        # the crop exchange is the stage write of one record per crop row
        m["media_path.crop_bytes"] = sum(
            b for recs, b in st["shuffle_writes"] if recs == crop_rows
        )

        with group("plans.extract"):
            extract(spark, spans, media, mode="fused").write.parquet(f"{tdir}/extract")
        st = rest.group_stats("plans.extract")
        m["plans.extract_s"] = tracer.seconds("plans.extract")
        m["plans.shuffle_write_bytes"] = st["shuffle_write_bytes"]
        m["plans.shuffle_read_bytes"] = st["shuffle_read_bytes"]
        m["plans.task_skew"] = st["task_skew"]

        with group("lineage.job"):
            stats = run_extract_job(
                spark, spans, media, f"{tdir}/job", mode="exploded",
                salt_buckets=8,
            )
        job_s = tracer.seconds("lineage.job")
        m["lineage.extract_write_s"] = stats["wall_sec"]
        m["lineage.bookkeeping_s"] = job_s - stats["wall_sec"]
        m["lineage.buckets"] = pq.read_table(f"{tdir}/job/_lineage").num_rows
        m["lineage.output_bytes"] = _dir_bytes(f"{tdir}/job")

        m["session.jvm_peak_rss_mb"] = rss.peak_mb("jvm")
        queries = __spark_entry__.queries()
        rss.reset()
        shuffle = 0
        for q in DEDUP_QUERIES:
            with group(f"dedup.{q}"):
                queries[q](spark, f"{work}/dedup").write.parquet(f"{tdir}/dedup/{q}")
            spark.catalog.clearCache()
            m[f"dedup.{q}_s"] = tracer.seconds(f"dedup.{q}")
            st = rest.group_stats(f"dedup.{q}")
            shuffle += st["shuffle_write_bytes"]
        m["dedup.shuffle_bytes"] = shuffle
        m["dedup.peak_rss_mb"] = rss.peak_mb()

        m.update(kernel_pass(corpus, tracer))

    ocr_rows = m["media_path.ocr_rows"]
    m["media_path.ocr_useful_ratio"] = (
        m["media_path.distinct_payloads"] / ocr_rows if ocr_rows else 0.0
    )
    m["plans.parallel_efficiency"] = m["kernels.single_core_s"] / (cores * untraced_s)
    m["trace.overhead_s"] = m["plans.extract_s"] - untraced_s
    tracer.write(os.path.join(
        os.path.dirname(work), "traces", f"{corpus.workload}-{corpus.seed}.json"
    ))
    return m
