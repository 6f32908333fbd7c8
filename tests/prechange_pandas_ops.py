"""The library's ``mapInPandas`` operators as of commit 00e4bf8, kept
verbatim as a differential oracle for their ``map_rows``/``mapInArrow``
rewrites.

Every operator body is copied unchanged.  The registry's generator
frames (``gen``/``norm`` inside ``plans/registry.py`` queries) are
wrapped in functions that take the frame the query built in front of
them (``docs``, ``ids``, ``formulas``, ``distinct``); the lines inside
are the old ones.  The package supplies only the per-row kernels and
schemas, which the rewrites did not touch.  Do not edit the copies:
their point is that they are the old code.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from latex_ocr_spark.operators.evalmetrics import (
    _PAIR_SCHEMA_EXTRA,
    bleu_counts,
    edit_distance,
    sentence_bleu,
    token_accuracy,
)
from latex_ocr_spark.operators.images import (
    PROBED_SCHEMA_EXTRA,
    _preprocess_checked,
    probe_png_size,
)
from latex_ocr_spark.operators.inference import PAD_ID, _decode_batch, with_token_bucket
from latex_ocr_spark.operators.multimodal import (
    _FEATURE_FIELDS,
    MEDIA_SCHEMA,
    _decode_frame_stub,
    _decode_stub,
    _featurize_checked,
)
from latex_ocr_spark.operators.symbolic import convert_checked
from latex_ocr_spark.operators.tokenize import _broadcast_tokenizer, _rebuild
from latex_ocr_spark.plans.registry import _IMG_SIZES
from latex_ocr_spark.sources.archives import PAPER_SCHEMA, paper_from_blob
from latex_ocr_spark.sources.tables import TRANSCRIPTS_SCHEMA

DEFAULT_SALT = 64


# ---- operators/images.py ---------------------------------------------


def with_probed_size(images: DataFrame, png_col: str = "png") -> DataFrame:
    """S3 size probe: width/height from IHDR bytes, no decode."""
    schema = T.StructType(list(images.schema.fields) + PROBED_SCHEMA_EXTRA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            sizes = [probe_png_size(b) for b in pdf[png_col]]
            pdf["width"] = pd.Series(
                [s[0] if s else None for s in sizes], dtype="Int32"
            )
            pdf["height"] = pd.Series(
                [s[1] if s else None for s in sizes], dtype="Int32"
            )
            yield pdf

    return images.mapInPandas(run, schema=schema)


def preprocess_images(images: DataFrame, png_col: str = "png") -> DataFrame:
    """I1+I4: decode → pad-to-÷32 → re-encode, appending the processed
    PNG and its final dims.  Runs per Arrow batch; rows whose decode is
    unsupported are passed through with nulls (quarantine downstream).
    """
    schema = T.StructType(
        list(images.schema.fields)
        + [
            T.StructField("proc_png", T.BinaryType()),
            T.StructField("proc_w", T.IntegerType()),
            T.StructField("proc_h", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            rows = [_preprocess_checked(b) for b in pdf[png_col]]
            pdf["proc_png"] = [r[0] for r in rows]
            pdf["proc_w"] = pd.Series([r[1] for r in rows], dtype="Int32")
            pdf["proc_h"] = pd.Series([r[2] for r in rows], dtype="Int32")
            yield pdf

    return images.mapInPandas(run, schema=schema)


# ---- operators/symbolic.py -------------------------------------------


def with_sympy(
    df: DataFrame, latex_col: str = "latex_norm", use_full_parser: bool = True
) -> DataFrame:
    """Append ``sympy_str``/``convert_error`` columns."""
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("sympy_str", T.StringType()),
            T.StructField("convert_error", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            out = [convert_checked(s, use_full_parser=use_full_parser) for s in pdf[latex_col]]
            pdf["sympy_str"] = [o[0] for o in out]
            pdf["convert_error"] = [o[1] for o in out]
            yield pdf

    return df.mapInPandas(run, schema=schema)


# ---- operators/evalmetrics.py ----------------------------------------


def score_pairs(
    pairs: DataFrame, pred_col: str = "pred", truth_col: str = "truth"
) -> DataFrame:
    """Append the four per-pair metrics.  post_process is applied to
    both sides inside the UDF (the reference's equality invariant).
    The tokenizer travels as a broadcast (executors may only have the
    --py-files zip, not the resources directory)."""
    from latex_ocr_spark.operators.tokenize import _broadcast_tokenizer, _rebuild

    bc = _broadcast_tokenizer(pairs)
    schema = T.StructType(list(pairs.schema.fields) + _PAIR_SCHEMA_EXTRA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from latex_ocr_spark.textkernel.normalize import post_process

        tk = _rebuild(bc)
        for pdf in batches:
            pdf = pdf.copy()
            bleus, eds, accs, exact = [], [], [], []
            overlaps, totals, plens, tlens = [], [], [], []
            for pred, truth in zip(pdf[pred_col], pdf[truth_col]):
                p = post_process(pred or "")
                t = post_process(truth or "")
                # BLEU over BPE token sequences, as the reference's
                # detokenize→bleu_score chain does (eval.py:55-57)
                pt = tk.detok_tokens(pred or "")
                tt = tk.detok_tokens(truth or "")
                bleus.append(sentence_bleu(pt, tt))
                ov, tot, pl, tl = bleu_counts(pt, tt)
                overlaps.append(ov)
                totals.append(tot)
                plens.append(pl)
                tlens.append(tl)
                eds.append(edit_distance(p, t) / max(len(t), 1))
                accs.append(
                    token_accuracy(
                        tk.encode(p, add_specials=False),
                        tk.encode(t, add_specials=False),
                    )
                )
                exact.append(int(p == t))
            pdf["bleu"] = bleus
            pdf["edit_dist_norm"] = eds
            pdf["token_acc"] = accs
            pdf["exact_match"] = exact
            pdf["bleu_overlap"] = overlaps
            pdf["bleu_total"] = totals
            pdf["pred_len"] = plens
            pdf["truth_len"] = tlens
            yield pdf

    return pairs.mapInPandas(run, schema=schema)


# ---- operators/multimodal.py -----------------------------------------


def extract_media_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Decode + feature-extract per Arrow batch.

    Features here are intensity histograms (images) — a deterministic
    stand-in with the exact shape a CNN/fbank extractor would emit.
    Undecodable rows carry ``decode_error`` instead of failing the
    task (quarantine downstream, render-retry semantics)."""
    schema = T.StructType(list(media.schema.fields) + _FEATURE_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            n_bytes: List[int] = []
            feats: List = []
            errs: List = []
            for kind, mime, payload in zip(pdf["kind"], pdf["mime"], pdf["payload"]):
                blob = bytes(payload) if payload is not None else b""
                n_bytes.append(len(blob))
                feat, err = _featurize_checked(
                    lambda k=kind, m=mime, b=blob: _decode_stub(k, m, b), feature_dim
                )
                feats.append(feat)
                errs.append(err)
            pdf["n_bytes"] = pd.Series(n_bytes, dtype="int64")
            pdf["feature"] = feats
            pdf["decode_error"] = errs
            yield pdf

    return media.mapInPandas(run, schema=schema)


def fetch_frames(media: DataFrame, plan: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Decode exactly the frames the sampling plan selected.

    The join attaches each planned (media_id, frame_idx, ts_ms) row to
    its payload — the payload travels once per *sampled frame*, never
    per source frame, which is the point of planning before decoding.
    No join hint: the plan side is narrow (three numbers per sampled
    frame) but its ROW COUNT is proportional to the corpus, so a
    forced broadcast would eventually exceed the broadcast limit;
    below the auto-broadcast threshold Spark picks the broadcast
    itself, above it the equi-join shuffles on media_id and the
    payload bytes still move at most once.

    Frame decode goes through the same codec boundary as
    :func:`extract_media_features`: no video codec in this container →
    every row quarantines with ``decode_error`` instead of failing the
    task, and a real ffmpeg binding replaces ``_decode_frame_stub``
    without moving anything else.
    """
    joined = media.select("media_id", "kind", "mime", "payload").join(
        plan, "media_id"
    )
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("feature", T.ArrayType(T.DoubleType())),
            T.StructField("decode_error", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, errs = [], []
            for kind, mime, payload, idx in zip(
                pdf["kind"], pdf["mime"], pdf["payload"], pdf["frame_idx"]
            ):
                feat, err = _featurize_checked(
                    lambda k=kind, m=mime, p=payload, i=idx: _decode_frame_stub(
                        k, m, bytes(p) if p is not None else b"", int(i)
                    ),
                    feature_dim,
                )
                feats.append(feat)
                errs.append(err)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "ts_ms": pdf["ts_ms"].astype("int64"),
                    "feature": feats,
                    "decode_error": errs,
                }
            )

    return joined.mapInPandas(run, schema=schema)


# ---- operators/inference.py ------------------------------------------


def infer_spans(
    spans_with_tokens: DataFrame,
    tokens_col: str = "tokens",
    num_partitions: int | None = None,
    salt_buckets: int = DEFAULT_SALT,
    decoder=None,
) -> DataFrame:
    """Append ``pred_latex`` via the batched decode.

    ``decoder``: the real-model seam — a picklable callable
    ``(B, L) int64 ndarray -> (B, L) int64 ndarray`` shipped to
    executors inside the mapInPandas closure (a module global would
    NOT survive the python-worker boundary).  A torch-backed decoder
    closes over its (small) state dict; None runs the deterministic
    stand-in (and raises NotImplementedError if torch is importable
    but unwired — the honest container gate).  Tested in
    tests/test_inference_eval.py: a numpy fake proves the plumbing
    everywhere, and the torch-conditional test exercises a real tiny
    module wherever torch exists."""
    df = with_token_bucket(spans_with_tokens, tokens_col)
    # salt on (conv_id, turn_idx): hashing conv_id alone would pin a
    # whale conversation to one partition — the turn component spreads
    # hot conversations while same-bucket rows still co-batch
    df = df.withColumn(
        "_salt", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(salt_buckets))
    )
    parts = [F.col("_salt"), F.col("bucket")]
    df = (
        df.repartition(num_partitions, *parts) if num_partitions else df.repartition(*parts)
    )
    df = df.sortWithinPartitions("bucket").drop("_salt")

    bc = _broadcast_tokenizer(df)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("pred_latex", T.StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tk = _rebuild(bc)
        for pdf in batches:
            pdf = pdf.copy()
            ids_list = [list(x) if x is not None else [] for x in pdf[tokens_col]]
            if ids_list:
                # dense (B, L) pad — cheap because the batch is
                # bucket-uniform, so L ≈ every row's length
                L = max((len(x) for x in ids_list), default=1) or 1
                batch = np.full((len(ids_list), L), PAD_ID, dtype=np.int64)
                for i, ids in enumerate(ids_list):
                    batch[i, : len(ids)] = ids
                decoded = _decode_batch(batch, decoder)
                pdf["pred_latex"] = [tk.decode(row) for row in decoded]
            else:
                pdf["pred_latex"] = []
            yield pdf

    return df.mapInPandas(run, schema=schema)


# ---- sources/archives.py, sources/tables.py --------------------------


def read_tex_archives(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory/glob of arXiv source tarballs into a papers
    table (one row per source, quarantine column for demacro
    failures)."""
    raw = (
        spark.read.format("binaryFile")
        # all three source spellings paper_id_from_path understands
        .option("pathGlobFilter", "*.{tar.gz,tgz,tar}")
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                paper_from_blob(p, bytes(b))
                for p, b in zip(pdf["path"], pdf["content"])
            ]
            out = pd.DataFrame(
                rows, columns=["paper_id", "n_tex_files", "tex", "demacro_error"]
            )
            out["n_tex_files"] = out["n_tex_files"].astype("int32")
            yield out

    return raw.mapInPandas(run, schema=PAPER_SCHEMA)


def synth_transcripts(
    spark: SparkSession, n_convs: int, parallelism: Optional[int] = None
) -> DataFrame:
    """Distributed deterministic transcript table with ``n_convs``
    conversations (seed-stable; see FIXTURES.md §1)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so executors resolve the module themselves
        from latex_ocr_spark.datagen.transcripts import conv_length, make_turn

        cols = [f.name for f in TRANSCRIPTS_SCHEMA.fields]
        for pdf in batches:
            rows = [
                make_turn(int(conv), turn)
                for conv in pdf["id"]
                for turn in range(conv_length(int(conv)))
            ]
            yield pd.DataFrame(rows, columns=cols)

    convs = spark.range(n_convs)
    if parallelism:
        convs = convs.repartition(parallelism)
    return convs.mapInPandas(_gen, schema=TRANSCRIPTS_SCHEMA)


# ---- plans/registry.py generator frames --------------------------------


def img_probe_bucket_images(docs: DataFrame) -> DataFrame:
    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        from latex_ocr_spark.operators.images import encode_png_gray

        for pdf in batches:
            pngs = []
            for did in pdf["doc_id"]:
                w, h = _IMG_SIZES[int(did) % 7]
                arr = np.full((h, w), 255, dtype=np.uint8)
                arr[: max(h // 4, 1), : max(w // 4, 1)] = 0
                pngs.append(encode_png_gray(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "png": pngs})

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("png", T.BinaryType())]
    )
    return docs.select("doc_id").mapInPandas(gen, schema=schema)


def img_render_probe_rendered(formulas: DataFrame) -> DataFrame:
    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from latex_ocr_spark.operators.images import render_latex_png

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "png": [render_latex_png(s) for s in pdf["formula"]],
                }
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("png", T.BinaryType())]
    )
    return formulas.mapInPandas(gen, schema=schema)


def img_preprocess_images(ids: DataFrame) -> DataFrame:
    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        from latex_ocr_spark.operators.images import encode_png_gray

        for pdf in batches:
            pngs = []
            for did in pdf["id"]:
                w, h = _IMG_SIZES[int(did) % 5]  # in-range sizes only
                arr = np.full((h, w), 255, dtype=np.uint8)
                arr[: max(h // 3, 1), : max(w // 3, 1)] = 0
                pngs.append(encode_png_gray(arr))
            yield pd.DataFrame({"doc_id": pdf["id"], "png": pngs})

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("png", T.BinaryType())]
    )
    return ids.mapInPandas(gen, schema=schema)


def media_features_media(ids: DataFrame) -> DataFrame:
    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        from latex_ocr_spark.operators.images import encode_png_gray

        for pdf in batches:
            rows = []
            for did in pdf["id"]:
                did = int(did)
                if did % 3 == 0:
                    arr = np.full((32, 32), (did * 37) % 256, dtype=np.uint8)
                    rows.append((did, "image", "image/png", bytearray(encode_png_gray(arr)),
                                 (32, 32, None, None, None)))
                elif did % 3 == 1:
                    rows.append((did, "audio", "audio/wav", bytearray(b"RIFF"),
                                 (None, None, 3000, 16000, None)))
                else:
                    rows.append((did, "video", "video/mp4", bytearray(b"ftyp"),
                                 (640, 360, 8000, None, 200)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "mime", "payload", "meta"])

    return ids.mapInPandas(gen, schema=MEDIA_SCHEMA)


def corpus_build_corpus(distinct: DataFrame) -> DataFrame:
    def norm(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from latex_ocr_spark.textkernel.normalize import normalize_formula_katex

        for pdf in batches:
            out = pdf["raw_match"].map(normalize_formula_katex)
            keep = out.notna()
            yield pd.DataFrame({"formula": out[keep]})

    schema = T.StructType([T.StructField("formula", T.StringType())])
    return distinct.mapInPandas(norm, schema=schema).distinct()
