r"""S4: arXiv-style tarball source — binaryFile scan + in-memory untar.

Re-creates the reference's ``read_tex_files`` (arxiv.py:50-85): open
each ``.tar.gz`` source, read every ``*.tex`` member (files that don't
decode as UTF-8 are skipped, arxiv.py:75-79), concatenate, and expand
macros (``pydemacro``, arxiv.py:84).  A payload that is not a tar at
all is treated as a single tex file (the ReadError fallback,
arxiv.py:66-67).

Spark-first differences (documented, deliberate):

- no tempdir: members are read straight out of the in-memory blob —
  executors never touch local disk;
- members concatenate in sorted-name order.  The reference uses
  ``glob`` order, which is filesystem-iteration order and therefore
  machine-dependent; a distributed run needs a deterministic order to
  be idempotent across retries;
- a macro-expansion failure quarantines the paper (``demacro_error``
  column) instead of raising — the reference's caller-level
  DemacroError skip (arxiv.py:153-156) expressed as data.

At 100 TB scale: binaryFile splits tarballs across tasks one file per
row (a tarball is one work unit — exactly the reference's granularity)
and the single Python stage is Arrow-batched; everything downstream is
ordinary columnar text.
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import map_rows

PAPER_SCHEMA = T.StructType(
    [
        T.StructField("paper_id", T.StringType(), False),
        T.StructField("n_tex_files", T.IntegerType(), False),
        T.StructField("tex", T.StringType(), True),
        T.StructField("demacro_error", T.StringType(), True),
    ]
)


def paper_id_from_path(path: str) -> str:
    """'…/2003.00042.tar.gz' → '2003.00042' (download() naming,
    arxiv.py:36-37)."""
    name = os.path.basename(path)
    for suffix in (".tar.gz", ".tgz", ".tar"):
        if name.endswith(suffix):
            return name[: -len(suffix)]
    return name


def read_tex_payload(blob: bytes) -> Tuple[int, str]:
    """(n_tex_files, concatenated tex) from one source blob — the
    pure kernel, importable Spark-free (golden generation + parity
    tests use it directly).

    May raise on a source that *looks* like a tar but is corrupt
    mid-stream (truncated gzip → EOFError during extraction);
    :func:`paper_from_blob` is the never-raise quarantining wrapper
    the Spark scan uses."""
    texts = []
    try:
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            members = sorted(
                (
                    m
                    for m in tf.getmembers()
                    if m.isfile() and m.name.endswith(".tex")
                ),
                key=lambda m: m.name,
            )
            for m in members:
                fh = tf.extractfile(m)
                if fh is None:
                    continue
                try:
                    texts.append(fh.read().decode("utf-8"))
                except UnicodeDecodeError:
                    continue  # arxiv.py:77-79 skips undecodable members
    except tarfile.ReadError:
        # not a tarball: try the payload as one tex file (arxiv.py:66)
        try:
            texts.append(blob.decode("utf-8"))
        except UnicodeDecodeError:
            pass
    return len(texts), "".join(texts)


def _fallback_decode_failed(blob: bytes) -> bool:
    """True iff ``blob`` took read_tex_payload's not-a-tar fallback AND
    the utf-8 decode failed — i.e. (0, '') means 'no decodable tex',
    not 'tar with no .tex members'.  Only consulted for empty results,
    so the re-probe costs nothing on the hot path."""
    if not blob:
        return False
    try:
        with tarfile.open(fileobj=io.BytesIO(blob)):
            return False  # a real (possibly .tex-free) tar — legit empty
    except tarfile.ReadError:
        pass
    try:
        blob.decode("utf-8")
        return False
    except UnicodeDecodeError:
        return True


def paper_from_blob(path: str, blob: bytes) -> Tuple[str, int, Optional[str], Optional[str]]:
    """(paper_id, n_tex_files, tex, demacro_error) for one source.

    Never raises: a corrupt source (e.g. a truncated gzip stream —
    tarfile.open succeeds on the intact header, then EOFError surfaces
    mid-extraction) or a macro bomb quarantines the *paper*, not the
    task.
    """
    from latex_ocr_spark.textkernel.demacro import expand_macros

    pid = paper_id_from_path(path)
    n = 0
    try:
        n, tex = read_tex_payload(blob)
        if n == 0 and not tex and _fallback_decode_failed(blob):
            # a source that is neither a tar nor decodable text would
            # otherwise be indistinguishable from a legitimately empty
            # paper (a real tar with zero .tex members, which the
            # reference yields silently, arxiv.py:75-80) — keep the
            # never-raise contract but make the data-quality gap
            # visible in the quarantine column
            return pid, 0, None, "no decodable tex"
        return pid, n, expand_macros(tex), None
    except Exception as exc:  # decompress/untar corruption, demacro guards
        return pid, n, None, f"{type(exc).__name__}: {exc}"


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

    return map_rows(
        raw, lambda: lambda p, b: [paper_from_blob(p, bytes(b))], ["path", "content"],
        PAPER_SCHEMA.fields, keep=[],
    )
