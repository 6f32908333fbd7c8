"""S4 tarball source parity vs the reference's read_tex_files
(arxiv.py:50-85), plus the Spark scan end-to-end.

The reference concatenates members in filesystem-glob order, which is
machine-dependent; our kernel uses sorted-name order (documented
deviation).  Parity cases therefore use single-.tex-member tarballs —
order-insensitive — plus the ReadError fallback and the undecodable-
member skip, which are order-free by construction."""

import io
import os
import sys
import tarfile

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from latex_ocr_spark.sources.archives import (
    paper_from_blob,
    paper_id_from_path,
    read_tex_payload,
)
from ref_oracle import HAVE_REFERENCE, needs_reference, ref_read_tex_files

REF_READ = ref_read_tex_files() if HAVE_REFERENCE else None


def _targz(members: dict) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in sorted(members.items()):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _ref_read(tmp_path, blob: bytes, name="x.tar.gz") -> str:
    p = tmp_path / name
    p.write_bytes(blob)
    return REF_READ(str(p))


@needs_reference
def test_single_member_parity(tmp_path):
    tex = (
        "\\newcommand{\\vv}[1]{\\mathbf{#1}}\n\\begin{document}\n"
        "$\\vv{x} + 1$ % c\n\\begin{equation}a=b\\end{equation}\n"
    ).encode("utf-8")
    blob = _targz({"main.tex": tex, "notes.txt": b"ignored"})
    n, _raw = read_tex_payload(blob)
    assert n == 1
    _pid, _n, ours, err = paper_from_blob("p.tar.gz", blob)
    assert err is None
    assert ours == _ref_read(tmp_path, blob)


@needs_reference
def test_undecodable_member_skipped(tmp_path):
    blob = _targz(
        {"ok.tex": b"$a+b$\n", "bad.tex": "caf\xe9".encode("latin-1")}
    )
    n, raw = read_tex_payload(blob)
    assert n == 1 and "a+b" in raw and "caf" not in raw
    _pid, _n, ours, _err = paper_from_blob("p.tar.gz", blob)
    assert ours == _ref_read(tmp_path, blob)


@needs_reference
def test_not_a_tar_fallback(tmp_path):
    blob = b"$z^2$ plain tex payload\n"
    n, raw = read_tex_payload(blob)
    assert n == 1 and "z^2" in raw
    _pid, _n, ours, _err = paper_from_blob("p.tar.gz", blob)
    assert ours == _ref_read(tmp_path, blob)


def test_member_order_is_name_sorted():
    blob = _targz({"b.tex": b"BBB", "a.tex": b"AAA", "c/nested.tex": b"CCC"})
    _n, raw = read_tex_payload(blob)
    assert raw == "AAABBBCCC"  # sorted: a.tex, b.tex, c/nested.tex


def test_paper_id_from_path():
    assert paper_id_from_path("/x/2003.00042.tar.gz") == "2003.00042"
    assert paper_id_from_path("weird.tgz") == "weird"


def test_demacro_quarantine():
    blob = _targz({"m.tex": b"\\newcommand{\\a(}{x} $\\a( + 1$\n"})
    pid, n, tex, err = paper_from_blob("bad.tar.gz", blob)
    assert tex is None and err is not None


def test_spark_scan_end_to_end(spark, tmp_path):
    from latex_ocr_spark.datagen.tarballs import (
        N_PAPERS,
        PLAIN_IDX,
        POISON_IDX,
        write_fixture_tarballs,
    )
    from latex_ocr_spark.sources.archives import read_tex_archives

    d = str(tmp_path / "tarballs")
    write_fixture_tarballs(d)
    rows = {r.paper_id: r for r in read_tex_archives(spark, d).collect()}
    assert len(rows) == N_PAPERS
    poison = rows[f"2003.{10000 + POISON_IDX}"]
    assert poison.tex is None and poison.demacro_error
    plain = rows[f"2003.{10000 + PLAIN_IDX}"]
    assert plain.n_tex_files == 1 and "plain payload" in plain.tex
    ok = rows["2003.10000"]
    assert ok.n_tex_files == 2  # legacy.tex undecodable, notes.txt ignored
    assert "\\mathbf{x_0}" in ok.tex  # macro actually expanded


def test_tgz_and_bare_tar_also_scanned(spark, tmp_path):
    """The glob must admit every suffix paper_id_from_path handles."""
    from latex_ocr_spark.sources.archives import read_tex_archives

    d = tmp_path / "mixed"
    d.mkdir()
    blob = _targz({"m.tex": b"$q+1$\n"})
    (d / "2003.99991.tar.gz").write_bytes(blob)
    (d / "2003.99992.tgz").write_bytes(blob)
    # bare .tar (uncompressed)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"$r+2$\n"
        info = tarfile.TarInfo(name="m.tex")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    (d / "2003.99993.tar").write_bytes(buf.getvalue())

    rows = {r.paper_id for r in read_tex_archives(spark, str(d)).collect()}
    assert rows == {"2003.99991", "2003.99992", "2003.99993"}


def test_undecodable_non_tar_is_flagged_not_silently_empty():
    """A source that is neither a tar nor utf-8 text must carry a
    non-null quarantine reason — previously it produced (0, '', None)
    and was indistinguishable from a legitimately empty paper
    (round-2 advice #3).  A real tar with zero .tex members stays a
    silent empty, matching the reference (arxiv.py:75-80)."""
    import gzip
    import io
    import tarfile

    # valid gzip, not a tar, bytes undecodable as utf-8
    garbage = gzip.compress(b"\xff\xfe\x00binary" * 10)
    pid, n, tex, err = paper_from_blob("junk.tar.gz", garbage)
    assert (n, tex) == (0, None) and err == "no decodable tex"

    # raw undecodable bytes (no gzip) — same flag
    pid, n, tex, err = paper_from_blob("junk2.tar.gz", b"\x89PNG\r\n\x1a\n\x00\x01")
    assert err == "no decodable tex"

    # a genuine tar with no .tex members stays a silent empty paper
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = b"not tex"
        info = tarfile.TarInfo("readme.md")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    pid, n, tex, err = paper_from_blob("empty.tar.gz", buf.getvalue())
    assert (n, tex, err) == (0, "", None)
