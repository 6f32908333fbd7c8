"""Never-raise contracts of the quarantining kernels, fuzzed: whatever
bytes/strings arrive, the kernel returns a value or a quarantine
reason — it must not throw (a throw inside an executor task fails the
whole job; these kernels' contract is row-level quarantine)."""

import io
import tarfile

from hypothesis import given, settings
from hypothesis import strategies as st

from latex_ocr_spark.operators.symbolic import convert_checked
from latex_ocr_spark.sources.archives import paper_from_blob, read_tex_payload

# latex-ish token soup biases the fuzz toward the interesting paths
_LATEXISH = st.lists(
    st.sampled_from(
        list("abcxyz012 {}()^_\\$+-*/.~")
        + ["\\frac", "\\sqrt", "\\alpha", "\\left", "\\cdot", "\\lambda"]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_LATEXISH)
def test_convert_checked_never_raises(s):
    got, err = convert_checked(s)
    # exclusive contract: a result XOR a quarantine reason, never both
    assert (got is None) != (err is None)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512))
def test_paper_from_blob_never_raises_on_garbage(blob):
    # paper_from_blob is the never-raise wrapper (read_tex_payload is
    # documented to raise on tar-like-but-corrupt streams, so it is
    # NOT the right fuzz target — a random blob forming a truncated
    # gzip prefix is inside this domain)
    pid, n, tex, err = paper_from_blob("g.tar.gz", blob)
    assert pid == "g" and n >= 0
    assert (tex is None) == (err is not None)


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a.tex", "b.tex", "c.txt", "d/e.tex"]),
        st.binary(max_size=200),
        max_size=4,
    )
)
def test_paper_from_blob_on_arbitrary_tars(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in sorted(members.items()):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    pid, n, tex, err = paper_from_blob("f.tar.gz", buf.getvalue())
    assert pid == "f"
    assert (tex is None) == (err is not None)


def test_truncated_tarball_quarantines_not_raises():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = b"x" * 1000
        info = tarfile.TarInfo(name="m.tex")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    whole = buf.getvalue()
    for cut in (10, len(whole) // 2, len(whole) - 5):
        pid, n, tex, err = paper_from_blob("t.tar.gz", whole[:cut])
        assert pid == "t"  # never raises, whatever the truncation point
