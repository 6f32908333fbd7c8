"""Structured macro fuzz: randomly composed \\newcommand/\\def/\\let
documents with call sites, compared to the reference implementation —
stresses the arg-substitution, masking, and multi-round sweeps far
harder than alphabet-soup fuzz."""

import random

from latex_ocr_spark.textkernel.demacro import expand_macros
from ref_oracle import HAVE_REFERENCE, needs_reference, ref_demacro

REF = ref_demacro() if HAVE_REFERENCE else None

BODIES = [
    "x+1", r"\alpha", r"\frac{#1}{2}", "(#1+#2)", r"\begin{equation}#1\end{equation}",
    "#1#2#3", r"\sqrt{#1}", "plain text", r"\beta_{#1}", "{nested {braces}}",
    r"\gamma^{#2}_{#1}",
]
NAMES = ["aa", "bb", "cc", "dd", "ee", "ff", "zz", "qq"]


def gen_doc(rng: random.Random) -> str:
    parts = []
    defined = []
    for _ in range(rng.randint(1, 4)):
        name = rng.choice(NAMES)
        nargs = rng.randint(0, 3)
        body = rng.choice(BODIES)
        kind = rng.choice(["newcommand", "newcommand*", "def", "let"])
        if kind == "let":
            parts.append(f"\\let\\{name}=\\alpha")
            defined.append((name, 0, False))
        elif kind == "def":
            argspec = "".join(f"#{i}" for i in range(1, nargs + 1))
            parts.append(f"\\def\\{name}{argspec}{{{body}}}")
            defined.append((name, nargs, False))
        else:
            opt = rng.random() < 0.3 and nargs > 0
            spec = f"[{nargs}]" if nargs else ""
            default = "[zz]" if opt else ""
            parts.append(f"\\{kind}{{\\{name}}}{spec}{default}{{{body}}}")
            defined.append((name, nargs, opt))
        if rng.random() < 0.3:
            parts.append("% a comment line")
    for _ in range(rng.randint(1, 6)):
        name, nargs, opt = rng.choice(defined)
        args = "".join("{%s}" % rng.choice(["p", "q+1", r"\delta"]) for _ in range(nargs))
        optarg = "[OO]" if (opt and rng.random() < 0.5) else ""
        sep = rng.choice([" ", "\n", " $", " text "])
        parts.append(f"\\{name}{optarg}{args}{sep}")
    rng.shuffle(parts)
    return "\n".join(parts)


@needs_reference
def test_structured_macro_fuzz():
    rng = random.Random(20260816)
    for i in range(400):
        doc = gen_doc(rng)
        try:
            expected = REF.pydemacro(doc)
            failed = False
        except Exception:
            failed = True
        if failed:
            try:
                expand_macros(doc)
                raise AssertionError(f"reference raised, ours did not: {doc!r}")
            except AssertionError:
                raise
            except Exception:
                continue
        assert expand_macros(doc) == expected, f"case {i}: {doc!r}"
