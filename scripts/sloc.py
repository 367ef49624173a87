"""Count code lines of the engine: per file and in total.

A code line is a physical line that carries at least one token other
than a comment, a blank-line marker or a docstring. A docstring here is
any string that stands alone as a statement, so deleting comments or
rewording docstrings never changes the count; only code does.

Counts ``geotiff_processor_spark/`` and ``__spark_entry__.py`` under a
repository root (default: the checkout this script lives in). Stdlib
only. Usage:

    python scripts/sloc.py [ROOT]
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
           tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
           tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    sig = [t for t in toks if t.type not in _LAYOUT - {tokenize.NEWLINE}]
    lines: set[int] = set()
    for k, t in enumerate(sig):
        if t.type == tokenize.NEWLINE:
            continue
        bare = (t.type == tokenize.STRING
                and (k == 0 or sig[k - 1].type == tokenize.NEWLINE)
                and (k + 1 == len(sig) or sig[k + 1].type == tokenize.NEWLINE))
        if not bare:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def files(root: str) -> list[str]:
    out = [os.path.join(root, "__spark_entry__.py")]
    for d, subdirs, names in os.walk(
            os.path.join(root, "geotiff_processor_spark")):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        out += [os.path.join(d, n) for n in sorted(names)
                if n.endswith(".py")]
    return [p for p in out if os.path.isfile(p)]


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    counts = {}
    for path in files(root):
        with open(path, encoding="utf-8") as f:
            counts[os.path.relpath(path, root)] = code_lines(f.read())
    for rel, n in counts.items():
        print(f"{n:6d}  {rel}")
    pkg = sum(n for rel, n in counts.items()
              if rel.startswith("geotiff_processor_spark"))
    print(f"{pkg:6d}  geotiff_processor_spark/ (total)")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main()
