"""Print the engine's size per file and in total: the modules under
``tiflink_spark/`` minus the query catalogs (``queries*.py``).

Three counts per file:

- lines: non-blank lines that are not comment-only (docstrings count);
- logical: Python statements (tokenize ``NEWLINE`` tokens);
- tokens: every token except layout and comments (``NEWLINE``, ``NL``,
  ``COMMENT``, ``INDENT``, ``DEDENT``, ``ENDMARKER``).

Usage: python tools/engine_loc.py [repo root, default: this checkout]
"""

from __future__ import annotations

import glob
import io
import os
import sys
import tokenize

LAYOUT = {
    tokenize.NEWLINE, tokenize.NL, tokenize.COMMENT,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}


def measure(src: str) -> tuple[int, int, int]:
    lines = sum(1 for ln in src.splitlines() if ln.strip() and not ln.strip().startswith("#"))
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    logical = sum(1 for t in toks if t.type == tokenize.NEWLINE)
    return lines, logical, sum(1 for t in toks if t.type not in LAYOUT)


def main(argv: list[str]) -> None:
    root = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(
        f for f in glob.glob(os.path.join(root, "tiflink_spark", "*.py"))
        if not os.path.basename(f).startswith("queries")
    )
    total = [0, 0, 0]
    print(f"{'file':<16} {'lines':>7} {'logical':>8} {'tokens':>8}")
    for f in files:
        with open(f) as fh:
            counts = measure(fh.read())
        total = [a + b for a, b in zip(total, counts)]
        print(f"{os.path.basename(f):<16} {counts[0]:>7,} {counts[1]:>8,} {counts[2]:>8,}")
    print(f"{'total':<16} {total[0]:>7,} {total[1]:>8,} {total[2]:>8,}")


if __name__ == "__main__":
    main(sys.argv)
