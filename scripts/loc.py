"""Count code, comment and docstring lines of Python files with ``tokenize``.

A line is a *code* line if any token other than a comment, a docstring
or layout (NEWLINE/NL/INDENT/DEDENT) touches it; every line a multi-line
token spans counts.  A *docstring* is a string literal that forms a
statement on its own; its lines count as docstring lines unless code
shares them.  A *comment* line holds a comment and no code.  Blank lines
count as none of the three.

Usage:
    python scripts/loc.py <file-or-dir> [...]

Directories are walked for ``*.py``.  Prints one row per file and a
total row: ``code comments docstrings path``.  Report a change's net
delta as the difference of the total rows before and after.
"""

import io
import os
import sys
import tokenize

_LAYOUT = {tokenize.NEWLINE, tokenize.NL, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def count(source: str) -> tuple:
    code, comment, doc = set(), set(), set()
    prev = tokenize.NEWLINE  # a string first in the file is a docstring
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    for i, tok in enumerate(toks):
        lines = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.COMMENT:
            comment.update(lines)
        elif tok.type == tokenize.STRING and prev in (
            tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT
        ) and toks[i + 1].type in (tokenize.NEWLINE, tokenize.COMMENT):
            doc.update(lines)
        elif tok.type not in _LAYOUT:
            code.update(lines)
        if tok.type not in (tokenize.COMMENT, tokenize.NL):
            prev = tok.type
    return len(code), len(comment - code), len(doc - code)


def _files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                yield from (os.path.join(root, n) for n in sorted(names) if n.endswith(".py"))
        else:
            yield p


def main(argv) -> None:
    if not argv:
        raise SystemExit(__doc__)
    total = [0, 0, 0]
    for path in _files(argv):
        with open(path, encoding="utf-8") as fh:
            row = count(fh.read())
        total = [t + r for t, r in zip(total, row)]
        print(f"{row[0]:6d} {row[1]:6d} {row[2]:6d}  {path}")
    print(f"{total[0]:6d} {total[1]:6d} {total[2]:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
