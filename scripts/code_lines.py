"""Print total and code-only line counts per Python file, plus their sums.

A code-only line carries a token of a statement that is not just a
string (a docstring), so comments, docstrings and blank lines drop out.

Usage: python scripts/code_lines.py PATH [PATH ...]  (files or directories)
"""

import pathlib
import sys
import tokenize

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.INDENT, tokenize.DEDENT,
           tokenize.ENCODING, tokenize.ENDMARKER}


def count(path: pathlib.Path) -> tuple[int, int]:
    code: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type == tokenize.NEWLINE or tok.type == tokenize.ENDMARKER:
                if not (len(stmt) == 1 and stmt[0].type == tokenize.STRING):
                    for t in stmt:
                        code.update(range(t.start[0], t.end[0] + 1))
                stmt = []
            elif tok.type not in _LAYOUT:
                stmt.append(tok)
    return len(path.read_bytes().splitlines()), len(code)


files = sorted({f for p in map(pathlib.Path, sys.argv[1:])
                for f in (p.rglob("*.py") if p.is_dir() else [p])})
counts = [count(f) for f in files]
print(f"{'total':>7} {'code':>7}  file")
for f, (total, code) in zip(files, counts):
    print(f"{total:>7} {code:>7}  {f}")
total, code = map(sum, zip(*counts)) if counts else (0, 0)
print(f"{total:>7} {code:>7}  TOTAL ({len(files)} files)")
