"""Line counts of the package: total lines and code-only lines, i.e.
without blank lines, comments and docstrings (a string that is a whole
statement).  Counted with the stdlib tokenizer, so a line of code that
ends in a comment counts and a line inside a multi-line SQL string
counts.

    python tools/loc.py [DIR ...]      (default: geo_sim_processing_a_spark)
"""

import io
import os
import sys
import tokenize

_LAYOUT = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)


def count(src: str) -> tuple:
    """(total lines, code-only lines) of one Python source."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.ENCODING)]
    code = set()
    for i, t in enumerate(toks):
        if t.type in _LAYOUT or t.type == tokenize.ENDMARKER:
            continue
        if (t.type == tokenize.STRING and (i == 0 or toks[i - 1].type in _LAYOUT)
                and toks[i + 1].type in (tokenize.NEWLINE, tokenize.ENDMARKER)):
            continue  # docstring
        code.update(range(t.start[0], t.end[0] + 1))
    return len(src.splitlines()), len(code)


def main(dirs) -> None:
    for d in dirs:
        files = total = code = 0
        for root, _, names in os.walk(d):
            for name in names:
                if name.endswith(".py"):
                    with open(os.path.join(root, name), encoding="utf-8") as f:
                        n, c = count(f.read())
                    files, total, code = files + 1, total + n, code + c
        print(f"{d}: {files} files, {total} lines, {code} code-only lines")


if __name__ == "__main__":
    main(sys.argv[1:] or ["geo_sim_processing_a_spark"])
