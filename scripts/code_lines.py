"""Line and code-line counts of Python files.

Usage:
    python scripts/code_lines.py FILE...

Prints one line per file, ``lines code_lines path``, then the totals. A
code line is a line that holds a token other than a comment, a docstring
or whitespace (newlines, indents and dedents). A token that spans lines,
such as a triple-quoted string that is not a docstring, counts on every
line it spans. Docstrings are found with ``ast``: the first statement of
a module, class or function when it is a string constant.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """The (line, column) where each docstring of ``tree`` starts."""
    starts = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                starts.add((body[0].lineno, body[0].col_offset))
    return starts


def count(source: str) -> tuple[int, int]:
    """``(lines, code_lines)`` of one file's source."""
    docstrings = docstring_starts(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE or (tok.type == tokenize.STRING and tok.start in docstrings):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total_lines = total_code = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            lines, code = count(f.read())
        total_lines += lines
        total_code += code
        print(f"{lines:7d} {code:7d} {path}")
    print(f"{total_lines:7d} {total_code:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
