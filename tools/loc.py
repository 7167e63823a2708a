"""Line counts of the package: physical lines and code lines per module.

A code line holds at least one token that is not a comment and is not
part of a docstring (a string literal standing alone as a statement);
blank lines, comment-only lines and docstring lines are not code. The
gap between the two counts shows whether a change removed code or only
comments and formatting.

usage: python tools/loc.py [package_dir]   (default: the package)
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def count(source: str) -> tuple[int, int]:
    """(physical lines, code lines) of one module's source."""
    doc_lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            doc_lines.update(range(node.lineno, node.end_lineno + 1))
    code_lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code_lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code_lines - doc_lines)


def main(argv: list[str]) -> None:
    package = Path(__file__).resolve().parents[1] / "atlassian_sampling_processor_spark"
    root = Path(argv[1]) if len(argv) > 1 else package
    total_phys = total_code = 0
    print(f"{'module':<40} {'lines':>7} {'code':>7}")
    for path in sorted(root.rglob("*.py")):
        phys, code = count(path.read_text())
        total_phys += phys
        total_code += code
        print(f"{str(path.relative_to(root)):<40} {phys:>7} {code:>7}")
    print(f"{'total':<40} {total_phys:>7} {total_code:>7}")


if __name__ == "__main__":
    main(sys.argv)
