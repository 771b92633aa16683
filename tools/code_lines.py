"""Net code lines: source lines that carry a token, with comments,
blank lines and docstrings excluded (a multi-line token counts every
line it spans). Usage: python tools/code_lines.py [path ...]; the
default is gdal_spark/ + __spark_entry__.py."""

import ast
import io
import sys
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
NOISE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: Path) -> int:
    src = path.read_text()
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, SCOPES) and node.body:
            d = node.body[0]
            if isinstance(d, ast.Expr) and isinstance(d.value, ast.Constant) \
                    and isinstance(d.value.value, str):
                docs.update(range(d.lineno, d.end_lineno + 1))
    lines = set()
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type not in NOISE:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines - docs)


if __name__ == "__main__":
    paths = [Path(p) for p in sys.argv[1:]] or [
        ROOT / "gdal_spark", ROOT / "__spark_entry__.py"]
    files = [f for p in paths for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]
    print(sum(code_lines(f) for f in files))
