"""Code lines per Python file and in total, leaving out blank lines,
comments and docstrings.

    python scripts/loc.py off_topic_memento_toolkit_spark
    python scripts/loc.py off_topic_memento_toolkit_spark/operators/groupkernels.py

A directory argument counts every ``*.py`` file below it."""

import ast
import io
import pathlib
import sys
import tokenize


def code_lines(source: str) -> int:
    """Lines holding a token other than a comment, a newline or a
    docstring."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and ast.get_docstring(node):
            first = node.body[0]
            docstrings.update(range(first.lineno, first.end_lineno + 1))
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def main(argv):
    paths = [p for arg in argv or ["."] for p in (
        sorted(pathlib.Path(arg).rglob("*.py"))
        if pathlib.Path(arg).is_dir() else [pathlib.Path(arg)])]
    total = 0
    for path in paths:
        n = code_lines(path.read_text())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
