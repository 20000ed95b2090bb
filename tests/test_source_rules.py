"""Source rules that are checked, not just documented.

No frame is built from Python rows with ``createDataFrame``/``parallelize``
outside ``sources.tables.local_frame``: those plan as ``Scan ExistingRDD``,
so every execution pickles the rows through Python workers. The scan reads
the syntax tree, so docstrings and comments that name the calls are fine.
"""

from __future__ import annotations

import ast
from pathlib import Path

from tests.conftest import REPO

PKG = REPO / "open_telemetry_opentelemetry_collector_contrib_spark"
# the package, the top-level entry points and scripts/ (not tests/, and not
# perfbench/, which is the benchmark's own code)
SOURCES = sorted([*PKG.rglob("*.py"), *REPO.glob("*.py"), *(REPO / "scripts").glob("*.py")])
BANNED = {"createDataFrame", "parallelize"}
# (file, enclosing top-level function) where a banned call is the point
ALLOWED = {(PKG / "sources" / "tables.py", "local_frame")}


class _BannedCalls(ast.NodeVisitor):
    def __init__(self):
        self.scope: list[str] = []
        self.found: list[tuple[int, str, str | None]] = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in BANNED:
            self.found.append((node.lineno, name, self.scope[0] if self.scope else None))
        self.generic_visit(node)


def banned_calls(source: str, path: Path) -> list[str]:
    visitor = _BannedCalls()
    visitor.visit(ast.parse(source, filename=str(path)))
    return [
        f"{path.relative_to(REPO)}:{line} {name}()"
        for line, name, func in visitor.found
        if (path, func) not in ALLOWED
    ]


def test_scanner_flags_banned_calls():
    path = PKG / "example.py"
    src = (
        "def f(spark, rows):\n"
        "    '''spark.createDataFrame(rows) in a docstring is fine'''\n"
        "    a = spark.createDataFrame(rows, ['x'])\n"
        "    return spark.sparkContext.parallelize(rows)\n"
    )
    assert banned_calls(src, path) == [
        "open_telemetry_opentelemetry_collector_contrib_spark/example.py:3 createDataFrame()",
        "open_telemetry_opentelemetry_collector_contrib_spark/example.py:4 parallelize()",
    ]
    allowed = PKG / "sources" / "tables.py"
    assert banned_calls("def local_frame(spark, t):\n    return spark.createDataFrame(t)\n", allowed) == []


def test_no_python_row_frames_outside_local_frame():
    assert len(SOURCES) > 50  # the package was found
    offenders = [hit for p in SOURCES for hit in banned_calls(p.read_text(), p)]
    assert offenders == [], "use sources.tables.local_frame instead: " + ", ".join(offenders)
