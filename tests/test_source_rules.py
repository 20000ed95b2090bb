"""Source rules that are checked, not just documented.

- No frame is built from Python rows with ``createDataFrame``/``parallelize``
  outside ``sources.tables.local_frame``: those plan as ``Scan ExistingRDD``,
  so every execution pickles the rows through Python workers.
- The flagship stages have one definition: only ``plans/pipeline.py`` calls
  ``parse_transcripts``, ``role_dim`` and ``tool_dim``; everything else
  composes parse -> enrich -> route through ``pipeline.route_transcripts``.
- Spark work runs off the caller's thread in one place: only
  ``sources/sinks.py`` names ``ThreadPoolExecutor``, ``Thread`` or
  ``InheritableThread`` (imported, called or subclassed). Its
  ``write_sinks`` carries the caller's job group, tags and SQL local
  properties into its threads; a bare thread drops them.
- A subtree is shared one way, ``sources.tables.materialize``: only
  ``sinks.write_sinks`` calls ``persist``/``cache``/``unpersist``, for its
  one scoped fan-out cache. A query-path ``persist`` registers its plan in
  the session's CacheManager, so the next identical query in the session
  reads the previous run's cache.
- A scan is widened one way, ``sources.tables.spread_scan``: only it calls
  ``getNumPartitions``. A second, private widening rule is one more place
  to re-measure when the host changes.
- OTTL statements compile in one place: only ``ottl/`` calls
  ``call_editor``; transform groups and route mutations go through
  ``ottl.apply_statement``.
- Go named groups are read in one place, ``ottl.functions.go_regex``: only
  it reads ``.groupindex`` or matches regex group syntax (a string with an
  escaped ``\\(\\?``, or a ``.replace()`` of a ``(?`` opener). Split
  translators drift: one rejected ``(?<name>…)``, one handed Java a group
  name with ``_``, one merged the aliases ``a_b`` and ``a.b``.

The scan reads the syntax tree, so docstrings and comments that name the
calls are fine.
"""

from __future__ import annotations

import ast
from pathlib import Path

from tests.conftest import REPO

PKG = REPO / "open_telemetry_opentelemetry_collector_contrib_spark"
# the package, the top-level entry points and scripts/ (not tests/, and not
# perfbench/, which is the benchmark's own code)
SOURCES = sorted([*PKG.rglob("*.py"), *REPO.glob("*.py"), *(REPO / "scripts").glob("*.py")])
ROW_FRAME_CALLS = {"createDataFrame", "parallelize"}
FLAGSHIP_CALLS = {"parse_transcripts", "role_dim", "tool_dim"}
LOCAL_FRAME = (PKG / "sources" / "tables.py", "local_frame")
FLAGSHIP = (PKG / "plans" / "pipeline.py", None)
SINKS = (PKG / "sources" / "sinks.py", None)
WRITE_SINKS = (PKG / "sources" / "sinks.py", "write_sinks")
CACHE_CALLS = {"persist", "cache", "unpersist"}
SPREAD_SCAN = (PKG / "sources" / "tables.py", "spread_scan")
OTTL = {(p, None) for p in (PKG / "ottl").glob("*.py")}
GO_REGEX = (PKG / "ottl" / "functions.py", "go_regex")
# not calls: an attribute read, and a string that reads regex group syntax
GO_GROUPS = {"groupindex", "group-syntax"}
# flagged wherever they are named, not only where they are called
THREADS = {"ThreadPoolExecutor", "Thread", "InheritableThread"}
# call name -> the only places it may be called: (file, enclosing top-level
# function), where None allows any function of the file
ALLOWED = {
    "createDataFrame": {LOCAL_FRAME},
    "parallelize": {LOCAL_FRAME},
    **{name: {FLAGSHIP} for name in FLAGSHIP_CALLS},
    **{name: {SINKS} for name in THREADS},
    **{name: {WRITE_SINKS} for name in CACHE_CALLS},
    "getNumPartitions": {SPREAD_SCAN},
    "call_editor": OTTL,
    **{name: {GO_REGEX} for name in GO_GROUPS},
}
CALLS = ALLOWED.keys() - THREADS - GO_GROUPS


class _RuledCalls(ast.NodeVisitor):
    def __init__(self):
        self.scope: list[str] = []
        self.found: list[tuple[int, str, str | None]] = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _found(self, node, hit):
        self.found.append((node.lineno, hit, self.scope[0] if self.scope else None))

    def visit_Call(self, node):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in CALLS:
            self._found(node, f"{name}()")
        if name == "replace" and any(
            isinstance(a, ast.Constant) and "(?" in str(a.value) for a in node.args
        ):
            self._found(node, "group-syntax")
        self.generic_visit(node)

    def visit_Expr(self, node):
        # a bare string statement is a docstring
        if not isinstance(node.value, ast.Constant):
            self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str) and r"\(\?" in node.value:
            self._found(node, "group-syntax")

    def visit_Name(self, node):
        if node.id in THREADS:
            self._found(node, node.id)

    def visit_Attribute(self, node):
        if node.attr in THREADS | {"groupindex"}:
            self._found(node, node.attr)
        self.generic_visit(node)

    def visit_ImportFrom(self, node):
        for alias in node.names:
            if alias.name in THREADS:
                self._found(node, alias.name)


def banned_calls(source: str, path: Path, names=ALLOWED.keys()) -> list[str]:
    """Calls to ``names`` in ``source`` (for ``THREADS``, any mention) that
    are outside their allowed places."""
    visitor = _RuledCalls()
    visitor.visit(ast.parse(source, filename=str(path)))
    return [
        f"{path.relative_to(REPO)}:{line} {hit}"
        for line, hit, func in visitor.found
        if (name := hit.removesuffix("()")) in names
        and not {(path, func), (path, None)} & ALLOWED[name]
    ]


def offenders(names) -> list[str]:
    return [hit for p in SOURCES for hit in banned_calls(p.read_text(), p, names)]


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


def test_scanner_flags_flagship_stage_copies():
    src = (
        "def stages(spark, t):\n"
        "    df = parse_ops.parse_transcripts(t)\n"
        "    return lookup_enrich(df, role_dim(spark), on='role')\n"
    )
    assert banned_calls(src, PKG / "plans" / "runner.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:2 parse_transcripts()",
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:3 role_dim()",
    ]
    assert banned_calls(src, PKG / "plans" / "pipeline.py") == []
    # the flagship file gets no pass for Python-row frames
    assert banned_calls("def f(spark):\n    spark.createDataFrame([])\n", PKG / "plans" / "pipeline.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/pipeline.py:2 createDataFrame()",
    ]


def test_scanner_flags_threads_outside_sinks():
    src = (
        "from concurrent.futures import ThreadPoolExecutor\n"
        "import threading\n"
        "def f(jobs, run):\n"
        "    '''threading.Thread in a docstring is fine'''\n"
        "    with ThreadPoolExecutor(4) as pool:\n"
        "        pool.map(run, jobs)\n"
        "    threading.Thread(target=run).start()\n"
        "class Worker(pyspark.InheritableThread):\n"
        "    pass\n"
    )
    assert banned_calls(src, PKG / "plans" / "runner.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:1 ThreadPoolExecutor",
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:5 ThreadPoolExecutor",
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:7 Thread",
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/runner.py:8 InheritableThread",
    ]
    assert banned_calls(src, PKG / "sources" / "sinks.py") == []


def test_scanner_flags_caches_outside_write_sinks():
    src = (
        "def f(df):\n"
        "    '''df.persist() in a docstring is fine'''\n"
        "    shared = df.persist()\n"
        "    shared.unpersist()\n"
        "    return df.cache()\n"
        "def write_sinks(routed):\n"
        "    routed.persist()\n"
    )
    assert banned_calls(src, PKG / "functions" / "dedupe.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/functions/dedupe.py:3 persist()",
        "open_telemetry_opentelemetry_collector_contrib_spark/functions/dedupe.py:4 unpersist()",
        "open_telemetry_opentelemetry_collector_contrib_spark/functions/dedupe.py:5 cache()",
        "open_telemetry_opentelemetry_collector_contrib_spark/functions/dedupe.py:7 persist()",
    ]
    # in sinks.py only write_sinks may cache
    assert banned_calls(src, PKG / "sources" / "sinks.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/sources/sinks.py:3 persist()",
        "open_telemetry_opentelemetry_collector_contrib_spark/sources/sinks.py:4 unpersist()",
        "open_telemetry_opentelemetry_collector_contrib_spark/sources/sinks.py:5 cache()",
    ]


def test_scanner_flags_scan_widening_outside_spread_scan():
    src = (
        "def q(spark, docs):\n"
        "    '''docs.rdd.getNumPartitions() in a docstring is fine'''\n"
        "    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:\n"
        "        docs = docs.repartition(8)\n"
        "    return docs\n"
        "def spread_scan(df):\n"
        "    return df.rdd.getNumPartitions()\n"
    )
    assert banned_calls(src, PKG / "plans" / "training_catalog.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/training_catalog.py:3 getNumPartitions()",
        "open_telemetry_opentelemetry_collector_contrib_spark/plans/training_catalog.py:7 getNumPartitions()",
    ]
    # in tables.py only spread_scan may ask
    assert banned_calls(src, PKG / "sources" / "tables.py") == [
        "open_telemetry_opentelemetry_collector_contrib_spark/sources/tables.py:3 getNumPartitions()",
    ]


def test_scanner_flags_statements_and_go_groups_outside_ottl():
    src = (
        "import re\n"
        "def parse(df, op, ctx, pattern):\n"
        "    r'''rx.groupindex and \\(\\?P< in a docstring are fine'''\n"
        "    rx = re.compile(pattern.replace('(?<', '(?P<'))\n"
        "    plain = re.sub(r'\\(\\?P<[^>]+>', '(', pattern)\n"
        "    return fnlib.call_editor(df, op, ctx, None), rx.groupindex\n"
        "def go_regex(pattern):\n"
        "    return re.compile(r'\\(\\?P?<([^>]+)>').match(pattern).re.groupindex\n"
    )
    config = "open_telemetry_opentelemetry_collector_contrib_spark/plans/config.py"
    assert banned_calls(src, PKG / "plans" / "config.py") == [
        f"{config}:4 group-syntax",
        f"{config}:5 group-syntax",
        f"{config}:6 call_editor()",
        f"{config}:6 groupindex",
        f"{config}:8 groupindex",
        f"{config}:8 group-syntax",
    ]
    # any ottl/ file may apply a statement; only go_regex reads group names
    functions = "open_telemetry_opentelemetry_collector_contrib_spark/ottl/functions.py"
    assert banned_calls(src, PKG / "ottl" / "functions.py") == [
        f"{functions}:4 group-syntax",
        f"{functions}:5 group-syntax",
        f"{functions}:6 groupindex",
    ]


def test_no_python_row_frames_outside_local_frame():
    assert len(SOURCES) > 50  # the package was found
    hits = offenders(ROW_FRAME_CALLS)
    assert hits == [], "use sources.tables.local_frame instead: " + ", ".join(hits)


def test_flagship_stages_defined_once():
    hits = offenders(FLAGSHIP_CALLS)
    assert hits == [], "compose the stages with pipeline.route_transcripts: " + ", ".join(hits)


def test_spark_threads_only_in_sinks():
    hits = offenders(THREADS)
    assert hits == [], "run concurrent Spark writes through sinks.write_sinks: " + ", ".join(hits)


def test_caches_only_in_write_sinks():
    hits = offenders(CACHE_CALLS)
    assert hits == [], "share a subtree with sources.tables.materialize: " + ", ".join(hits)


def test_scans_widened_only_in_spread_scan():
    hits = offenders({"getNumPartitions"})
    assert hits == [], "widen a scan with sources.tables.spread_scan: " + ", ".join(hits)


def test_statements_compiled_only_in_ottl():
    hits = offenders({"call_editor"})
    assert hits == [], "apply a statement with ottl.apply_statement: " + ", ".join(hits)


def test_go_groups_read_only_in_go_regex():
    hits = offenders(GO_GROUPS)
    assert hits == [], "translate a Go regex with ottl.functions.go_regex: " + ", ".join(hits)
