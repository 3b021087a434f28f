"""Layer tagging for traced runs: wrap public functions of the program's
layer modules, tag the Spark jobs they trigger and record spans.

Nothing in the program changes. While a :class:`Tracer` is installed,
each listed function is replaced by a wrapper in its own module and in
every loaded ``ferenda_spark`` module that imported it by name
(``run_pipeline.main()`` imports its layers when called, so it sees the
wrappers). A wrapper sets ``setJobDescription("<op>|<layer.func>")`` on
entry (a nested call's tag is the path ``outer>inner``), so a job belongs to the most recently entered layer call: lazy
layers (a DataFrame returned unevaluated) are charged for the jobs of the
pipeline's next action. On exit from a nested call the enclosing call's
tag is restored.
"""

from __future__ import annotations

import functools
import sys
import time

# (module, layer name, public functions wrapped)
LAYERS = [
    ("ferenda_spark.operators.extract", "extract",
     ("extract_stage", "documents_table", "resources_table", "triples_table")),
    ("ferenda_spark.operators.lineage", "lineage",
     ("needed", "entries_from_extracted", "stage_counters")),
    # lake writes go through lineage.merge_triples → TableFormat.merge
    ("ferenda_spark.operators.lineage", "lake", ("merge_triples",)),
    ("ferenda_spark.operators.relate", "relate",
     ("canonicalize_triples", "entities_table", "deps_table")),
    ("ferenda_spark.graph.components", "components",
     ("canonical_mapping", "connected_components")),
    ("ferenda_spark.sparql", "sparql", ("compile_spark",)),
    ("ferenda_spark.operators.inference", "inference", ("rdfs_materialize",)),
    ("ferenda_spark.operators.graphops", "graphops",
     ("citation_edges", "pagerank", "void_stats")),
    ("ferenda_spark.operators.fulltext", "fulltext", ("fulltext_search",)),
]


class Tracer:
    """Installs the wrappers; keeps spans in memory."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.op = "setup"
        self.spans: list[tuple[str, str, float, float]] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    def _describe(self, tag: str) -> None:
        self.sc.setJobDescription("%s|%s" % (self.op, tag))

    def begin_op(self, op: str) -> None:
        self.op = op
        self._describe("op")

    def end_op(self) -> None:
        self.op = "idle"
        self._describe("idle")

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # a nested call's tag is its path: relate.x>components.y
            tag = "%s>%s" % (self._stack[-1], name) if self._stack else name
            self._stack.append(tag)
            self._describe(tag)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((self.op, tag, start, time.perf_counter()))
                self._stack.pop()
                if self._stack:
                    self._describe(self._stack[-1])
        return traced

    def install(self) -> None:
        import importlib
        for module, layer, funcs in LAYERS:
            mod = importlib.import_module(module)
            for name in funcs:
                orig = getattr(mod, name)
                wrapped = self._wrap("%s.%s" % (layer, name), orig)
                holders = [m for m in list(sys.modules.values())
                           if getattr(m, "__name__", "").startswith(
                               "ferenda_spark")]
                for holder in holders:
                    for attr, value in list(vars(holder).items()):
                        if value is orig:
                            setattr(holder, attr, wrapped)
                            self._patched.append((holder, attr, orig))

    def uninstall(self) -> None:
        for holder, attr, orig in reversed(self._patched):
            setattr(holder, attr, orig)
        self._patched.clear()

    def span_ms(self, op: str, tag: str) -> float:
        """Wall time of the top-level calls of ``tag`` within ``op`` and
        its sub-ops."""
        return sum((e - s) * 1000.0 for o, t, s, e in self.spans
                   if (o == op or o.startswith(op + "/")) and t == tag)
