"""Driver-contract guards.

Round 1 lost two queries to the driver's result canonicalizer crashing
on array-typed columns. These tests enforce the contract statically:
every ``queries()`` entry must produce a FLAT schema (no array/struct/
map reaches the driver), every oracle must be syntactically valid
DuckDB SQL (EXPLAIN — no execution), and oracle keys must be a subset
of query keys. bench.py must time the registry's own build fns, not
private copies of them."""

import ast
import glob
import os
import sys

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as E
    return E


def test_all_query_schemas_are_flat(spark, entrymod):
    bad = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)          # plan only; nothing executes
        nested = [f.name for f in df.schema.fields
                  if isinstance(f.dataType, (ArrayType, StructType,
                                             MapType))]
        if nested:
            bad[name] = nested
    assert not bad, bad


def test_queries_read_exactly_sf_tables(spark, entrymod, monkeypatch):
    """SF_TABLES is the one list of sf-dir tables: every table a query
    plan reads through _read is in it, and every table in it is read,
    so the list neither misses a table nor names a dead one."""
    read = set()
    real = entrymod._read

    def recording(spark, sf_dir, table):
        read.add(table)
        return real(spark, sf_dir, table)

    monkeypatch.setattr(entrymod, "_read", recording)
    for fn in entrymod.queries().values():
        fn(spark, SF_DIR)               # plan only; nothing executes
    assert read == set(entrymod.SF_TABLES)


def test_oracle_keys_subset_of_queries(entrymod):
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs, os_ - qs
    # since round 3 every query carries an oracle (cross-execution
    # twins cover the seeded sketch ops) — keep it that way
    assert qs - os_ == set(), qs - os_


def test_all_oracles_are_valid_duckdb(entrymod):
    con = duckdb.connect()
    for t in entrymod.SF_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(SF_DIR, t + ".parquet")))
    errors = {}
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as exc:
            errors[name] = repr(exc)[:200]
    assert not errors, errors


def test_entry_schema_stable(spark, entrymod):
    df = entrymod.entry(spark)
    assert sorted(f.name for f in df.schema.fields) == \
        ["context", "datatype", "lang", "object", "objtype",
         "predicate", "source_url", "subject"]


BENCH_ONLY = {"kg_extract", "kg_extract_materialized", "kg_full_pipeline",
              "kg_materialize", "kg_xhtml"}


def test_registry_names_unique(entrymod):
    names = [q.name for q in entrymod.registry()]
    assert len(names) == len(set(names))
    assert list(entrymod.queries()) == names


def test_bench_times_registry_build_fns(entrymod):
    import bench
    entries = bench.bench_entries("/nonexistent", [])  # nothing runs
    reg = {q.name: q for q in entrymod.registry()}
    flagged = {name for name, q in reg.items() if q.bench}
    assert set(entries) == flagged | BENCH_ONLY
    assert not BENCH_ONLY & set(reg)
    copies = sorted(name for name in flagged
                    if entries[name] is not reg[name].build)
    assert not copies, copies


# elements.py is the golden serializer test_fsm_corpus compares fsm.py's
# reference-corpus output through; fsm.py is on the production path
# (rfcdoc), so its test harness stays although no entry point imports it.
TEST_ONLY_MODULES = {"ferenda_spark.elements"}


def _imports(path: str, package: str) -> set[str]:
    """Dotted names a file imports, relative imports resolved against
    ``package``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[:len(parts) - node.level + 1]
                base = ".".join(parts + [base] if base else parts)
            out.add(base)
            out.update(base + "." + a.name for a in node.names)
    return out


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_modules() -> dict[str, str]:
    """Dotted name → path of every ferenda_spark module."""
    modules = {}
    for path in glob.glob(os.path.join(ROOT, "ferenda_spark", "**", "*.py"),
                          recursive=True):
        name = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
        modules[name.removesuffix(".__init__")] = path
    return modules


def test_every_module_is_reachable():
    """Every ferenda_spark module is in the import closure of an entry
    point: scripts/, the driver contract, bench.py or kgbench/. A
    package counts as reached when any of its submodules is. A module
    that only tests import is dead code. Every TEST_ONLY_MODULES entry
    must still exist and still be unreached, so the list cannot go
    stale."""
    root = ROOT
    modules = _package_modules()
    entry_points = [os.path.join(root, "__spark_entry__.py"),
                    os.path.join(root, "bench.py"),
                    *glob.glob(os.path.join(root, "scripts", "*.py")),
                    *glob.glob(os.path.join(root, "kgbench", "*.py"))]
    todo = [m for p in entry_points for m in _imports(p, "")]
    reached = set()
    while todo:
        parts = todo.pop().split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in modules and name not in reached:
                reached.add(name)
                path = modules[name]
                package = (name if path.endswith("__init__.py")
                           else name.rpartition(".")[0])
                todo += _imports(path, package)
    unreached = set(modules) - reached - TEST_ONLY_MODULES
    assert not unreached, sorted(unreached)
    assert TEST_ONLY_MODULES <= set(modules), \
        sorted(TEST_ONLY_MODULES - set(modules))
    assert not TEST_ONLY_MODULES & reached, \
        sorted(TEST_ONLY_MODULES & reached)


GATE_MODULE = "ferenda_spark.operators.util"
# shares the gate's value but picks between two distributed closure
# plans (all-pairs vs seeded BFS); nothing is collected to the driver
OTHER_CUTOFFS = {"ferenda_spark.sparql.PATH_DRIVER_THRESHOLD"}


def test_one_driver_gate():
    """The hybrid graph operators decide driver-or-distributed in one
    place, operators/util.driver_edges. No other module computes a
    threshold plus one (the limit of a count-then-collect gate) or
    defines a driver cutoff constant, and every ``driver_threshold``
    parameter defaults to the gate's ``DRIVER_THRESHOLD``."""
    bad = []
    for name, path in sorted(_package_modules().items()):
        if name == GATE_MODULE:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            where = "%s:%d" % (name, getattr(node, "lineno", 0))
            if isinstance(node, ast.BinOp) and \
                    isinstance(node.op, ast.Add):
                sides = [node.left, node.right]
                if any(isinstance(x, ast.Constant) and x.value == 1
                       for x in sides) and \
                        any(isinstance(x, (ast.Name, ast.Attribute)) and
                            "threshold" in ast.unparse(x).lower()
                            for x in sides):
                    bad.append((where, ast.unparse(node)))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    if isinstance(t, ast.Name) and "DRIVER" in t.id and \
                            "THRESHOLD" in t.id and \
                            name + "." + t.id not in OTHER_CUTOFFS:
                        bad.append((where, t.id))
            elif isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                args = a.posonlyargs + a.args
                pairs = (list(zip(args[len(args) - len(a.defaults):],
                                  a.defaults)) +
                         list(zip(a.kwonlyargs, a.kw_defaults)))
                for arg, default in pairs:
                    if arg.arg == "driver_threshold" and (
                            default is None or
                            ast.unparse(default) != "DRIVER_THRESHOLD"):
                        bad.append((where, arg.arg))
    assert not bad, bad
