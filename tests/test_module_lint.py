"""Static lint over the plan modules: no module-level CONSTANT may be
assigned twice. A rebinding silently changes every call-time reader
ABOVE it while registered oracle SQL keeps the value frozen at
definition time — exactly how q_vocab's .limit() drifted to a later
module's VOCAB_TOP=1000 against its oracle's frozen 200 (caught by the
sf1 strict sweep; fixed by renaming to COVERAGE_VOCAB_TOP)."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_module_level_constant_rebinding():
    offenders = []
    for path in glob.glob(os.path.join(REPO, "etl_neptune_spark", "**", "*.py"),
                          recursive=True):
        tree = ast.parse(open(path).read())
        seen: set[str] = set()
        for node in tree.body:  # module level only
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                targets = [node.target]
            for t in targets:
                name = t.id
                if not name.isupper() or name.startswith("_"):
                    continue
                if name in seen:
                    offenders.append(f"{os.path.relpath(path, REPO)}: {name}")
                seen.add(name)
    assert not offenders, f"module-level constants rebound: {offenders}"


def test_driver_collect_sites_carry_stated_bounds():
    """VERDICT r8 task 7: every `.collect()` / `.toPandas()` inside the
    package must sit next to an explicit `# bounded:` marker stating why
    the driver transfer is bounded by construction (cap guard, limit,
    dimension-sized table, single-row agg, ...). All 20 current sites
    are cap-guarded by inspection; this lint stops a future round from
    landing an unguarded row-scale collect unnoticed."""
    offenders = []
    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        src = open(path).read()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                continue
            # The attribute's line is where `.collect()` appears in a
            # multi-line chain; accept a marker there or on the line
            # directly above (for call-lines too long to annotate).
            ln = node.func.end_lineno or node.func.lineno
            window = lines[max(0, ln - 2) : ln]
            if not any("# bounded:" in w for w in window):
                offenders.append(
                    f"{os.path.relpath(path, REPO)}:{ln} .{node.func.attr}()"
                )
    assert not offenders, (
        "driver collect without a stated `# bounded:` marker — state the "
        f"bound or distribute the step: {offenders}"
    )


# The only pandas crossings the package keeps: each certifies the
# pandas API itself (SCALE.md §Python boundary policy). Every other
# Python kernel crosses as Arrow (``etl_neptune_spark.boundary``).
PANDAS_CROSSINGS_ALLOWED = {
    ("etl_neptune_spark/streaming/stateful.py", "applyInPandasWithState"): 1,
    ("etl_neptune_spark/plans/relational.py", "pandas_udf"): 2,
}


def test_python_boundary_is_arrow():
    """Scan the package for ``mapInPandas`` / ``applyInPandas`` (and
    its ``WithState`` form) / ``pandas_udf`` uses, as calls, decorators
    or attribute reads: only the two certified sites above may remain."""
    names = ("mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf")
    found: dict[tuple[str, str], int] = {}
    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            else:
                continue
            if name in names:
                found[(rel, name)] = found.get((rel, name), 0) + 1
    assert found == PANDAS_CROSSINGS_ALLOWED


def test_sign_bucket_sql_only_in_oracle_sql():
    """Every engine sign bucket is the numpy fold (``_sign_bits``
    through ``with_sign_bucket`` or the split replay); the SQL string
    ``sign_bucket_expr`` builds is the DuckDB oracle's form. So every
    ``sign_bucket_expr(...)`` call in the package must sit inside the
    arguments of a ``register(...)`` call, where it writes oracle SQL."""
    offenders = []
    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        tree = ast.parse(open(path).read())
        in_register = {
            id(inner)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
            for arg in [*node.args, *(kw.value for kw in node.keywords)]
            for inner in ast.walk(arg)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "sign_bucket_expr"
                and id(node) not in in_register
            ):
                offenders.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert not offenders, (
        "sign_bucket_expr evaluated outside registered oracle SQL — compute "
        f"engine buckets with with_sign_bucket: {offenders}"
    )


# Every availableNow drain waits through streaming.pipeline.await_stream,
# which bounds the wait and stops a query still running at its end. The
# one other wait is q_stream_restart's, which expects its first query to
# crash and handles that outcome itself.
AWAIT_TERMINATION_ALLOWED = {
    ("etl_neptune_spark/streaming/pipeline.py", "await_stream"): 1,
    ("etl_neptune_spark/plans/streaming.py", "q_stream_restart"): 1,
}


def test_stream_waits_are_bounded():
    """Count the ``awaitTermination`` uses in the package per top-level
    definition: only the two waits above may remain."""
    found: dict[tuple[str, str], int] = {}
    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        rel = os.path.relpath(path, REPO)
        for top in ast.parse(open(path).read()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "awaitTermination":
                    found[(rel, owner)] = found.get((rel, owner), 0) + 1
    assert found == AWAIT_TERMINATION_ALLOWED


def test_modules_compile_without_warnings():
    """Compile every package module with SyntaxWarning and
    DeprecationWarning raised as errors: an invalid escape such as
    ``'\\?'`` in a non-raw string is a warning today and an error in a
    later Python."""
    import warnings

    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        with open(path) as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            compile(src, os.path.relpath(path, REPO), "exec")


# Every persist and checkpoint goes through etl_neptune_spark.materialize
# (``cut`` / ``held``), which owns the storage level and the release.
MATERIALIZE_METHODS = ("persist", "unpersist", "localCheckpoint", "checkpoint", "cache")


def test_materialization_only_in_the_helper():
    """Scan the package for the materialization methods (as attributes)
    and ``StorageLevel`` (as a name or an import): only
    ``etl_neptune_spark/materialize.py`` may use them."""
    offenders = []
    for path in glob.glob(
        os.path.join(REPO, "etl_neptune_spark", "**", "*.py"), recursive=True
    ):
        rel = os.path.relpath(path, REPO)
        if rel == "etl_neptune_spark/materialize.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in MATERIALIZE_METHODS:
                offenders.append(f"{rel}:{node.lineno} .{node.attr}")
            elif isinstance(node, ast.Name) and node.id == "StorageLevel":
                offenders.append(f"{rel}:{node.lineno} StorageLevel")
            elif isinstance(node, ast.ImportFrom) and any(
                a.name == "StorageLevel" for a in node.names
            ):
                offenders.append(f"{rel}:{node.lineno} import StorageLevel")
    assert not offenders, (
        "materialization outside etl_neptune_spark/materialize.py — use "
        f"cut or held: {offenders}"
    )
