"""Registry-wide output-shape contract.

The driver harness canonicalizes every query's result through a pandas
sort/hash; pandas cannot factorize list/dict cells, so any registered
query that returns a top-level ArrayType/MapType/StructType column gets
an ERR row no matter how correct its values are (round-2's
``embedding_quantize_int8`` red row). This test makes that a local
failure: every registered query's schema must be scalar at the top
level — flatten with posexplode / concat_ws / to_json before returning.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from tda596_lab02mapreduce_spark.registry import registry

_QUERIES = list(registry().values())


@pytest.mark.parametrize("query", _QUERIES, ids=[q.name for q in _QUERIES])
def test_no_nested_top_level_columns(spark, sf_smoke, query):
    df = query.spark_fn(spark, sf_smoke)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{query.name} returns nested top-level column(s) {bad}: the driver "
        "canonicalizer cannot hash them — flatten (posexplode / concat_ws / "
        "to_json) before returning"
    )


def test_readme_inventory_counts_match_registry():
    """The README's headline inventory counts are part of the evidence
    ledger — they must equal the live registry (the review caught them
    10 queries stale; this pins them forever)."""
    import os
    import re

    from tda596_lab02mapreduce_spark.registry import registry

    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    ).read()
    m = re.search(
        r"## Query inventory \((\d+) named queries, (\d+) DuckDB-oracle-checked\)",
        readme,
    )
    assert m, "README inventory header missing"
    r = registry()
    assert int(m.group(1)) == len(r), (m.group(1), len(r))
    assert int(m.group(2)) == sum(1 for q in r.values() if q.oracle is not None)


def test_bench_isolated_subset_of_headline():
    """bench.py's process-isolated group must stay a subset of
    HEADLINE (a name drifting out of HEADLINE would silently vanish
    from the artifact instead of failing)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench.py",
        ),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert set(bench.ISOLATED) <= set(bench.HEADLINE)
    # the 19-query round-1 anchor subset must be entirely main-session
    # (isolation must never move the gate metric)
    assert not set(bench.ISOLATED) & set(bench.HEADLINE[: bench.R1_ANCHOR_N])
    # the worker's outlier re-run rule needs a solo band for EVERY
    # isolated query (a missing entry silently disables the rule)
    assert set(bench.SOLO_BAND_SEC) == set(bench.ISOLATED)
    # the main-session watchlist must stay main-session and headline
    assert set(bench.MAIN_BAND_SEC).isdisjoint(bench.ISOLATED)
    assert set(bench.MAIN_BAND_SEC) <= set(bench.HEADLINE)


def test_every_default_parameter_is_set_by_some_caller():
    """A defaulted parameter that no call site passes has one value in
    use, so it belongs in a constant. Calls match by function name; a
    call with ``*args`` or ``**kwargs`` counts as setting everything."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "tda596_lab02mapreduce_spark"
    files = [root / "bench.py"] + [
        p for d in (pkg, root / "tests", root / "tools", root / "perfbench")
        for p in d.rglob("*.py")
    ]
    trees = {p: ast.parse(p.read_text()) for p in files}
    npos, kws, star = {}, {}, set()
    for node in (n for t in trees.values() for n in ast.walk(t)):
        if isinstance(node, ast.Call):
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                star.add(name)
            npos[name] = max(npos.get(name, 0), len(node.args))
            kws.setdefault(name, set()).update(k.arg for k in node.keywords)
    unset = []
    for path in (p for p in files if pkg in p.parents):
        for fn in ast.walk(trees[path]):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a, name = fn.args, fn.name
            pos = a.posonlyargs + a.args
            skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
            first = len(pos) - len(a.defaults)
            defaulted = [(p.arg, i) for i, p in enumerate(pos) if i >= first] + [
                (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            ]
            for arg, i in defaulted:
                if name in star or arg in kws.get(name, ()):
                    continue
                if i is None or npos.get(name, 0) <= i - skip:
                    unset.append(f"{path.relative_to(root)}::{name}({arg})")
    assert not unset, f"{len(unset)} defaulted parameters no caller sets: {unset}"
