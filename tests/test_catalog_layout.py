"""The catalog's layout: one ordered entry table whose names and oracles
follow from the functions themselves, plan modules named by family, and
an import graph in which no module reaches into another's private names.
No Spark session is needed."""

from __future__ import annotations

import ast
import pathlib
import sys

from good_enough_timecamp_data_pipeline_spark.plans import catalog

PKG = pathlib.Path(catalog.__file__).resolve().parents[1]
PKG_NAME = PKG.name


def test_entry_names_and_oracles_follow_from_the_functions():
    assert list(catalog.QUERIES) == [fn.__name__ for fn in catalog.ENTRIES]
    assert len(catalog.QUERIES) == len(catalog.ENTRIES)
    for fn in catalog.ENTRIES:
        module = sys.modules[fn.__module__]
        assert getattr(module, fn.__name__) is fn, fn.__name__
        sql = getattr(module, fn.__name__.upper() + "_SQL", None)
        assert catalog.ORACLES.get(fn.__name__) == sql, fn.__name__
    assert catalog.oracle_sql() == catalog.ORACLES


def test_the_driver_window_is_all_oracle_twins():
    first = list(catalog.queries())[:50]
    assert len(first) == 50
    assert [n for n in first if n not in catalog.ORACLES] == []


def test_tuning_and_warmup_lists_name_registered_entries():
    names = set(catalog.QUERIES)
    for listed in (
        catalog.QUERY_CONF,
        catalog.WARMUP_QUERIES,
        catalog.SHAPE_WARMUP,
        catalog.SHAPE_WARMUP_VARIANTS,
    ):
        assert set(listed) <= names, set(listed) - names


def test_no_plan_module_is_named_after_a_round():
    plans = sorted(p.stem for p in (PKG / "plans").glob("*.py"))
    assert [p for p in plans if p.startswith("round")] == []
    assert len([p for p in plans if p != "__init__"]) <= 13


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(PKG.parent).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve(importer: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute module name an ``ImportFrom`` reads from."""
    if node.level == 0:
        return node.module or ""
    base = importer.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _imports(path: pathlib.Path):
    """(imported module, imported name or None) for every import in the
    file, nested ones included."""
    importer = _module_name(path)
    is_pkg = path.name == "__init__.py"
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, None
        elif isinstance(node, ast.ImportFrom):
            source = _resolve(importer, is_pkg, node)
            for alias in node.names:
                submodule = f"{source}.{alias.name}"
                if (PKG.parent / (submodule.replace(".", "/") + ".py")).exists():
                    yield submodule, None
                else:
                    yield source, alias.name


def _package_files():
    return sorted(PKG.rglob("*.py"))


def test_no_module_imports_another_modules_private_name():
    leaks = [
        f"{_module_name(path)} imports {source}.{name}"
        for path in _package_files()
        for source, name in _imports(path)
        if name is not None
        and name.startswith("_")
        and source.startswith(PKG_NAME)
        and source != _module_name(path)
    ]
    assert leaks == []


def test_product_code_imports_no_catalog_entry_module():
    entry_modules = {fn.__module__ for fn in catalog.ENTRIES}
    # the streaming module that defines s_stream_ewma is itself a
    # streaming module; what must not happen is streaming reaching into
    # the plan modules that hold entries
    entry_modules -= {m for m in entry_modules if ".streaming." in m}
    product = [PKG / "curate.py", *sorted((PKG / "streaming").glob("*.py"))]
    reached = [
        f"{_module_name(path)} imports {source}"
        for path in product
        for source, _ in _imports(path)
        if source in entry_modules
    ]
    assert reached == []
