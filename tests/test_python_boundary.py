"""The engine has one Python boundary.

Every Python validator, document validator and opaque autoValue runs in an
Arrow UDF from ``compiler/validators.arrow_udf`` and reads its row through
``compiler/validators.FieldContext``.  A second UDF factory or a second
per-row context class is where the modes drifted apart before (a modifier
autoValue read ``field("meta.lang")`` as None while a modifier validator
read it), so these checks scan the engine modules' syntax trees for them.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "simpl_schema_spark"
ENGINE = [
    PKG / name
    for name in ("validation.py", "cleaning.py", "pipeline.py", "modifiers.py", "jsondoc.py")
] + sorted((PKG / "compiler").glob("*.py"))

FACTORY = ("compiler/validators.py", "arrow_udf")


def _trees():
    for path in ENGINE:
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(), str(path))


def _functions_referencing(tree, name):
    """Names of the innermost functions (or '<module>') that reference
    ``name`` as a name, an attribute or an import."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        hit = (
            (isinstance(node, ast.Name) and node.id == name)
            or (isinstance(node, ast.Attribute) and node.attr == name)
            or (isinstance(node, (ast.Import, ast.ImportFrom))
                and any(a.name == name or a.name.endswith("." + name) for a in node.names))
        )
        if hit:
            found.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def _is_row_context(cls: ast.ClassDef) -> bool:
    """A per-row Python context: it resolves ``sibling_field`` and holds
    ``is_set``.  (The compile-time contexts of ``@spark_rule`` and
    ``@spark_auto_value`` functions resolve fields to Columns and have no
    ``is_set``.)"""
    methods = {n.name for n in cls.body if isinstance(n, ast.FunctionDef)}
    mentions = {n.attr for n in ast.walk(cls) if isinstance(n, ast.Attribute)}
    mentions |= {n.name for n in ast.walk(cls) if isinstance(n, ast.FunctionDef)}
    mentions |= {n.value for n in ast.walk(cls) if isinstance(n, ast.Constant)}
    return "sibling_field" in methods and "is_set" in mentions


def test_engine_modules_exist():
    assert all(p.exists() for p in ENGINE)
    assert (PKG / FACTORY[0]).exists()


def test_pandas_udf_only_in_the_factory():
    sites = [
        (module, func)
        for module, tree in _trees()
        for func in _functions_referencing(tree, "pandas_udf")
    ]
    assert sites == [FACTORY]


def test_one_row_context_class():
    classes = [
        (module, node.name)
        for module, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.ClassDef) and _is_row_context(node)
    ]
    assert classes == [("compiler/validators.py", "FieldContext")]


def test_modifiers_do_not_tell_default_values_apart():
    # a defaultValue runs in modifier mode as the autoValue its definition
    # synthesizes, so modifiers.py never reads the marks on that function
    tree = ast.parse((PKG / "modifiers.py").read_text())
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    read |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    read |= {n.value for n in ast.walk(tree) if isinstance(n, ast.Constant)}
    assert not read & {"is_default", "default_value"}
