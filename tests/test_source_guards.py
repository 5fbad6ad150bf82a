"""Source-level guards over the package, run without Spark."""

import ast
import os
import subprocess
import sys

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "financedatabase_spark")


def _is_broad(handler_type) -> bool:
    if handler_type is None:
        return True  # bare except
    names = handler_type.elts if isinstance(handler_type, ast.Tuple) else [handler_type]
    return any(
        isinstance(n, ast.Name) and n.id in ("Exception", "BaseException") for n in names
    )


def test_no_silently_swallowed_broad_exceptions():
    """No handler for Exception, BaseException or a bare except may have
    a body of only `pass`: a failure on a hot path must surface, be
    logged, or be caught by its specific type."""
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.ExceptHandler)
                    and _is_broad(node.type)
                    and all(isinstance(st, ast.Pass) for st in node.body)
                ):
                    found.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not found, f"silently swallowed broad exceptions at {found}"


def test_barrier_is_the_only_materialization():
    """`session.barrier` is the package's one materialization primitive:
    no `.cache()`, `.persist(...)`, `.localCheckpoint(...)` or
    `.checkpoint(...)` call appears outside `session.py`."""
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("cache", "persist", "localCheckpoint", "checkpoint")
                ):
                    found.append(f"{os.path.relpath(path, PKG)}:{node.lineno} .{node.func.attr}")
    assert not found, f"materialization outside session.barrier at {found}"


def test_registry_order_independent_of_import_order():
    """QUERIES and ORACLE_SQL come out in one order whether a query
    module or the registry is imported first."""
    probe = (
        "{first}\n"
        "from financedatabase_spark.plans.registry import ORACLE_SQL, QUERIES\n"
        "print(len(QUERIES), list(QUERIES), list(ORACLE_SQL))\n"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", probe.format(first=first)],
            cwd=os.path.dirname(PKG), capture_output=True, text=True, check=True,
        ).stdout
        for first in (
            "import financedatabase_spark.plans.queries_documents",
            "import financedatabase_spark.plans.queries_streaming",
            "import financedatabase_spark.plans.registry",
        )
    ]
    assert outs[0] == outs[1] == outs[2]
    assert int(outs[0].split()[0]) >= 165


def test_idct_runs_from_one_place():
    """Every DCT scan decodes into one coefficient store and one pass at
    EOI runs the IDCT, so `_idct_block` has exactly one call site in the
    package, in `operators/jpeg.py`."""
    sites = []

    def visit(node, path, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, path, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "_idct_block":
                    sites.append((path, func, child.lineno))
            visit(child, path, func)

    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    visit(ast.parse(fh.read(), path), os.path.relpath(path, PKG), None)
    assert len(sites) == 1 and sites[0][0] == os.path.join("operators", "jpeg.py"), sites


def test_jpeg_encoder_restarts_from_one_place():
    """The JPEG fixture encoder runs every scan's restart intervals
    through one loop, `jpeg._scan`, over a Huffman or an arithmetic
    coder: the package builds an RSTn marker (`bytes([0xFF, 0xD0 + n])`)
    at exactly one site, and `operators/jpeg.py` defines no `*_arith`
    twin of an encoder step (the `synth_*` fixtures name the coding
    they produce)."""
    sites = []
    arith_defs = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "bytes"
                    and len(node.args) == 1
                    and isinstance(node.args[0], (ast.List, ast.Tuple))
                    and len(node.args[0].elts) == 2
                ):
                    first, second = node.args[0].elts
                    if (
                        isinstance(first, ast.Constant) and first.value == 0xFF
                        and isinstance(second, ast.BinOp)
                        and isinstance(second.op, ast.Add)
                        and isinstance(second.left, ast.Constant)
                        and second.left.value == 0xD0
                    ):
                        sites.append(f"{rel}:{node.lineno}")
                if (
                    rel == os.path.join("operators", "jpeg.py")
                    and isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and node.name.endswith("_arith")
                    and not node.name.startswith("synth_")
                ):
                    arith_defs.append(f"{rel}:{node.lineno} {node.name}")
    assert len(sites) == 1, sites
    assert not arith_defs, arith_defs


def test_session_conf_written_only_in_scoped_flips():
    """`spark.conf.set` runs only in the three scoped flips that still
    write the shared session conf while a query builds: the AQE flip of
    `session.barrier`, and the shuffle-partition flips of
    `queries_streaming._run` and `curation.run_admission_with_refresh`.
    Besides them, `session.ensure_source_confs` alone writes the source
    settings (TIMESTAMP(NANOS) as long, Python-source filter pushdown),
    and only on a session that lacks them: they are constants of
    `get_spark`, so on its sessions registering a source or scanning a
    table leaves the conf as it found it."""
    allowed = {
        ("session.py", "barrier"),
        ("session.py", "ensure_source_confs"),
        (os.path.join("plans", "queries_streaming.py"), "_run"),
        (os.path.join("streaming", "curation.py"), "run_admission_with_refresh"),
    }
    found = set()

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "set"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                found.add((rel, func))
            visit(child, rel, func)

    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    visit(ast.parse(fh.read(), path), os.path.relpath(path, PKG), None)
    assert found == allowed, found ^ allowed


def test_smoothing_has_one_epoch_walk_and_one_tick_rule():
    """`operators/smoothing.py` runs every chunked recursion through one
    epoch loop (a `for` over the chunk epochs), builds the tick rule at
    one top-level definition (the only place that compares a price with
    the last price ``acc.pp`` or takes a ``sign``/``signum`` or ``lag``
    of it), and no `tick_*` operator reaches a ``Window`` through the
    module's own helpers: whole-series and chunked bars fold one step."""
    import re

    path = os.path.join(PKG, "operators", "smoothing.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)

    def names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr

    loops = [
        n.lineno for n in ast.walk(tree) if isinstance(n, ast.For) and "epochs" in set(names(n.iter))
    ]
    assert len(loops) == 1, f"epoch loops at lines {loops}"

    tick_re = re.compile(r"\bacc\.pp\b|\bsign\(")
    defs = {
        getattr(n, "name", None) or ast.unparse(n.targets[0]): n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.Assign))
    }
    rule_sites = sorted(
        name for name, node in defs.items()
        if any(
            isinstance(n, ast.Constant) and isinstance(n.value, str) and tick_re.search(n.value)
            for n in ast.walk(node)
        )
        or {"signum", "lag"} & set(names(node))
    )
    assert len(rule_sites) == 1, f"tick-rule expressions in {rule_sites}"

    funcs = {name: node for name, node in defs.items() if isinstance(node, ast.FunctionDef)}
    for op in (name for name in funcs if name.startswith("tick_")):
        seen, todo = set(), [op]
        while todo:
            name = todo.pop()
            if name in seen:
                continue
            seen.add(name)
            used = set(names(funcs[name]))
            assert "Window" not in used and "over" not in used, f"{op} reaches a Window via {name}"
            todo.extend(used & set(funcs))
