"""Every top-level package definition is reached from a live entry point.

Spark-free: an AST scan of ``hw_kafka_streams_spark/`` and its callers.

The roots are the ``@register``ed queries, ``__spark_entry__.py``,
``hw_kafka_streams_spark/__main__.py``, ``bench.py``, ``perfbench/`` and
``tools/``. A definition (function, class or top-level assignment) is
reached when reached code names it: directly, through an import, or as
an attribute of a module. Docstrings, ``doc=`` strings, ``__all__`` and
the imports of an ``__init__`` re-export do not count: an import is
followed only when the name it binds is used. A module's loose
top-level statements run on import, so they are reached with the first
reached definition of that module, or when a string names the module
(as ``spark.python.daemon.module`` does).

A definition that only tests reach is dead weight: delete it with its
tests. If a test keeps it as the reference for, or a probe of, a live
path, list it in ``TEST_HELPERS`` with the reason.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hw_kafka_streams_spark"

# Test-only definitions kept on purpose, one reason each. What they
# call is kept with them.
TEST_HELPERS = {
    f"{PACKAGE}.operators.adpcmcodec.encode_ima_adpcm": "fixture encoder: builds the payloads the IMA ADPCM decoder reads",
    f"{PACKAGE}.operators.g711.alaw_encode": "fixture encoder: builds the payloads the A-law decoder reads",
    f"{PACKAGE}.operators.g711.ulaw_encode": "fixture encoder: builds the payloads the mu-law decoder reads",
    f"{PACKAGE}.operators.jpegcodec.encode_baseline_jpeg_gray": "fixture encoder: builds the 1-component JPEGs the decoder reads",
    f"{PACKAGE}.operators.jpegcodec.dc_roundtrip_value": "closed-form reference for the JPEG decode of a constant image",
    f"{PACKAGE}.operators.mcvideo.motion_field": "reference motion search for the motion-compensated video codec",
    f"{PACKAGE}.plans.inspect.window_exec_count": "plan probe: counts the Window execs a windowed query runs",
    f"{PACKAGE}.plans.inspect.global_window_count": "plan probe: counts unpartitioned (single-partition) windows",
    f"{PACKAGE}.operators.udfs.weighted_mean_builtin": "built-in reference for the weighted-mean pandas UDAF",
    f"{PACKAGE}.operators.similarity.rhp_signature": "column-expression reference for the Arrow random-hyperplane signature",
    f"{PACKAGE}.streaming.pipeline.run_file_topology_with_refresh": "broker-free twin of the reference topology with live control appends",
    f"{PACKAGE}.streaming.pipeline.observed_funnel": "the reference topology's O3 peek funnel",
    f"{PACKAGE}.streaming.pipeline.peek": "the reference's O3 peek as df.observe; pipeline.py is the benchmark's hot path, kept as is",
}


def _in_package(module: str) -> bool:
    return module == PACKAGE or module.startswith(PACKAGE + ".")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name) and t.id != "__all__"]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _strip_prose(tree: ast.Module) -> ast.Module:
    """Drop docstrings and ``doc=`` strings: prose is not a reach."""
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            body[0] = ast.Pass()
        if isinstance(node, ast.Call):
            node.keywords = [k for k in node.keywords if k.arg != "doc"]
    return tree


class _Module:
    """Definitions, import bindings and loose top-level code of one file."""

    def __init__(self, name: str, path: Path):
        tree = _strip_prose(ast.parse(path.read_text(), str(path)))
        self.tree = tree
        self.package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        self.defs: dict[str, list[ast.AST]] = {}
        self.loose: list[ast.AST] = []
        # local name -> {(module, attribute or None for the module itself)};
        # imports inside functions count too, for the whole file
        self.imports: dict[str, set[tuple[str, str | None]]] = {}
        for node in tree.body:
            names = _defined_names(node)
            for n in names:
                self.defs.setdefault(n, []).append(node)
            if not names and not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.loose.append(node)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self._bind(top, top, None)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = self.package.split(".")[: len(self.package.split(".")) - node.level + 1]
                    base = ".".join([*pkg, base] if base else pkg)
                for a in node.names:
                    self._bind(a.asname or a.name, base, a.name)

    def _bind(self, local: str, module: str, name: str | None) -> None:
        self.imports.setdefault(local, set()).add((module, name))


@functools.cache
def _refs(node: ast.AST) -> frozenset[tuple[str, ...]]:
    """The name chains (``a.b.c`` as a tuple) and module-naming strings
    (as ``("<module>", name)``) that ``node`` uses."""
    refs = set()
    for child in ast.walk(node):
        if isinstance(child, ast.Name):
            refs.add((child.id,))
        elif isinstance(child, ast.Attribute):
            chain = []
            cur: ast.AST = child
            while isinstance(cur, ast.Attribute):
                chain.append(cur.attr)
                cur = cur.value
            if isinstance(cur, ast.Name):
                refs.add((cur.id, *reversed(chain)))
        elif isinstance(child, ast.Constant) and isinstance(child.value, str):
            if child.value.startswith(PACKAGE + "."):
                refs.add(("<module>", child.value))
    return frozenset(refs)


def _is_registered(node: ast.AST) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        target = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


@functools.cache
def _modules() -> dict[str, _Module]:
    paths = sorted((ROOT / PACKAGE).rglob("*.py"))
    paths += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    paths += sorted((ROOT / "perfbench").glob("*.py")) + sorted((ROOT / "tools").glob("*.py"))
    return {_module_name(p): _Module(_module_name(p), p) for p in paths}


def reached(extra_roots: frozenset[str] = frozenset()) -> set[str]:
    """Dotted names of the package definitions the roots reach."""
    mods = _modules()

    def resolve(module: str, chain: tuple[str, ...], seen: frozenset = frozenset()):
        """Yield ("def", module, name) and ("mod", module) targets."""
        if (module, chain) in seen or module not in mods:
            return
        seen = seen | {(module, chain)}
        head, rest = chain[0], chain[1:]
        if head in mods[module].defs:
            yield ("def", module, head)
            return
        for target, attr in mods[module].imports.get(head, ()):
            if attr is None:
                yield from descend(target, rest, seen)
            elif f"{target}.{attr}" in mods:
                yield from descend(f"{target}.{attr}", rest, seen)
            else:
                yield from resolve(target, (attr, *rest), seen)

    def descend(module: str, rest: tuple[str, ...], seen: frozenset):
        if module in mods:
            yield ("mod", module)
        if rest and f"{module}.{rest[0]}" in mods:
            yield from descend(f"{module}.{rest[0]}", rest[1:], seen)
        elif rest:
            yield from resolve(module, rest, seen)

    done: set[tuple[str, str]] = set()
    loaded: set[str] = set()
    work: list[tuple[str, ast.AST]] = []

    def load(module: str) -> None:
        if module in mods and module not in loaded:
            loaded.add(module)
            work.extend((module, stmt) for stmt in mods[module].loose)

    def reach(module: str, name: str) -> None:
        if (module, name) not in done:
            done.add((module, name))
            load(module)
            work.extend((module, node) for node in mods[module].defs[name])

    for name, m in mods.items():
        if not _in_package(name) or name == f"{PACKAGE}.__main__":
            work.extend((name, node) for node in m.tree.body)
        for d, nodes in m.defs.items():
            if any(_is_registered(n) for n in nodes) or f"{name}.{d}" in extra_roots:
                reach(name, d)
    while work:
        module, node = work.pop()
        for chain in _refs(node):
            if chain[0] == "<module>":
                load(chain[1])
                continue
            for target in resolve(module, chain):
                if target[0] == "def":
                    reach(target[1], target[2])
                else:
                    load(target[1])
    return {f"{m}.{d}" for m, d in done if _in_package(m)}


def package_definitions() -> set[str]:
    """Every top-level definition in the package but dunders (``__version__``)."""
    return {
        f"{name}.{d}"
        for name, m in _modules().items()
        if _in_package(name)
        for d in m.defs
        if not d.startswith("__")
    }


def test_every_package_definition_is_reached():
    dead = sorted(package_definitions() - reached(frozenset(TEST_HELPERS)))
    assert not dead, "reached only from tests; delete them, or list them in TEST_HELPERS:\n" + "\n".join(dead)


def test_test_helpers_are_test_only():
    live = reached()
    stale = sorted(h for h in TEST_HELPERS if h not in package_definitions() or h in live)
    assert not stale, "TEST_HELPERS entries that are gone or reached from a root:\n" + "\n".join(stale)


if __name__ == "__main__":
    for name in sorted(package_definitions() - reached()):
        print(name, "(test helper)" if name in TEST_HELPERS else "")
