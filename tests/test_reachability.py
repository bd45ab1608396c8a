"""Dead-code guard: every top-level package function and class must be
reachable from a non-test root, or carry a one-line reason in ALLOWED.

Roots are the programs that run the package: the driver contract
(``__spark_entry__.py`` and the query registries it imports),
``bench.py``, ``tools/`` and ``perfbench/``. The walk is static (AST
only, no Spark, well under a second). A name counts as reached when a
reached body refers to it by a resolvable name: a bare name bound in
its module, a ``from M import n``, or ``alias.n`` on an imported module.
Reaching a module runs its top-level statements (registries, constants),
so they count as reached too. Class bodies are reached as a whole.
"""

from __future__ import annotations

import ast
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "glean_cetaf_rdfs_spark"

ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py",
         *sorted((REPO / "tools").glob("*.py")),
         *sorted(p for p in (REPO / "perfbench").glob("*.py")
                 if not p.name.startswith("test_"))]

# name → why it stays without a caller from the roots
ALLOWED = {
    "data.synthetic.transcripts_pdf":
        "driver-side twin of transcripts_df: the oracle tests' input",
    "operators.dedupe.embedding_cosine_pairs":
        "exact all-pairs baseline the bucketed q21/q54 path is tested against",
    "operators.textops.bpe_count_py":
        "pure-Python reference the q49 Column count is tested against",
    "plans.curation.run_curation":
        "library entry point: curate_corpus plus a partitioned write",
    "session.package_zip":
        "library entry point: ships the package to a cluster's executors",
    "operators.repetition.line_repetition":
        "q55 rounding work owns repetition.py; kept until it lands",
    "operators.repetition.ngram_repetition":
        "q55 rounding work owns repetition.py; kept until it lands",
}


def _modname(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.name = _modname(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {n.name: n for n in self.tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))}
        self.top = [n for n in self.tree.body if n not in self.defs.values()]
        # every import in the file, lazy ones included: local → (module, attr)
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.ImportFrom):
                src = self.source(node)
                for a in node.names:
                    self.imports[a.asname or a.name] = (src, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name.split(".")[0]
                    self.imports[a.asname or top] = (a.name if a.asname else top, None)

    def source(self, node: ast.ImportFrom) -> str:
        """Absolute module name of a (possibly relative) ``from`` import."""
        if not node.level:
            return node.module or ""
        base = self.name.split(".") if self.is_pkg else self.name.split(".")[:-1]
        base = base[:len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))


def _walk() -> tuple[dict[str, _Module], set[tuple[str, str]]]:
    mods = {m.name: m for m in map(_Module, sorted((REPO / PKG).rglob("*.py")))}
    roots = [_Module(p) for p in ROOTS]
    reached: set[tuple[str, str]] = set()
    seen_mods: set[str] = set()
    work: list[tuple[_Module, list[ast.AST]]] = [(r, r.tree.body) for r in roots]

    def reach_module(name: str) -> None:
        # importing a.b.c runs a, a.b and a.b.c
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = mods.get(".".join(parts[:i]))
            if m is not None and m.name not in seen_mods:
                seen_mods.add(m.name)
                work.append((m, m.top))

    def reach(modname: str, name: str) -> None:
        m = mods.get(modname)
        if m is None:
            return
        reach_module(modname)
        if name in m.defs and (modname, name) not in reached:
            reached.add((modname, name))
            work.append((m, [m.defs[name]]))
        elif f"{modname}.{name}" in mods:
            reach_module(f"{modname}.{name}")

    while work:
        mod, nodes = work.pop()
        for node in (n for b in nodes for n in ast.walk(b)):
            if isinstance(node, ast.ImportFrom):
                src = mod.source(node)
                reach_module(src)
                for a in node.names:
                    reach(src, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    reach_module(a.name)
            elif isinstance(node, ast.Name) and node.id in mod.defs:
                reach(mod.name, node.id)
            elif isinstance(node, ast.Attribute):
                # alias.f / pkg.mod.f on an imported module
                chain, base = [], node
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name) or base.id not in mod.imports:
                    continue
                src, attr = mod.imports[base.id]
                target = src if attr is None else f"{src}.{attr}"
                for part in reversed(chain):
                    if target in mods:
                        reach(target, part)
                    target = f"{target}.{part}"
    return mods, reached


def unreachable() -> list[str]:
    mods, reached = _walk()
    pkg = len(PKG) + 1
    return sorted(f"{m.name[pkg:]}.{d}" for m in mods.values()
                  for d in m.defs if (m.name, d) not in reached)


def test_every_package_definition_is_reachable():
    t0 = time.perf_counter()
    dead = unreachable()
    assert time.perf_counter() - t0 < 1.0
    unexplained = [n for n in dead if n not in ALLOWED]
    assert not unexplained, (
        "package definitions no root reaches (delete them, or add a "
        f"reason to ALLOWED): {unexplained}")


def test_allowlist_names_only_unreached_definitions():
    stale = sorted(set(ALLOWED) - set(unreachable()))
    assert not stale, f"ALLOWED names that are reachable or gone: {stale}"
