"""Dead-code guard: every top-level package function and class must be
reachable from a non-test root, or carry a one-line reason in ALLOWED;
and every defaulted parameter of a top-level package function must be
passed by some reached call, or carry a one-line reason in
ALLOWED_PARAMS.

Roots are the programs that run the package: the driver contract
(``__spark_entry__.py`` and the query registries it imports),
``bench.py``, ``tools/`` and ``perfbench/``. The walk is static (AST
only, no Spark, well under a second). A name counts as reached when a
reached body refers to it by a resolvable name: a bare name bound in
its module, a ``from M import n``, or ``alias.n`` on an imported module.
Reaching a module runs its top-level statements (registries, constants),
so they count as reached too. Class bodies are reached as a whole.

A call passes a parameter by keyword, by position, or through ``*`` /
``**``. Only calls in reached bodies count, and only when their target
resolves statically the way a reached name does.
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

# "module.function(param)" → why it stays though no reached call sets it
ALLOWED_PARAMS = {
    "plans.pipeline.run_pipeline(run_id)":
        "deployment id: names the run in lineage rows",
    "plans.pipeline.run_pipeline(quarantine_path)":
        "deployment path: where rejected input rows are kept",
    "plans.curation.run_curation(lineage_path)":
        "deployment path of the library entry point's lineage table",
    "plans.curation.run_curation(run_id)":
        "deployment id of the library entry point's lineage rows",
    "operators.cc.connected_components(checkpoint_dir)":
        "deployment path: reliable checkpoints on a cluster",
    "session.package_zip(target_dir)":
        "deployment path of the shipped package zip",
    "streaming.checkpoint.run_resumable(fail_after_bucket)":
        "crash hook: the resume tests kill a run after a bucket",
    "operators.materialize.write_graph_table(max_records_per_file)":
        "tests set it to probe the per-file record cap",
    "data.synthetic.transcripts_df(partitions)":
        "tests set it to probe partition-independent generation",
    "operators.cc.connected_components(driver_threshold)":
        "tests set 0 to force the distributed rounds against the driver path",
    "operators.similarity.ivf_centroids(sample_n)":
        "tests set it past the cap to probe the training-sample guard",
    "operators.dedupe.embedding_cosine_pairs(threshold)":
        "parameter of an ALLOWED function: the tests' exact baseline",
    "operators.repetition.line_repetition(sep)":
        "parameter of an ALLOWED function: the paragraph-level variant",
    "operators.repetition.ngram_repetition(n)":
        "parameter of an ALLOWED function: the n-gram width",
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


def _walk() -> tuple[dict[str, _Module], set[tuple[str, str]],
                   list[tuple[str, str, ast.Call]]]:
    mods = {m.name: m for m in map(_Module, sorted((REPO / PKG).rglob("*.py")))}
    roots = [_Module(p) for p in ROOTS]
    reached: set[tuple[str, str]] = set()
    calls: list[tuple[str, str, ast.Call]] = []
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

    def callee(mod: _Module, func: ast.AST) -> tuple[str, str] | None:
        """(module, name) of a call's target, when it resolves statically."""
        if isinstance(func, ast.Name):
            if func.id in mod.defs:
                return mod.name, func.id
            src, attr = mod.imports.get(func.id, ("", None))
            return (src, attr) if attr is not None else None
        chain, base = [], func
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in mod.imports:
            return None
        src, attr = mod.imports[base.id]
        target = src if attr is None else f"{src}.{attr}"
        for part in reversed(chain[1:]):
            target = f"{target}.{part}"
        return target, chain[0]

    while work:
        mod, nodes = work.pop()
        for node in (n for b in nodes for n in ast.walk(b)):
            if isinstance(node, ast.Call):
                target = callee(mod, node.func)
                if target is not None and target[0] in mods:
                    calls.append((*target, node))
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
    return mods, reached, calls


def unreachable() -> list[str]:
    mods, reached, _ = _walk()
    pkg = len(PKG) + 1
    return sorted(f"{m.name[pkg:]}.{d}" for m in mods.values()
                  for d in m.defs if (m.name, d) not in reached)


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    pos = fn.args.posonlyargs + fn.args.args
    return ([a.arg for a in pos[len(pos) - len(fn.args.defaults):]]
            + [a.arg for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
               if d is not None])


def _passes(call: ast.Call, fn: ast.FunctionDef, param: str) -> bool:
    """Does ``call`` pass ``param`` by keyword, by position or by ``**``?"""
    if any(k.arg in (None, param) for k in call.keywords):
        return True
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if param not in pos:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return pos.index(param) < len(call.args)


def unpassed_params() -> list[str]:
    """``module.function(param)`` for every defaulted parameter of a
    top-level package function that no call in a reached body passes."""
    mods, _, calls = _walk()
    by_fn: dict[tuple[str, str], list[ast.Call]] = {}
    for modname, name, call in calls:
        by_fn.setdefault((modname, name), []).append(call)
    pkg = len(PKG) + 1
    out = []
    for m in mods.values():
        for name, fn in m.defs.items():
            if isinstance(fn, ast.ClassDef):
                continue
            seen = by_fn.get((m.name, name), [])
            out += [f"{m.name[pkg:]}.{name}({p})" for p in _defaulted(fn)
                    if not any(_passes(c, fn, p) for c in seen)]
    return sorted(out)


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


def test_every_defaulted_parameter_is_passed():
    t0 = time.perf_counter()
    unset = unpassed_params()
    assert time.perf_counter() - t0 < 1.0
    unexplained = [p for p in unset if p not in ALLOWED_PARAMS]
    assert not unexplained, (
        "defaulted parameters no reached call passes (delete them and "
        "the code only they reach, make them constants, or add a reason "
        f"to ALLOWED_PARAMS): {unexplained}")


def test_param_allowlist_names_only_unpassed_parameters():
    stale = sorted(set(ALLOWED_PARAMS) - set(unpassed_params()))
    assert not stale, f"ALLOWED_PARAMS entries that are passed or gone: {stale}"
