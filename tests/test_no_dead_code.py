"""Every top-level definition in the package is reached from a job, a query
or a tool, and every keyword option of a public package or job function is
set by one.

A plain-Python static scan, no Spark session. It parses the non-test roots
(``jobs/``, ``tools/``, ``jobbench/``, ``bench.py``, ``__spark_entry__.py``)
with ``ast``, resolves their imports into the package, and follows every
name a reached body loads: a function or class body, the value of a
module-level assignment, and the module-level statements of every module a
reached body imports. A package definition that only tests or other
unreached code use fails the scan; delete it with its tests, or give it a
caller that serves a job, a query or a tool.

``KEPT`` lists the few unreached definitions that stay, each with its
reason; what a kept definition calls counts as reached.

The option scan covers the public functions of the package and of
``jobs/*.py``, and matches calls by function name. An option (a parameter
with a default) counts as set when some call in a root or in package code
names it, passes it by position, or forwards ``*args``/``**kwargs``; calls
in ``tests/`` do not count. An option no such call sets is a value its
callers never change: fold it into the function. ``KEPT_OPTIONS`` lists the
few that stay, each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "acoustic_feature_extractor_spark"

KEPT = {
    f"{PKG}.datagen.generate_turn_features": "builds the fixture for tests/test_parity.py",
    f"{PKG}.operators.multimodal.encode_wav_pcm16": "fixture-side inverse of decode_wav_pcm16",
    f"{PKG}.operators.similarity.embedding_neardup_exact": "exact reference for the blocked near-dup path",
    f"{PKG}.operators.similarity.pq_encode": "reconstructs codes for cosine_topk_ivfpq's score test",
    f"{PKG}.operators.sketches._cms_bucket": "exact-replay reference for cms_estimate",
    f"{PKG}.operators.context.sequence_fingerprint": "batch reference for the streaming fingerprint",
    f"{PKG}.plans.pipeline.adaptive_salt_above": "the skew threshold the run manifest will freeze",
    f"{PKG}.sources.snapshots.compact": "writes the log's compact snapshots; merge-on-read deletes fold through it",
}

KEPT_OPTIONS = {
    f"{PKG}.sources.snapshots.commit(evolve)": "additive schema evolution, a pinned table-format contract",
    f"{PKG}.datagen.generate_turn_features(n_convs)": "sizes the KEPT tests/test_parity.py fixture",
    f"{PKG}.datagen.generate_turn_features(seed)": "seeds the KEPT tests/test_parity.py fixture",
    f"{PKG}.operators.similarity.embedding_neardup_exact(threshold)": "the KEPT exact reference runs at the threshold of the path it checks",
    f"{PKG}.operators.similarity.embedding_neardup_exact(max_driver_rows)": "the KEPT exact reference's driver-memory cap, a deployment setting",
    f"{PKG}.plans.pipeline.adaptive_salt_above(chunk_rows)": "option of the KEPT skew threshold",
    f"{PKG}.plans.pipeline.adaptive_salt_above(straggler_factor)": "option of the KEPT skew threshold",
    f"{PKG}.plans.pipeline.adaptive_salt_above(key)": "option of the KEPT skew threshold",
    f"{PKG}.plans.bloom.bloom_semi_join(n_bits)": "bitmap size, a deployment setting that grows with the key set",
    f"{PKG}.plans.bloom.bloom_semi_join(k)": "probe-hash count, a deployment setting chosen with n_bits",
    f"{PKG}.sources.layout.zorder_layout(bits)": "z-order resolution, a deployment setting bounded by the column count",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    def __init__(self, name: str, path: Path, is_pkg: bool) -> None:
        self.name = name
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        self.body: list[ast.AST] = []  # module-level code that runs on import
        for node in self.tree.body:
            names = _bound_names(node)
            if names:
                for n in names:
                    self.defs.setdefault(n, []).append(node)
            else:
                self.body.append(node)
        # local name -> dotted target; imports anywhere in the file bind here
        self.aliases: dict[str, str] = {}
        for node in ast.walk(self.tree):
            for local, target in self.imports(node):
                self.aliases[local] = target

    def imports(self, node: ast.AST) -> list[tuple[str, str]]:
        if isinstance(node, ast.Import):
            return [
                (a.asname or a.name.partition(".")[0], a.name if a.asname else a.name.partition(".")[0])
                for a in node.names
            ]
        if isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = self.package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            return [(a.asname or a.name, f"{base}.{a.name}") for a in node.names if a.name != "*"]
        return []


def _bound_names(node: ast.AST) -> list[str]:
    if isinstance(node, _DEF):
        return [node.name]
    if isinstance(node, ast.Assign) and all(isinstance(t, ast.Name) for t in node.targets):
        return [t.id for t in node.targets]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _load(root: Path) -> dict[str, _Module]:
    mods = {}
    for path in sorted((root / PKG).rglob("*.py")):
        rel = path.relative_to(root).with_suffix("").parts
        is_pkg = rel[-1] == "__init__"
        name = ".".join(rel[:-1] if is_pkg else rel)
        mods[name] = _Module(name, path, is_pkg)
    roots = [*root.glob("jobs/*.py"), *root.glob("tools/*.py"), *root.glob("jobbench/*.py")]
    roots += [root / "bench.py", root / "__spark_entry__.py"]
    for path in roots:
        name = "<root>." + ".".join(path.relative_to(root).with_suffix("").parts)
        mods[name] = _Module(name, path, False)
    return mods


def unreached(root: Path = ROOT, kept: tuple[str, ...] = ()) -> set[str]:
    """Dotted names of package top-level definitions that neither a root
    nor a ``kept`` definition reaches."""
    mods = _load(root)
    seen_mods: set[str] = set()
    seen_defs: set[str] = set()
    work: list[tuple[_Module, ast.AST]] = []

    def run_module(name: str) -> None:
        # importing a.b.c runs a, a.b and a.b.c
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in mods and m not in seen_mods:
                seen_mods.add(m)
                work.extend((mods[m], node) for node in mods[m].body)

    def resolve(target: str, depth: int = 0) -> None:
        """Mark the module or definition a dotted name points at."""
        if target in mods:
            run_module(target)
            return
        mod, _, attr = target.rpartition(".")
        if mod not in mods or depth > 20:
            return
        run_module(mod)
        m = mods[mod]
        if attr in m.defs:
            key = f"{mod}.{attr}"
            if key not in seen_defs:
                seen_defs.add(key)
                work.extend((m, node) for node in m.defs[attr])
        elif attr in m.aliases:
            resolve(m.aliases[attr], depth + 1)

    def chain(node: ast.AST) -> list[str] | None:
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return None
        return [node.id, *reversed(parts)]

    def visit(m: _Module, node: ast.AST) -> None:
        for sub in ast.walk(node):
            # an import runs the module; a name it binds counts only when loaded
            for _, target in m.imports(sub):
                run_module(target if target in mods else target.rpartition(".")[0])
            if isinstance(sub, (ast.Name, ast.Attribute)):
                names = chain(sub)
                if not names:
                    continue
                head, *rest = names
                if head in m.aliases:
                    base = m.aliases[head]
                elif head in m.defs:
                    base = f"{m.name}.{head}"
                else:
                    continue
                # walk a.b.c down through modules to the first definition
                resolve(base)
                for attr in rest:
                    if base not in mods:
                        break
                    base = f"{base}.{attr}"
                    resolve(base)

    for name in mods:
        if name.startswith("<root>."):
            seen_mods.add(name)
            work.extend((mods[name], node) for node in mods[name].tree.body)
    for name in kept:
        resolve(name)
    while work:
        visit(*work.pop())

    return {
        f"{name}.{d}"
        for name, m in mods.items()
        if not name.startswith("<root>.")
        for d in m.defs
        if f"{name}.{d}" not in seen_defs and not (d.startswith("__") and d.endswith("__"))
    }


def unset_options(root: Path = ROOT) -> set[str]:
    """``module.func(option)`` for every keyword option of a public package
    or ``jobs/`` function that no call in a root or in package code sets."""
    mods = _load(root)
    calls: dict[str, list[ast.Call]] = {}
    for m in mods.values():
        for node in ast.walk(m.tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    unset = set()
    for name, m in mods.items():
        if name.startswith("<root>.") and not name.startswith("<root>.jobs."):
            continue
        for fn in m.tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            options = pos[len(pos) - len(a.defaults):]
            options += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            done: set[str] = set()
            for call in calls.get(fn.name, []):
                if any(isinstance(x, ast.Starred) for x in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    done.update(options)
                    break
                done.update(k.arg for k in call.keywords)
                done.update(pos[: len(call.args)])
            unset |= {f"{name}.{fn.name}({o})" for o in options if o not in done}
    return unset


def test_every_package_definition_is_reached():
    dead = sorted(unreached(kept=tuple(KEPT)))
    assert not dead, "reached only from tests or from other dead code:\n  " + "\n  ".join(dead)


def test_kept_names_exist_and_are_still_unreached():
    # an entry that gained a caller, or whose definition is gone, is stale
    assert set(KEPT) <= unreached()


def test_every_keyword_option_is_set():
    unset = sorted(unset_options() - set(KEPT_OPTIONS))
    assert not unset, "set only by tests, if at all; fold into the value callers use:\n  " + "\n  ".join(unset)


def test_kept_options_exist_and_are_still_unset():
    # an entry that gained a setter, or whose option is gone, is stale
    assert set(KEPT_OPTIONS) <= unset_options()
