"""Package hygiene: no top-level def outside ``queries/`` may be reachable
only from ``tests/``, and none may keep a code path that only ``tests/``
select.

Pure AST, no Spark.  Every top-level binding (def, class, assignment) of
the package, the entry scripts and ``perfbench/`` is a node; an edge runs
from a node to each top-level binding its code names, resolved through
imports, ``module.attr`` chains and ``__init__`` re-exports.  The roots
are everything in ``queries/`` (the declared queries), the product entry
modules (CLI and WSGI), ``__spark_entry__.py``, ``bench.py`` and
``perfbench/``.  A def no root reaches is only kept alive by tests.

Docstrings are strings, not names, so they never count as uses; nor does
a def naming itself, a same-module sibling that is itself unreached, or
an ``__init__`` re-export (it forwards the name to its origin).

The second check reads the same graph's calls: a defaulted parameter of a
def outside ``queries/`` that no call outside ``tests/`` passes by position
or keyword has one value in use.  An option with one value in use is a
constant.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "social_warner_spark"

#: Modules (and packages) whose every top-level binding is a root.
ROOT_MODULES = (
    f"{PKG}.queries",
    f"{PKG}.__main__",
    f"{PKG}.wsgi",
    "__spark_entry__",
    "bench",
    "perfbench",
)

#: Defs deliberately kept although only tests call them, one reason each.
ALLOWED = {
    f"{PKG}.operators.multimodal.decode_png":
        "reference decoder the decode tests compare the Spark decoder against",
    f"{PKG}.operators.multimodal.decode_wav_samples":
        "reference decoder the decode tests compare the Spark decoder against",
    f"{PKG}.sources.rest.resolve_credentials":
        "SURVEY A17: called by a deployment's --extract callable",
    f"{PKG}.sources.rest.env_credential_provider":
        "SURVEY A17: called by a deployment's --extract callable",
}


#: Defaulted parameters that no call outside tests/ passes, kept as
#: options all the same, one reason each.
ALLOWED_PARAMS = {
    f"{PKG}.session.get_spark.master":
        "deployment master URL; a cluster deployment passes it",
    f"{PKG}.session.get_spark.extra_conf":
        "deployment Spark confs; a deployment passes its own",
    f"{PKG}.sinks.writers.write_table.fmt":
        "SURVEY A14: the BigQuery sink passes fmt='bigquery'",
    f"{PKG}.sinks.writers.write_table.connector_format":
        "the connector seam a fake connector plugs into (tests/test_sinks.py)",
    f"{PKG}.sources.rest.env_credential_provider.env_var":
        "SURVEY A17: a deployment names its credential variable",
    f"{PKG}.sources.rest.resolve_credentials.provider":
        "SURVEY A17: a deployment passes its credential provider",
    f"{PKG}.__main__.main.argv":
        "None reads sys.argv; the console entry point calls main()",
    f"{PKG}.pipeline.transform_config_frame.pivot_keys":
        "ROADMAP item 1: a fixed pivot key set for streamed configs",
}


def _is_root(mod: str) -> bool:
    return any(mod == r or mod.startswith(f"{r}.") for r in ROOT_MODULES)


def _modules() -> dict[str, tuple[Path, ast.Module]]:
    files = [*(ROOT / PKG).rglob("*.py"), *(ROOT / "perfbench").glob("*.py"),
             ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    out = {}
    for f in files:
        parts = list(f.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = (f, ast.parse(f.read_text(), str(f)))
    return out


def _absolute(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    base = base[: len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _binds(st: ast.stmt) -> list[str] | None:
    """Names a top-level def, class or assignment binds; None otherwise."""
    if isinstance(st, _DEFS):
        return [st.name]
    if isinstance(st, (ast.Assign, ast.AnnAssign)):
        targets = st.targets if isinstance(st, ast.Assign) else [st.target]
        return [t.id for t in targets if isinstance(t, ast.Name) and t.id != "__all__"]
    return None


def _import_aliases(mod: str, is_pkg: bool, st: ast.stmt) -> dict[str, str]:
    """Local name -> qualified target for one import statement."""
    if isinstance(st, ast.Import):
        return {a.asname or a.name.split(".")[0]: a.name if a.asname else a.name.split(".")[0]
                for a in st.names}
    src = _absolute(mod, is_pkg, st)
    return {a.asname or a.name: f"{src}.{a.name}" for a in st.names if a.name != "*"}


class _Graph:
    def __init__(self) -> None:
        self.mods = _modules()
        self.defs: dict[str, set[str]] = {}      # module -> top-level bindings
        self.checked: set[str] = set()           # qualified top-level defs
        self.forwards: dict[str, str] = {}       # module.name -> import target
        self.aliases: dict[str, dict[str, str]] = {}  # module -> local -> target
        self.bodies: dict[str, list[tuple[str, ast.stmt]]] = {}
        self.import_time: list[tuple[str, ast.stmt]] = []  # other module-level code
        for mod, (path, tree) in self.mods.items():
            is_pkg = path.name == "__init__.py"
            self.defs[mod], self.aliases[mod] = set(), {}
            for st in tree.body:
                names = _binds(st)
                if names is not None:
                    self.defs[mod].update(names)
                    for n in names:
                        self.bodies.setdefault(f"{mod}.{n}", []).append((mod, st))
                    if isinstance(st, _DEFS):
                        self.checked.add(f"{mod}.{st.name}")
                elif isinstance(st, (ast.Import, ast.ImportFrom)):
                    self.aliases[mod].update(_import_aliases(mod, is_pkg, st))
                elif not (isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant)):
                    self.import_time.append((mod, st))  # docstrings excepted
            for local, target in self.aliases[mod].items():
                self.forwards[f"{mod}.{local}"] = target

    def resolve(self, qual: str) -> str | None:
        """Follow re-exports to the defining module's binding, or None."""
        seen = set()
        while qual not in seen:
            seen.add(qual)
            mod, _, name = qual.rpartition(".")
            if name in self.defs.get(mod, ()) or qual in self.mods:
                return qual
            if qual not in self.forwards:
                return None
            qual = self.forwards[qual]
        return None

    def _scope(self, mod: str, node: ast.AST) -> tuple[dict[str, str], set[str]]:
        """Local name -> target under ``node`` (module imports plus the ones
        inside it), and the targets its from-imports name."""
        is_pkg = self.mods[mod][0].name == "__init__.py"
        scope = dict(self.aliases[mod])
        imported: set[str] = set()
        for sub in ast.walk(node):
            if isinstance(sub, (ast.Import, ast.ImportFrom)):
                local = _import_aliases(mod, is_pkg, sub)
                scope.update(local)
                if isinstance(sub, ast.ImportFrom):
                    imported.update(local.values())
        return scope, imported

    def _chain(self, mod: str, scope: dict[str, str], expr: ast.AST) -> list[str]:
        """Qualified prefixes of a ``name.attr...`` chain, shortest first."""
        attrs = []
        while isinstance(expr, ast.Attribute):
            attrs.append(expr.attr)
            expr = expr.value
        if not isinstance(expr, ast.Name):
            return []
        if expr.id in self.defs[mod]:
            base = f"{mod}.{expr.id}"
        elif expr.id in scope:
            base = scope[expr.id]
        else:
            return []
        out = [base]
        for attr in reversed(attrs):
            base = f"{base}.{attr}"
            out.append(base)
        return out

    def uses(self, mod: str, node: ast.AST) -> set[str]:
        """Qualified bindings the code under ``node`` names."""
        scope, out = self._scope(mod, node)
        for sub in ast.walk(node):
            out.update(self._chain(mod, scope, sub))
        return {r for q in out if (r := self.resolve(q))}

    def function(self, qual: str) -> ast.FunctionDef | None:
        """The top-level def bound to ``qual``, or None."""
        return next((st for _, st in self.bodies.get(qual, ())
                     if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))), None)

    def passed(self) -> dict[str, set[str]]:
        """Def -> the parameters some call in the walked modules passes it,
        by position or keyword (``*args``/``**kwargs`` pass all they can)."""
        out: dict[str, set[str]] = {}
        for mod, (_, tree) in self.mods.items():
            for st in tree.body:
                scope, _ = self._scope(mod, st)
                for call in ast.walk(st):
                    if not isinstance(call, ast.Call):
                        continue
                    chain = self._chain(mod, scope, call.func)
                    callee = chain and self.resolve(chain[-1])
                    fn = self.function(callee) if callee else None
                    if fn is None:
                        continue
                    a = fn.args
                    positional = [p.arg for p in a.posonlyargs + a.args]
                    names = out.setdefault(callee, set())
                    for i, arg in enumerate(call.args):
                        if isinstance(arg, ast.Starred):
                            names.update(positional[i:])
                            break
                        names.update(positional[i:i + 1])
                    for kw in call.keywords:
                        if kw.arg is None:
                            names.update(positional + [p.arg for p in a.kwonlyargs])
                        else:
                            names.add(kw.arg)
        return out

    def reachable(self) -> set[str]:
        todo = [q for q in self.bodies if _is_root(q.rpartition(".")[0])]
        for mod, st in self.import_time:
            todo.extend(self.uses(mod, st))
        seen: set[str] = set()
        while todo:
            q = todo.pop()
            if q in seen:
                continue
            seen.add(q)
            for mod, st in self.bodies.get(q, ()):
                todo.extend(self.uses(mod, st) - {q})
        return seen


def test_no_package_def_is_reachable_only_from_tests():
    graph = _Graph()
    reached = graph.reachable()
    dead = sorted(
        q for q in graph.checked
        if not _is_root(q.rpartition(".")[0]) and q not in reached and q not in ALLOWED
    )
    assert not dead, (
        "top-level defs reachable only from tests/ (delete them, move them "
        f"into tests/, or allowlist them with a reason): {dead}"
    )
    # an allowlist entry names an existing def that really is unreached,
    # so the list cannot go stale
    assert set(ALLOWED) <= graph.checked
    assert not set(ALLOWED) & reached


def _defaulted(fn: ast.FunctionDef) -> set[str]:
    """Parameters of ``fn`` that have a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaulted = {p.arg for p in positional[len(positional) - len(a.defaults):]}
    return defaulted | {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}


def test_no_defaulted_parameter_is_set_only_by_tests():
    """An option with one value in use is a constant: a defaulted parameter
    that no call outside tests/ passes has one value in use, its default."""
    graph = _Graph()
    passed = graph.passed()
    found = {
        f"{q}.{p}"
        for q in graph.checked
        if q.startswith(f"{PKG}.") and not q.startswith(f"{PKG}.queries.")
        and (fn := graph.function(q)) is not None
        for p in _defaulted(fn) - passed.get(q, set())
    }
    assert not found - set(ALLOWED_PARAMS), (
        "defaulted parameters no call outside tests/ passes (write the "
        "default into the body as a constant, or allowlist them with a "
        f"reason): {sorted(found - set(ALLOWED_PARAMS))}"
    )
    # every allowlist entry is still a defaulted parameter nothing passes
    assert set(ALLOWED_PARAMS) <= found
