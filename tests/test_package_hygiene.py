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

The third reads the values those calls pass: a defaulted parameter that
selects a branch, although every call outside ``tests/`` gives it the
same value, keeps a code path only tests run.
"""

from __future__ import annotations

import ast
import functools
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


#: Branch parameters every call outside tests/ gives one value, kept as
#: options all the same, one reason each.
ALLOWED_BRANCHES = {
    f"{PKG}.session.get_spark.master":
        "deployment master URL; a cluster deployment passes it",
    f"{PKG}.sinks.writers.write_table.fmt":
        "SURVEY A14: the BigQuery sink passes fmt='bigquery'",
    f"{PKG}.operators.nested.dynamic_pivot_map.keys":
        "ROADMAP item 1: fed by the allowlisted transform_config_frame.pivot_keys",
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

#: The value of an expression the AST does not tell.
UNKNOWN = object()


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

    def calls(self):
        """(module, scope, top-level statement, call, callee, callee def)
        for every call of a top-level def in the walked modules."""
        for mod, (_, tree) in self.mods.items():
            for st in tree.body:
                scope, _ = self._scope(mod, st)
                for call in ast.walk(st):
                    if not isinstance(call, ast.Call):
                        continue
                    chain = self._chain(mod, scope, call.func)
                    callee = chain and self.resolve(chain[-1])
                    fn = self.function(callee) if callee else None
                    if fn is not None:
                        yield mod, scope, st, call, callee, fn

    def passed(self) -> dict[str, set[str]]:
        """Def -> the parameters some call in the walked modules passes it,
        by position or keyword (``*args``/``**kwargs`` pass all they can)."""
        out: dict[str, set[str]] = {}
        for _, _, _, call, callee, fn in self.calls():
            out.setdefault(callee, set()).update(
                p for p, (_, default) in _arguments(fn, call).items() if not default)
        return out

    def escaped(self) -> set[str]:
        """Bindings named other than as a callee: a callback, a registry
        entry.  Calls the walk cannot see may reach them."""
        out = set()
        for mod, (_, tree) in self.mods.items():
            for st in tree.body:
                scope, _ = self._scope(mod, st)
                inner = {id(n.value) for n in ast.walk(st) if isinstance(n, ast.Attribute)}
                inner |= {id(n.func) for n in ast.walk(st) if isinstance(n, ast.Call)}
                for sub in ast.walk(st):
                    if isinstance(sub, (ast.Name, ast.Attribute)) and id(sub) not in inner:
                        chain = self._chain(mod, scope, sub)
                        if chain and (q := self.resolve(chain[-1])):
                            out.add(q)
        return out

    def constant(self, qual: str) -> object:
        """The value key of a module constant bound once, or UNKNOWN."""
        bound = self.bodies.get(qual, ())
        if len(bound) != 1 or not isinstance(bound[0][1], (ast.Assign, ast.AnnAssign)):
            return UNKNOWN
        mod, st = bound[0]
        if st.value is None:
            return UNKNOWN
        return self.value(mod, self.aliases[mod], st.value, frozenset(), "")

    def value(self, mod: str, scope: dict[str, str], expr: ast.AST,
              params: frozenset[str], caller: str) -> object:
        """What ``expr`` evaluates to, as far as the AST says: the repr of a
        literal, a module constant's value, ``(caller, param)`` for one of
        the calling def's own parameters, or UNKNOWN."""
        try:
            return repr(ast.literal_eval(expr))
        except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
            pass
        if isinstance(expr, ast.Name) and expr.id in params:
            return (caller, expr.id)
        chain = self._chain(mod, scope, expr)
        qual = chain and self.resolve(chain[-1])
        return self.constant(qual) if qual else UNKNOWN

    def values(self) -> dict[str, set[object]]:
        """``def.param`` -> the value keys the calls in the walked modules
        give it, an omitted parameter counting as its default, iterated to
        a fixpoint through the calling defs' own parameters.  An escaped
        def, or a call through ``*args`` or ``**kwargs``, gives UNKNOWN."""
        given: dict[str, set[object]] = {}
        for mod, scope, st, call, callee, fn in self.calls():
            home = callee.rpartition(".")[0]
            for p, (expr, default) in _arguments(fn, call).items():
                if expr is None:
                    v = UNKNOWN
                elif default:
                    v = self.value(home, self.aliases[home], expr, frozenset(), "")
                else:
                    v = self.value(mod, scope, expr, _own_params(st),
                                   f"{mod}.{getattr(st, 'name', '')}")
                given.setdefault(f"{callee}.{p}", set()).add(v)
        escaped = self.escaped()
        for key, vals in given.items():
            if key.rpartition(".")[0] in escaped:
                vals.add(UNKNOWN)
        changed = True
        while changed:
            changed = False
            for vals in given.values():
                for ref in [v for v in vals if isinstance(v, tuple)]:
                    more = given.get(".".join(ref), {UNKNOWN}) - vals
                    changed |= bool(more)
                    vals |= more
        return {k: {v for v in vals if not isinstance(v, tuple)} for k, vals in given.items()}

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


@functools.cache
def _own_params(st: ast.stmt) -> frozenset[str]:
    """Parameters of a top-level def that its body never rebinds, nor
    shadows with a nested def's, lambda's or comprehension's own names."""
    if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return frozenset()
    rebound = {n.id for n in ast.walk(st)
               if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load)}
    rebound |= {p.arg for n in ast.walk(st)
                if n is not st and isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                                  ast.Lambda))
                for p in ast.walk(n.args) if isinstance(p, ast.arg)}
    a = st.args
    return frozenset(p.arg for p in a.posonlyargs + a.args + a.kwonlyargs
                     if p.arg not in rebound)


def _defaulted(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """Parameters of ``fn`` that have a default -> the default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaulted = dict(zip([p.arg for p in positional[len(positional) - len(a.defaults):]],
                         a.defaults))
    return defaulted | {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}


def _arguments(fn: ast.FunctionDef, call: ast.Call) -> dict[str, tuple[ast.AST | None, bool]]:
    """Parameter -> (the expression ``call`` gives it, whether that is the
    def's default); None for what ``*args``/``**kwargs`` may carry, which
    is every parameter they can reach."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    out: dict[str, tuple[ast.AST | None, bool]] = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            out |= dict.fromkeys(positional[i:], (None, False))
            break
        out.update(dict.fromkeys(positional[i:i + 1], (arg, False)))
    for kw in call.keywords:
        if kw.arg is None:
            out |= dict.fromkeys(positional + [p.arg for p in a.kwonlyargs], (None, False))
        else:
            out[kw.arg] = (kw.value, False)
    return {p: (d, True) for p, d in _defaulted(fn).items()} | out


def _branch_params(fn: ast.FunctionDef) -> set[str]:
    """Names ``fn``'s body tests in an if, while or conditional expression
    (``assert``s are input checks, not branches)."""
    return {
        n.id
        for st in fn.body
        for sub in ast.walk(st)
        if isinstance(sub, (ast.If, ast.While, ast.IfExp))
        for n in ast.walk(sub.test)
        if isinstance(n, ast.Name)
    }


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
        for p in _defaulted(fn).keys() - passed.get(q, set())
    }
    assert not found - set(ALLOWED_PARAMS), (
        "defaulted parameters no call outside tests/ passes (write the "
        "default into the body as a constant, or allowlist them with a "
        f"reason): {sorted(found - set(ALLOWED_PARAMS))}"
    )
    # every allowlist entry is still a defaulted parameter nothing passes
    assert set(ALLOWED_PARAMS) <= found


def test_no_branch_is_decided_by_one_value_outside_tests():
    """A defaulted parameter that selects a branch, although every call
    outside tests/ gives it the same known value, keeps a code path that
    only tests run: delete the branch no product call selects."""
    graph = _Graph()
    values = graph.values()
    found = {
        f"{q}.{p}"
        for q in graph.checked
        if q.startswith(f"{PKG}.") and not q.startswith(f"{PKG}.queries.")
        and (fn := graph.function(q)) is not None
        for p in _defaulted(fn).keys() & _branch_params(fn)
        if len(vals := values.get(f"{q}.{p}", ())) == 1 and UNKNOWN not in vals
    }
    assert not found - set(ALLOWED_BRANCHES), (
        "branch parameters every call outside tests/ gives one value (delete "
        "the branches that value never selects, or allowlist them with a "
        f"reason): {sorted(found - set(ALLOWED_BRANCHES))}"
    )
    # every allowlist entry is still a branch decided by one value
    assert set(ALLOWED_BRANCHES) <= found
