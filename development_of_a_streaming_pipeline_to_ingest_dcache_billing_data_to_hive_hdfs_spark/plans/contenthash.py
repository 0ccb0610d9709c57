"""Per-query content hashes for the plan-edit-aware driver rotation.

The correctness driver verifies only the first 50 ``queries()`` entries
per round, and ``catalog._computed_driver_priority`` ranks the catalog
by round-of-last-green-verdict. That ranking alone is blind to EDITS:
a query whose physical expression changes (directly, or through a
helper it calls in another module — e.g. the round-10 run-length-fold
rewrite in ``operators/textops.py`` that changed two catalog queries'
plans without touching their builders) keeps its old green round and
can wait up to the full rotation cycle for a hard driver verdict on the
new plan. These hashes close that hole: each registered query gets a
content hash over everything that determines its plan, the hashes are
persisted per round in ``QUERY_HASHES.json`` (scripts/
gen_query_hashes.py), and the priority ranking treats a query whose
live hash differs from the recorded one — or whose recorded hash is
newer than its last green verdict — as never-verified, so it leads the
next window.

Scheme 2 (round 12) hashes at FUNCTION granularity across module
boundaries. Scheme 1 hashed cross-module dependencies at FILE
granularity, so one docstring edit in ``textops.py`` requeued every
query that reaches into it (~64 — more than a full driver window; the
r11 verdict's "edits starve the age-based backfill" critique). Scheme 2
instead walks the reference graph:

- every package-internal FUNCTION the builder transitively references —
  through its ``__globals__``, through ``from ..x import y`` statements
  in its body (resolved by import to the actual object), through
  wrappers (``functools``, ``lru_cache``, ``arrow_udf``-style ``.func``
  / ``__wrapped__``), and through classes (class source plus every
  method, plus internal bases) — contributes its own source;
- package-internal plain-value globals a traversed function references
  (threshold dicts, SQL fragments, precomputed tables) contribute a
  deterministic ``_stable_repr`` — closing scheme 1's own-module
  constant blind spot (r11 advice): sets/dicts are emitted in sorted
  order so PYTHONHASHSEED cannot flap the hash between processes;
- the oracle SQL string (the other half of the driver contract);
- FILE-granularity md5s survive only as the conservative fallback for
  references the walk cannot resolve to an object: modules referenced
  AS modules, bare ``import pkg.mod`` statements, and imports that fail
  to resolve — expanded to the transitive closure over the module-level
  import graph as before. The builder's own module is always excluded
  from the file set (it is covered at function granularity).

This is a change DETECTOR, not a soundness proof: dynamic dispatch
(``getattr`` by computed name), monkeypatching, and data-file reads are
invisible to the walk. A missed dependency only means an edited query
waits for the standing K-round staleness bound
(tests/test_driver_rotation.py) instead of leading the next window; a
false positive only means one wasted re-verification slot.

Scheme 3 hashes each function's source WITHOUT its docstrings (those
of the function itself, its nested functions and, for a class, the
class and its methods): a docstring edit changes no plan, so it
requeues nothing. Comments still count.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import textwrap
import types
from functools import lru_cache
from pathlib import Path

_PKG_DIR = Path(__file__).resolve().parents[1]
_PKG_NAME = _PKG_DIR.name

SCHEME = 3

__all__ = [
    "SCHEME",
    "query_content_hash",
    "query_content_parts",
]


def _module_file(mod: str) -> Path | None:
    """Absolute package-internal module name -> source file, resolved
    from the filesystem WITHOUT importing (builders' local imports may
    reference modules not yet loaded at registration time)."""
    if mod != _PKG_NAME and not mod.startswith(_PKG_NAME + "."):
        return None
    base = _PKG_DIR.joinpath(*mod.split(".")[1:])
    if base.is_dir():
        base = base / "__init__.py"
    else:
        base = base.with_suffix(".py")
    return base if base.is_file() else None


@lru_cache(maxsize=None)
def _module_file_hash(mod: str) -> str:
    p = _module_file(mod)
    return hashlib.md5(p.read_bytes()).hexdigest() if p else "?"


def _is_package(mod: str) -> bool:
    p = _module_file(mod)
    return bool(p) and p.name == "__init__.py"


def _import_from_base(
    importer: str, importer_is_pkg: bool, node: ast.ImportFrom
) -> str | None:
    """The absolute base module a ``from X import Y`` resolves to
    (PEP 328 for relative imports), or None when it is not
    package-internal."""
    if node.level == 0:
        base = node.module or ""
    else:
        parts = importer.split(".")
        if not importer_is_pkg:
            parts = parts[:-1]
        if node.level - 1 > 0:
            if node.level - 1 >= len(parts):
                return None
            parts = parts[: len(parts) - (node.level - 1)]
        if node.module:
            parts = parts + node.module.split(".")
        base = ".".join(parts)
    if not base or (base != _PKG_NAME and not base.startswith(_PKG_NAME + ".")):
        return None
    return base


def _resolve_import_from(
    importer: str, importer_is_pkg: bool, node: ast.ImportFrom
) -> set[str]:
    """Package-internal modules referenced by one ``from X import Y``.
    Each imported name may itself be a submodule (``from . import
    textops``) — counted as a module iff a file for it exists;
    otherwise the base module carries the edge."""
    base = _import_from_base(importer, importer_is_pkg, node)
    if base is None:
        return set()
    out: set[str] = set()
    for alias in node.names:
        sub = f"{base}.{alias.name}"
        if _module_file(sub):
            out.add(sub)
        else:
            out.add(base)
    return out


@lru_cache(maxsize=None)
def _module_internal_imports(mod: str) -> frozenset[str]:
    """Direct package-internal import edges of a module file (parsed,
    never executed)."""
    p = _module_file(mod)
    if p is None:
        return frozenset()
    try:
        tree = ast.parse(p.read_text())
    except (OSError, SyntaxError):
        return frozenset()
    deps: set[str] = set()
    is_pkg = _is_package(mod)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            deps.update(
                a.name
                for a in node.names
                if a.name == _PKG_NAME or a.name.startswith(_PKG_NAME + ".")
            )
        elif isinstance(node, ast.ImportFrom):
            deps.update(_resolve_import_from(mod, is_pkg, node))
    deps.discard(mod)
    return frozenset(deps)


@lru_cache(maxsize=None)
def _module_closure(mod: str) -> frozenset[str]:
    """Transitive closure over the module import graph, iterative (the
    graph has cycles through package ``__init__`` re-exports)."""
    seen: set[str] = set()
    stack = [mod]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        stack.extend(_module_internal_imports(m))
    return frozenset(seen)


def _code_names(code: types.CodeType) -> set[str]:
    """Global names referenced by a code object, including nested code
    objects (inner helpers, comprehensions, lambdas)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


@lru_cache(maxsize=4096)
def _strip_docstrings(src: str) -> str:
    """``src`` with the leading string statement of each module, class
    and function body cut out, by its ``ast`` position, and the lines
    that leaves blank dropped. The rest is the source as written (no
    ``ast.unparse``), so the hash does not depend on the interpreter's
    unparser. Source that does not parse is returned as is."""
    # an indented method parses as the body of a dummy block, one line
    # down; the column offsets are unchanged
    shift = 1 if src[:1].isspace() else 0
    try:
        tree = ast.parse("if 1:\n" + src if shift else src)
    except SyntaxError:
        return src
    docs = [
        node.body[0]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and ast.get_docstring(node, clean=False) is not None
    ]
    # ast columns are UTF-8 byte offsets
    lines = [ln.encode("utf-8") for ln in src.splitlines(keepends=True)]
    for d in sorted(docs, key=lambda d: d.lineno, reverse=True):
        first, last = d.lineno - 1 - shift, d.end_lineno - 1 - shift
        cut = lines[first][: d.col_offset] + lines[last][d.end_col_offset :]
        lines[first : last + 1] = [cut] if cut.strip() else []
    return b"".join(lines).decode("utf-8")


def _fn_source(fn) -> str:
    try:
        return _strip_docstrings(inspect.getsource(fn))
    except (OSError, TypeError):
        # stable fallback — repr() embeds a memory address and would
        # make the hash differ between processes
        return f"<no-source {getattr(fn, '__module__', '?')}." \
               f"{getattr(fn, '__qualname__', '?')}>"


# ---------------------------------------------------------------------------
# Scheme 2: function-granularity reference walk
# ---------------------------------------------------------------------------


def _internal_module_of(obj) -> str:
    """The package-internal defining module of an object, or ''."""
    mod = getattr(obj, "__module__", None)
    if isinstance(mod, str) and (
        mod == _PKG_NAME or mod.startswith(_PKG_NAME + ".")
    ):
        return mod
    return ""


def _unwrap_callable(obj):
    """Underlying plain FunctionType behind common wrappers —
    ``functools.wraps``/``lru_cache`` (``__wrapped__``),
    ``functools.partial`` / Spark ``UserDefinedFunction`` (``.func``),
    static/class methods, properties — or None when there isn't one."""
    for _ in range(8):
        if obj is None:
            return None
        if isinstance(obj, types.FunctionType):
            return obj
        if isinstance(obj, (staticmethod, classmethod)):
            obj = obj.__func__
            continue
        if isinstance(obj, types.MethodType):
            # bound method (e.g. a module-level alias `get = reg.get`):
            # hash the underlying function's source, not the
            # constant '<no-source builtins.method>' placeholder the
            # instance branch would emit (r12 review)
            obj = obj.__func__
            continue
        if isinstance(obj, property):
            obj = obj.fget
            continue
        nxt = getattr(obj, "__wrapped__", None)
        if nxt is None:
            nxt = getattr(obj, "func", None)
        if nxt is None or nxt is obj:
            return None
        obj = nxt
    return None


_REPR_CAP = 2048


def _stable_repr(obj, depth: int = 0) -> str:
    """Deterministic-across-processes repr for plain data values.
    Sets and dicts are emitted in sorted order because string hash
    randomization (PYTHONHASHSEED) makes their native iteration order
    differ per process; anything whose repr embeds a memory address is
    collapsed to a type marker (constant, so no false drift)."""
    if depth > 4:
        return "<depth>"
    if isinstance(obj, (str, bytes, int, float, bool, type(None))):
        return repr(obj)
    if isinstance(obj, (list, tuple)):
        inner = ",".join(_stable_repr(x, depth + 1) for x in obj[:256])
        if len(obj) > 256:
            inner += f",<+{len(obj) - 256}>"
        return ("[%s]" if isinstance(obj, list) else "(%s)") % inner
    if isinstance(obj, (set, frozenset)):
        return "{%s}" % ",".join(
            sorted(_stable_repr(x, depth + 1) for x in obj)
        )
    if isinstance(obj, dict):
        items = sorted(
            (_stable_repr(k, depth + 1), _stable_repr(v, depth + 1))
            for k, v in obj.items()
        )
        return "{%s}" % ",".join(f"{k}:{v}" for k, v in items)
    try:
        r = repr(obj)
    except Exception:  # noqa: BLE001 — a repr that raises is still constant
        r = "<unreprable>"
    if " at 0x" in r:
        return f"<unstable {type(obj).__qualname__}>"
    return r


@lru_cache(maxsize=512)
def _non_init_self_assigned(cls: type) -> frozenset:
    """Attribute names assigned as ``self.X = …`` (plain, augmented or
    annotated assignment), via ``setattr(self, …)`` /
    ``__setattr__`` calls, or through ``self.__dict__[…] = …``
    anywhere OUTSIDE ``__init__`` across the class's internal MRO —
    the signature of lazily-populated state. An
    underscore scalar with such an assignment site is excluded from
    the instance-state hash: its value depends on which methods have
    run before the hash is computed (first touch, possibly after
    queries executed), so including it would be cross-process drift,
    not configured state (r14 review of the r14-advice widening). A
    class whose source is unavailable returns the conservative
    everything-mutated sentinel, restoring the old skip-all behavior
    for its underscore attrs."""
    names: set[str] = set()
    for klass in cls.__mro__:
        if klass is object or not _internal_module_of(klass):
            continue
        try:
            src = textwrap.dedent(inspect.getsource(klass))
        except Exception:  # noqa: BLE001 — no source: be conservative
            return frozenset({"*"})
        names |= _mutation_sites_in_source(src)
    return frozenset(names)


def _mutation_sites_in_source(src: str) -> set[str]:
    """The self-attribute mutation sites in ONE class's source text
    (the per-class scan behind ``_non_init_self_assigned``, separated
    so the detection logic is testable without a retrievable-source
    class). Unparsable source gets the "*" sentinel."""
    names: set[str] = set()
    try:
        tree = ast.parse(src)
    except Exception:  # noqa: BLE001 — e.g. RecursionError on
        # pathologically nested source: degrade to the skip-all
        # sentinel like the getsource handler above, never crash the
        # hash computation (r15 advice)
        return {"*"}
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ) or node.name == "__init__":
            continue
        args = node.args.posonlyargs + node.args.args
        if not args:
            continue
        self_name = args[0].arg
        for stmt in ast.walk(node):
            targets = []
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, (ast.AugAssign, ast.AnnAssign)):
                targets = [stmt.target]
            for t in targets:
                if (
                    isinstance(t, ast.Attribute)
                    and isinstance(t.value, ast.Name)
                    and t.value.id == self_name
                ):
                    names.add(t.attr)
                elif (
                    # self.__dict__["x"] = … (r15 advice: dynamic
                    # mutation sites escaped the literal-target scan)
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Attribute)
                    and t.value.attr == "__dict__"
                    and isinstance(t.value.value, ast.Name)
                    and t.value.value.id == self_name
                ):
                    names.add(_const_str_or_star(t.slice))
            # setattr(self, "x", v) / object.__setattr__(self, …) /
            # self.__setattr__("x", v) / super().__setattr__("x", v):
            # Call-shaped mutation sites (r15 advice, super() added
            # r16). A non-constant attribute name falls back to the
            # "*" skip-all sentinel — conservative, never drift.
            if isinstance(stmt, ast.Call):
                fn, a = stmt.func, stmt.args
                if (
                    isinstance(fn, ast.Name)
                    and fn.id == "setattr"
                    and a
                    and isinstance(a[0], ast.Name)
                    and a[0].id == self_name
                ):
                    names.add(_const_str_or_star(a[1] if len(a) > 1 else None))
                elif isinstance(fn, ast.Attribute) and fn.attr == "__setattr__":
                    if (
                        isinstance(fn.value, ast.Name)
                        and fn.value.id == self_name
                    ):  # self.__setattr__("x", v)
                        names.add(_const_str_or_star(a[0] if a else None))
                    elif (
                        # super().__setattr__("x", v): fn.value is a
                        # CALL, not a Name — zero-arg super binds self
                        # implicitly, so the attribute is a[0]
                        # (r15 advice: this shape matched neither
                        # Name branch and escaped the scan)
                        isinstance(fn.value, ast.Call)
                        and isinstance(fn.value.func, ast.Name)
                        and fn.value.func.id == "super"
                    ):
                        names.add(_const_str_or_star(a[0] if a else None))
                    elif (
                        a
                        and isinstance(a[0], ast.Name)
                        and a[0].id == self_name
                    ):  # object.__setattr__(self, "x", v)
                        names.add(
                            _const_str_or_star(a[1] if len(a) > 1 else None)
                        )
    return frozenset(names)


def _const_str_or_star(node) -> str:
    """A constant-string AST node's value, else the "*" everything-
    mutated sentinel (dynamic attribute names can't be tracked)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "*"


def _immutable_scalar(v, depth: int = 0) -> bool:
    """True for values that cannot mutate in place: the underscore-
    attribute inclusion gate (see push_obj). A mutable container held
    in a "_attr" is the lazy-cache convention — its CONTENTS change as
    the process runs, so hashing it would make the hash depend on when
    it is computed; an immutable scalar can only change by explicit
    reassignment, which is configured state the drift guard should
    see."""
    if isinstance(v, (str, bytes, int, float, bool, type(None))):
        return True
    if depth < 4 and isinstance(v, (tuple, frozenset)):
        return all(_immutable_scalar(x, depth + 1) for x in v)
    return False


def _const_repr(obj) -> str:
    r = _stable_repr(obj)
    if len(r) > _REPR_CAP:
        r = f"md5:{hashlib.md5(r.encode('utf-8', 'replace')).hexdigest()}"
    return r


def _local_imports(fn, src: str) -> list[tuple[str, str | None]]:
    """Package-internal import statements INSIDE a function body, as
    ``(base_module, imported_name_or_None)`` pairs. ``from ..x import
    y`` yields ('pkg.x', 'y') so the walk can resolve ``y`` to the
    actual object; bare ``import pkg.x`` yields ('pkg.x', None)."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return []
    mod = getattr(fn, "__module__", "") or ""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.extend(
                (a.name, None)
                for a in node.names
                if a.name == _PKG_NAME or a.name.startswith(_PKG_NAME + ".")
            )
        elif isinstance(node, ast.ImportFrom):
            base = _import_from_base(mod, False, node)
            if base is not None:
                out.extend((base, a.name) for a in node.names)
    return out


def query_content_parts(fn, oracle: str | None) -> dict:
    """The scheme-2 hash inputs, separated for tests and tooling:
    {'functions': {qualkey: source}, 'constants': {key: stable_repr},
    'files': {module: md5}, 'oracle': str}. ``query_content_hash`` is a
    deterministic digest of exactly this structure, so asserting on the
    parts (e.g. "editing char_entropy_col requeues q_llm_char_entropy
    but not q_llm_bm25_search") is asserting on the hash."""
    own_module = getattr(fn, "__module__", "") or ""
    functions: dict[str, str] = {}
    constants: dict[str, str] = {}
    file_mods: set[str] = set()
    seen: set[str] = set()
    stack = [fn]

    def push_class(cls: type) -> None:
        key = f"{getattr(cls, '__module__', '?')}.{getattr(cls, '__qualname__', '?')}"
        if key in seen:
            return
        seen.add(key)
        functions[key] = _fn_source(cls)
        for v in vars(cls).values():
            f = _unwrap_callable(v)
            if f is not None and _internal_module_of(f):
                stack.append(f)
        for b in cls.__bases__:
            if b is not object and _internal_module_of(b):
                push_class(b)

    def push_obj(key: str, obj) -> None:
        if isinstance(obj, types.ModuleType):
            m = getattr(obj, "__name__", "")
            if m == _PKG_NAME or m.startswith(_PKG_NAME + "."):
                file_mods.add(m)  # module-as-module: file-level fallback
            return
        f = _unwrap_callable(obj)
        if f is not None:
            if _internal_module_of(f):
                stack.append(f)
            return
        if isinstance(obj, type):
            if _internal_module_of(obj):
                push_class(obj)
            return
        mod = _internal_module_of(obj)
        if mod:
            # module-level instance of an internal class (a singleton
            # registry, say): its behavior is its class's code PLUS its
            # configured state — hashing only the class left constructor
            # args / registered entries invisible (r12 review; the same
            # blind spot scheme 2 closed for plain dict/list constants).
            # _stable_repr collapses address-bearing nested reprs to a
            # constant marker, so this can't introduce false drift.
            # Underscore-prefixed attributes contribute ONLY when their
            # value is an immutable scalar (str/bytes/int/float/bool/
            # None, or tuple/frozenset of those) — r14 advice: skipping
            # ALL "_attrs" by name left the drift guard blind to
            # behavior-relevant configured state kept private (a common
            # convention, not only caches), but mutable containers stay
            # skipped because they ARE the lazy-cache convention and
            # hashing one makes the hash depend on when in the process
            # it is computed (the hash is computed on first touch,
            # possibly after queries have run — r12 advice). __slots__
            # instances (no __dict__) contribute their slot values the
            # same way, with slots collected across the MRO: reading
            # only type(obj).__slots__ missed slots declared on base
            # classes (r14 advice).
            push_class(type(obj))
            # merge __dict__ AND MRO-collected slot values: a slotted
            # class inheriting from a slot-less base gives instances a
            # __dict__ too, and the old either/or read dropped the slot
            # state exactly there (r14 review of the r14-advice fix).
            # '__dict__'/'__weakref__' slot names are structural, not
            # state ('__weakref__' flips None -> weakref mid-process).
            inst_dict = getattr(obj, "__dict__", None)
            inst = dict(inst_dict) if isinstance(inst_dict, dict) else {}
            for klass in type(obj).__mro__:
                slots = vars(klass).get("__slots__", ()) or ()
                if isinstance(slots, str):
                    slots = (slots,)
                for s in slots:
                    if (
                        isinstance(s, str)
                        and s not in ("__dict__", "__weakref__")
                        and s not in inst
                        and hasattr(obj, s)
                    ):
                        inst[s] = getattr(obj, s)
            mutated = _non_init_self_assigned(type(obj))
            lazily = "*" in mutated
            stable = {
                k: v
                for k, v in inst.items()
                if isinstance(k, str)
                and (
                    not k.startswith("_")
                    or (
                        _immutable_scalar(v)
                        and not lazily
                        and k not in mutated
                    )
                )
            }
            if stable:
                constants[key] = _const_repr(stable)
            return
        constants[key] = _const_repr(obj)

    while stack:
        f = stack.pop()
        key = f"{getattr(f, '__module__', '?')}.{getattr(f, '__qualname__', '?')}"
        if key in seen:
            continue
        seen.add(key)
        src = _fn_source(f)
        functions[key] = src
        for base, name in _local_imports(f, src):
            if name is None:
                file_mods.add(base)
                continue
            sub = f"{base}.{name}"
            if _module_file(sub):
                file_mods.add(sub)  # `from . import textops` style
                continue
            try:
                obj = getattr(importlib.import_module(base), name)
            except Exception:  # noqa: BLE001 — unresolvable: be coarse
                file_mods.add(base)
                continue
            push_obj(f"{base}:{name}", obj)
        code = getattr(f, "__code__", None)
        g = getattr(f, "__globals__", None)
        if code is None or g is None:
            continue
        fmod = getattr(f, "__module__", "") or ""
        for name in sorted(_code_names(code)):
            if name not in g:
                continue  # builtin, local, or attribute name
            push_obj(f"{fmod}:{name}", g[name])

    closure: set[str] = set()
    for m in file_mods:
        closure |= _module_closure(m)
    closure.discard(own_module)
    return {
        "functions": functions,
        "constants": constants,
        "files": {m: _module_file_hash(m) for m in sorted(closure)},
        "oracle": oracle or "",
    }


def query_content_hash(fn, oracle: str | None) -> str:
    """Stable md5 over everything that determines a registered query's
    plan — scheme 2: transitive function sources (cross-module, at
    function granularity), referenced plain-value constants, the oracle
    SQL, and file-level md5s only for walk-unresolvable module
    references."""
    p = query_content_parts(fn, oracle)
    buf = [f"# {k}\n{p['functions'][k]}" for k in sorted(p["functions"])]
    buf.extend(
        f"\x00const\x00{k}={p['constants'][k]}" for k in sorted(p["constants"])
    )
    buf.append("\x00oracle\x00" + p["oracle"])
    buf.extend(f"{m}={h}" for m, h in sorted(p["files"].items()))
    return hashlib.md5("\n".join(buf).encode("utf-8", "replace")).hexdigest()
