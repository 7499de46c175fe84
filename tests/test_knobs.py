"""README's "Environment knobs" table must match the code, knob values
are validated, every package definition has a caller and every option a
setter (no Spark).

Every ``SPARK_*`` environment variable the package reads has a row, and
every variable a row names is read somewhere in the package,
``bench.py`` or ``tools/`` — so a retired knob cannot linger in the docs
and a new one cannot ship undocumented. Likewise every top-level
definition and method in the package is reached from a checked path,
and every parameter or dataclass field with a default is set by a call
on one, or has a row in README's "Kept without a pipeline caller"
table."""

from __future__ import annotations

import ast
import fnmatch
import os
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dropbox_duckdb_playground_spark"

_READ = re.compile(
    r"""(?:os\.environ\.get|os\.getenv|os\.environ\.setdefault)\(\s*["'](SPARK_[A-Z0-9_]+)["']"""
    r"""|os\.environ\[\s*["'](SPARK_[A-Z0-9_]+)["']\s*\]"""
)


def _reads(files) -> set[str]:
    names: set[str] = set()
    for f in files:
        for m in _READ.finditer(f.read_text(encoding="utf-8")):
            names.add(m.group(1) or m.group(2))
    return names


def _readme_table(marker: str, pattern: str) -> list[str]:
    """Backticked names matching ``pattern`` in the first column of the
    first README table after ``marker``."""
    section = (REPO / "README.md").read_text(encoding="utf-8").split(marker, 1)[1]
    names: list[str] = []
    for line in section.splitlines()[1:]:
        if names and not line.startswith("|"):
            break
        if line.startswith("|"):
            names += re.findall(rf"`({pattern})`", line.split("|")[1])
    return names


def _table_names() -> list[str]:
    return _readme_table("Environment knobs", r"SPARK_[A-Z0-9_]+\*?")


def test_package_env_reads_are_documented():
    table = _table_names()
    read = _reads(PACKAGE.rglob("*.py"))
    assert read, "scanner found no SPARK_* reads in the package"
    missing = sorted(
        n for n in read if not any(fnmatch.fnmatchcase(n, t) for t in table)
    )
    assert not missing, f"read in the package but not in README: {missing}"


def test_documented_knobs_are_read():
    files = [*PACKAGE.rglob("*.py"), REPO / "bench.py", *(REPO / "tools").glob("*.py")]
    read = _reads(files)
    stale = [t for t in _table_names() if not fnmatch.filter(read, t)]
    assert not stale, f"README knob rows nothing reads: {stale}"


def test_spark_cpus_defaults_to_host_and_rejects_bad_values(monkeypatch):
    """Checked before any session starts, so a bad value fails fast with
    the variable's name instead of int()'s bare message."""
    from dropbox_duckdb_playground_spark.session import get_spark, spark_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3
    for bad in ("four", "0", "-2", "", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            spark_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-knob")


def test_driver_mem_defaults_to_half_the_host_and_rejects_bad_values(monkeypatch):
    """The default fits the host instead of a fixed 48g, and a malformed
    value fails with the variable's name before the JVM sees it."""
    from dropbox_duckdb_playground_spark.session import driver_mem

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    assert driver_mem() == f"{min(48 * 1024, half_mb)}m"
    for good in ("2048m", "4g", "4G", "4gb", "1Tb", "512", "900k"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", good)
        assert driver_mem() == good
    for bad in ("lots", "", "2.5g", "-1g", "4 g", "4gib", "g", "4x"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", bad)
        with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
            driver_mem()


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _modname(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Module:
    """A file's top-level definitions (functions, classes, assigned
    names) and what each imported name refers to: ``(module, None)`` for
    a module, ``(module, name)`` for a name in one."""

    def __init__(self, path: Path):
        self.name = _modname(path)
        self.tree = ast.parse(path.read_text(encoding="utf-8"))
        self.defs: dict[str, ast.AST] = {}
        self.loose: list[ast.AST] = []
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for n in (n for t in targets for n in ast.walk(t)):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        self.defs[n.id] = node
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.loose.append(node)
        self.methods: dict[str, list[ast.AST]] = {
            name: [s for s in node.body if isinstance(s, _FUNCS)]
            for name, node in self.defs.items()
            if isinstance(node, ast.ClassDef)
        }
        self.aliases: dict[str, tuple[str, str | None]] = {}
        package = self.name.split(".")[: -1 if path.name != "__init__.py" else None]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    self.aliases[bound] = (a.name if a.asname else bound, None)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package[: len(package) - node.level + 1]
                    base = ".".join(up + ([base] if base else []))
                for a in node.names:
                    self.aliases[a.asname or a.name] = (base, a.name)


def _slot(e) -> str | None:
    """The variable an expression names: ``x``, or ``x["key"]`` for a
    constant key into a local dict."""
    if isinstance(e, ast.Name):
        return e.id
    if (
        isinstance(e, ast.Subscript)
        and isinstance(e.value, ast.Name)
        and isinstance(e.slice, ast.Constant)
    ):
        return f"{e.value.id}[{e.slice.value!r}]"
    return None


def _unpack(target, value):
    """(target, value) pairs of an assignment, tuples unpacked pairwise."""
    if not isinstance(target, ast.Tuple):
        yield target, value
    elif isinstance(value, ast.Tuple) and len(value.elts) == len(target.elts):
        for t, v in zip(target.elts, value.elts):
            yield from _unpack(t, v)


def _reach(kept: list[str]) -> tuple[set[str], set[str], list[ast.Call]]:
    """(every package definition and method, the ones a checked path
    reaches, the calls on those paths), names relative to the package
    (``module.name``, ``module.Class.method``). Roots: the registered
    catalog queries, ``bench.py``, ``__spark_entry__.py``, ``tools/``,
    ``examples/``, ``perfbench/`` outside its tests and the definitions
    README keeps. A reached definition reaches every package definition
    its code names, through imports and re-exports; a reached class
    reaches its dunder methods, and a kept one all its methods. Any
    other method is reached by an attribute read whose receiver
    resolves to its class, a base or a subclass: ``self`` or ``cls`` in
    the class's methods, the class, a call of it, or a name, constant
    dict key, parameter or field assigned or annotated with one of
    these. A read on any other receiver reaches no method, so a dead
    method named like a DataFrame method stays dead. All to a fixed
    point."""
    mods = {m.name: m for m in map(_Module, sorted(PACKAGE.rglob("*.py")))}

    def lookup(mod: str, name: str, hops: int = 0):
        if f"{mod}.{name}" in mods:
            return (f"{mod}.{name}", None)
        if mod not in mods or hops > 10:
            return None
        m = mods[mod]
        if name in m.defs:
            return (mod, name)
        target = m.aliases.get(name)
        if target and target[1] is not None:
            return lookup(*target, hops + 1)
        return target

    def resolve(ctx: _Module, n):
        """The package definition a name or dotted name denotes, else None."""
        attrs = []
        while isinstance(n, ast.Attribute):
            attrs.append(n.attr)
            n = n.value
        if not isinstance(n, ast.Name):
            return None
        if n.id in ctx.defs:
            hit = (ctx.name, n.id)
        else:
            hit = ctx.aliases.get(n.id)
            if hit and hit[1] is not None:
                hit = lookup(*hit)
        for attr in reversed(attrs):
            if hit is None or hit[1] is not None:
                return None
            hit = lookup(hit[0], attr)
        return hit if hit and hit[1] is not None else None

    classes = {(m.name, c): m for m in mods.values() for c in m.methods}
    bases = {
        k: {resolve(m, b) for b in m.defs[k[1]].bases} & classes.keys()
        for k, m in classes.items()
    }

    def closure(c, step) -> set:
        out, todo = {c}, [c]
        while todo:
            for j in step(todo.pop()) - out:
                out.add(j)
                todo.append(j)
        return out

    def family(c) -> set:
        """``c``, its package bases and its package subclasses."""
        return closure(c, bases.get) | closure(
            c, lambda k: {s for s, bs in bases.items() if k in bs}
        )

    def methods(receivers, name: str):
        for c in {k for r in receivers for k in family(r)}:
            for fn in classes[c].methods[c[1]]:
                if fn.name == name:
                    yield c, fn

    def annotated(ctx: _Module, ann) -> set:
        """The package classes an annotation names."""
        return {hit for n in ast.walk(ann) if (hit := resolve(ctx, n)) in classes}

    # a class's fields: the names its body annotates
    fields = {
        (mod, cls): {
            s.target.id: annotated(m, s.annotation)
            for s in m.defs[cls].body
            if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
        }
        for (mod, cls), m in classes.items()
    }

    def kinds(ctx: _Module, e, env: dict[str, set]) -> set:
        """The package classes expression ``e`` may be an instance of."""
        if _slot(e) in env:
            return env[_slot(e)]
        if isinstance(e, ast.Call):
            return kinds(ctx, e.func, env)
        if (hit := resolve(ctx, e)) in classes:
            return {hit}
        if isinstance(e, ast.Attribute):
            return {
                f for k in kinds(ctx, e.value, env) for j in family(k)
                for f in fields[j].get(e.attr, ())
            }
        return set()

    def scope(ctx: _Module, node, owner=None) -> dict[str, set]:
        """Flow-insensitive name -> classes for one function or module."""
        env: dict[str, set] = {}
        args = getattr(node, "args", None)
        if owner and args and not any(
            getattr(d, "id", "") == "staticmethod" for d in node.decorator_list
        ):
            env[(args.posonlyargs + args.args)[0].arg] = {owner}
        for n in ast.walk(node):
            if isinstance(n, ast.arg) and n.annotation is not None:
                env.setdefault(n.arg, set()).update(annotated(ctx, n.annotation))
        for n in ast.walk(node):
            if isinstance(n, ast.Assign):
                pairs = [(t, n.value) for t in n.targets]
            elif isinstance(n, ast.AnnAssign):
                pairs = [(n.target, n.value)]
                if isinstance(n.target, ast.Name):
                    env.setdefault(n.target.id, set()).update(annotated(ctx, n.annotation))
            elif isinstance(n, (ast.For, ast.comprehension)):
                pairs = [(n.target, n.iter)]
            else:
                continue
            for target, value in (q for t, v in pairs for q in _unpack(t, v)):
                if _slot(target) and value is not None:
                    env.setdefault(_slot(target), set()).update(kinds(ctx, value, env))
        return env

    calls: list[ast.Call] = []
    todo: list[tuple[str, str]] = []

    def visit(ctx: _Module, nodes, owner=None) -> None:
        for node in nodes:
            env = scope(ctx, node, owner)
            for n in ast.walk(node):
                if isinstance(n, ast.Attribute):
                    todo.extend(
                        (c[0], f"{c[1]}.{fn.name}")
                        for c, fn in methods(kinds(ctx, n.value, env), n.attr)
                    )
                elif isinstance(n, ast.Call):
                    calls.append(n)
                if (hit := resolve(ctx, n)) is not None:
                    todo.append(hit)

    roots = [
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *(REPO / "tools").glob("*.py"),
        *(REPO / "examples").glob("*.py"),
        *(p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.parts),
    ]
    for m in map(_Module, roots):
        visit(m, [m.tree])
    for m in mods.values():
        visit(m, m.loose)
    catalog = mods[f"{PACKAGE.name}.catalog"]
    todo += [
        (catalog.name, name)
        for name, node in catalog.defs.items()
        for d in getattr(node, "decorator_list", [])
        if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
    ]
    keep = {(f"{PACKAGE.name}.{k}".rsplit(".", 1)[0], k.rsplit(".", 1)[1]) for k in kept}
    todo += keep
    reached: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        m = mods.get(key[0])
        if key in reached or m is None:
            continue
        cls, _, name = key[1].partition(".")
        if name:
            fn = next((f for f in m.methods.get(cls, ()) if f.name == name), None)
            if fn is not None:
                reached.add(key)
                visit(m, [fn], (key[0], cls))
        elif cls in m.defs:
            reached.add(key)
            node = m.defs[cls]
            if isinstance(node, ast.ClassDef):
                body = [s for s in node.body if not isinstance(s, _FUNCS)]
                visit(m, [*node.decorator_list, *node.bases, *body])
                todo += [
                    (key[0], f"{cls}.{f.name}")
                    for f in m.methods[cls]
                    if _dunder(f.name) or key in keep
                ]
            else:
                visit(m, [node])
    prefix = len(PACKAGE.name) + 1
    every = {(m.name, d) for m in mods.values() for d in m.defs}
    every |= {
        (m.name, f"{cls}.{fn.name}")
        for m in mods.values()
        for cls, fns in m.methods.items()
        for fn in fns
        if not _dunder(fn.name)
    }
    return (
        {f"{mod[prefix:]}.{d}" for mod, d in every},
        {f"{mod[prefix:]}.{d}" for mod, d in reached},
        calls,
    )


def _options():
    """Every parameter (of a function or method) and dataclass field in
    the package that has a default: ``(name, callee names, position,
    keyword, default)``, where a call by one of the callee names sets it
    by passing a value other than ``default`` (an expression) by that
    keyword or as positional argument ``position`` (``None``: keyword
    only)."""

    def walk(node, qual: str, cls: ast.ClassDef | None = None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, _FUNCS):
                q = f"{qual}.{child.name}"
                bound = cls is not None and not any(
                    getattr(d, "id", "") == "staticmethod" for d in child.decorator_list
                )
                callee = (child.name,)
                if bound and child.name == "__init__":
                    callee = (cls.name, "__init__")
                a = child.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, (arg, default) in enumerate(zip(pos[first:], a.defaults), first):
                    yield f"{q}.{arg.arg}", callee, i - bound, arg.arg, default
                for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                    if default is not None:
                        yield f"{q}.{arg.arg}", callee, None, arg.arg, default
                yield from walk(child, q)
            elif isinstance(child, ast.ClassDef):
                q = f"{qual}.{child.name}"
                if any("dataclass" in ast.unparse(d) for d in child.decorator_list):
                    fields = [
                        s for s in child.body
                        if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
                        and "ClassVar" not in ast.unparse(s.annotation)
                        and "init=False" not in ast.unparse(s.value or s.annotation)
                    ]
                    for i, s in enumerate(fields):
                        if s.value is not None:
                            yield f"{q}.{s.target.id}", (child.name,), i, s.target.id, s.value
                yield from walk(child, q, child)
            else:
                yield from walk(child, qual, cls)

    prefix = len(PACKAGE.name) + 1
    for path in sorted(PACKAGE.rglob("*.py")):
        yield from walk(ast.parse(path.read_text(encoding="utf-8")), _modname(path)[prefix:])


def _unset(calls: list[ast.Call], kept: list[str]) -> tuple[int, list[str]]:
    """(how many options the package has, the ones no checked call sets
    and README does not keep)."""
    by_name: dict[str, list[ast.Call]] = {}
    for c in calls:
        name = getattr(c.func, "id", None) or getattr(c.func, "attr", None)
        by_name.setdefault(name, []).append(c)

    def other(value, default) -> bool:
        return ast.dump(value) != ast.dump(default)

    def sets(c: ast.Call, position, keyword, default) -> bool:
        if any(k.arg is None or (k.arg == keyword and other(k.value, default))
               for k in c.keywords):
            return True
        if position is None:
            return False
        if any(isinstance(a, ast.Starred) for a in c.args[: position + 1]):
            return True
        return len(c.args) > position and other(c.args[position], default)

    options = list(_options())
    unset = [
        name
        for name, callee, position, keyword, default in options
        if not any(
            sets(c, position, keyword, default) for n in callee for c in by_name.get(n, ())
        )
        and not any(name == k or name.startswith(k + ".") for k in kept)
    ]
    return len(options), unset


def _kept() -> list[str]:
    kept = _readme_table("Kept without a pipeline caller", r"[\w.]+")
    assert kept, "README has no 'Kept without a pipeline caller' rows"
    return kept


def test_every_package_definition_has_a_checked_caller():
    kept = _kept()
    every, reached, _ = _reach(kept)
    missing = sorted(
        n for n in every - reached if not any(n.startswith(k + ".") for k in kept)
    )
    assert not missing, f"no caller on a checked path and no README reason: {missing}"
    known = every | {name for name, *_ in _options()}
    undefined = [n for n in kept if n not in known]
    assert not undefined, f"README keeps names the package does not define: {undefined}"


def test_every_package_parameter_has_a_checked_setter():
    """With one value in use an option is a constant: every parameter or
    dataclass field with a default is set by some call on a checked path,
    or README says why it stays."""
    kept = _kept()
    total, unset = _unset(_reach(kept)[2], kept)
    assert total, "scanner found no optional parameters in the package"
    assert not unset, (
        f"{len(unset)} of {total} optional parameters have no checked setter "
        f"and no README reason: {unset}"
    )
