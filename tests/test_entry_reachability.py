"""Every package module and top-level function or class is reachable from
an entry point: the driver contract (``__spark_entry__.py``), the job
(``jobs/``), ``tools/`` or ``perfbench/``.

The walk is static (``ast``), so comments and strings never count. It starts
from every statement of the entry files. A package module is reached when
reached code imports it, and then its module-level statements are reached.
A top-level ``def`` or ``class`` is reached when reached code imports it by
name, names it inside its own module, or reads an attribute of that name;
then its body is reached too. Imports inside functions count like any other
import, but only once their function is reached. Code that only tests reach
is either wired into an entry point or deleted; ``KEPT`` names the few test
references and measuring tools that stay on purpose.

The same holds one level down, for options: every defaulted parameter of
a module-level ``def`` in the package must be passed by some call in the
package, the entry points or ``tests/``.  An option no call sets is a
constant in disguise; ``KEPT_OPTIONS`` names the ones that stay anyway.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "src_to_kb_spark"

# Top-level functions that no entry point calls but a test needs, and why.
KEPT = {
    f"{PKG}.sources.pages.synthetic_pages": "test data generator",
    f"{PKG}.operators.dedup.shingle_hashes_py": "Python reference of the shingle-hash expression",
    f"{PKG}.operators.dedup.simhash_py": "Python twin of the SimHash UDF",
    f"{PKG}.operators.similarity.ivf_assign": "Python twin of the IVF list assignment",
    f"{PKG}.operators.linking.link_mentions_windowed": "window-plan twin of the linker",
    f"{PKG}.operators.mentions.detect_mentions_exploded": "explode-plan twin of mention detection",
    f"{PKG}.operators.mentions.tokenize": "token rows of the explode-plan twin",
    f"{PKG}.runtime.skew.host_distribution": "the skew test's measurement",
}


# Defaulted parameters that no call passes but stay on purpose, and why.
KEPT_OPTIONS: dict[str, str] = {}


def _entry_files():
    yield ROOT / "__spark_entry__.py"
    for d in ("jobs", "tools", "perfbench"):
        yield from sorted((ROOT / d).glob("*.py"))


def _package_modules():
    mods = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _resolve(node, module, is_pkg):
    """Absolute module name of an ``ImportFrom`` inside ``module``."""
    if not node.level:
        return node.module
    base = module.split(".")
    base = base[: len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _walk(mods):
    trees = {m: ast.parse(p.read_text()) for m, p in mods.items()}
    is_pkg = {m: p.name == "__init__.py" for m, p in mods.items()}
    defs, bound = {}, {}
    for m, t in trees.items():
        for n in t.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(m, n.name)] = n
            elif isinstance(n, ast.ImportFrom):
                # A module-level import binds a name; it reaches its source
                # only when reached code in the module uses that name.
                src = _resolve(n, m, is_pkg[m])
                for a in n.names:
                    bound[(m, a.asname or a.name)] = (src, a.name)
    top_imports = {id(n) for t in trees.values() for n in t.body if isinstance(n, ast.ImportFrom)}
    names = {}  # identifier -> package-level defs of that name
    for m, n in defs:
        names.setdefault(n, set()).add((m, n))
    seen_mods, seen_defs, seen_bound, attrs = set(), set(), set(), set()
    todo = [("__entry__", ast.parse(p.read_text())) for p in _entry_files()]

    def reach_mod(name):
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in trees and m not in seen_mods:
                seen_mods.add(m)
                top = [n for n in trees[m].body if (m, getattr(n, "name", None)) not in defs]
                todo.append((m, ast.Module(body=top, type_ignores=[])))

    def reach_def(key):
        if key in bound:
            if key not in seen_bound:
                seen_bound.add(key)
                reach_def(bound[key])
        elif key in defs and key not in seen_defs:
            seen_defs.add(key)
            todo.append((key[0], defs[key]))

    while todo:
        module, tree = todo.pop()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    reach_mod(a.name)
            elif isinstance(node, ast.ImportFrom):
                src = _resolve(node, module, is_pkg.get(module, False))
                reach_mod(src)
                for a in node.names:
                    reach_mod(f"{src}.{a.name}")
                    if id(node) not in top_imports:
                        reach_def((src, a.name))
            elif isinstance(node, ast.Name) and module in trees:
                reach_def((module, node.id))
            elif isinstance(node, ast.Attribute) and node.attr not in attrs:
                attrs.add(node.attr)
                for key in names.get(node.attr, ()):
                    reach_def(key)
    return seen_mods, seen_defs, defs


def test_every_module_and_definition_is_reached_from_an_entry_point():
    mods = _package_modules()
    seen_mods, seen_defs, defs = _walk(mods)
    qualified = {f"{m}.{n}" for m, n in defs}
    reached = {f"{m}.{n}" for m, n in seen_defs}
    unreached_mods = sorted(set(mods) - seen_mods)
    unreached_defs = sorted(qualified - reached - set(KEPT))
    assert not unreached_mods and not unreached_defs, (
        f"modules no entry point imports: {unreached_mods}; "
        f"definitions no entry point reaches: {unreached_defs}"
    )
    # the allowlist names only existing definitions that still need it
    assert set(KEPT) <= qualified - reached, sorted(set(KEPT) - (qualified - reached))


# ------------------------------ options -----------------------------------

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _own_nodes(scope):
    """The nodes of ``scope``, not descending into nested functions."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, _SCOPES):
            todo.extend(ast.iter_child_nodes(n))


def _dict_keys(node, bound):
    """The keys a ``**node`` argument passes, or None when the walk
    cannot tell: a dict literal, ``dict(k=...)``, or a name bound to
    either in the same function."""
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) for k in node.keys
    ):
        return {k.value for k in node.keys}
    if (
        isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
        and node.func.id == "dict" and not node.args
        and all(k.arg for k in node.keywords)
    ):
        return {k.arg for k in node.keywords}
    if isinstance(node, ast.Name):
        return bound.get(node.id)
    return None


def _passed_options(files):
    """callee name -> what its calls pass: positional indexes, keyword
    names, ``"*"`` (every position) and ``"**"`` (every keyword)."""
    passed = {}
    for path in files:
        tree = ast.parse(path.read_text())
        alias = {
            a.asname: a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) for a in n.names if a.asname
        }
        scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, _SCOPES)]
        for scope in scopes:
            nodes = list(_own_nodes(scope))
            bound = {}
            for n in nodes:
                if (
                    isinstance(n, ast.Assign) and len(n.targets) == 1
                    and isinstance(n.targets[0], ast.Name)
                ):
                    # a name bound twice passes the keys of both
                    name, keys = n.targets[0].id, _dict_keys(n.value, {})
                    prev = bound.get(name, set())
                    bound[name] = None if keys is None or prev is None else prev | keys
            for n in nodes:
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                got = passed.setdefault(alias.get(name, name), set())
                for i, a in enumerate(n.args):
                    got.add("*" if isinstance(a, ast.Starred) else i)
                for k in n.keywords:
                    keys = {k.arg} if k.arg else _dict_keys(k.value, bound)
                    got.update({"**"} if keys is None else keys)
    return passed


def _defaulted(fn):
    """(positional parameter names, names of the defaulted ones)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    return pos, pos[len(pos) - len(a.defaults):] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def test_every_option_is_passed_by_some_call():
    mods = _package_modules()
    files = [*mods.values(), *_entry_files(), *sorted((ROOT / "tests").glob("*.py"))]
    passed = _passed_options(files)
    unset = set()
    for m, path in mods.items():
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos, defaulted = _defaulted(fn)
            got = passed.get(fn.name, set())
            unset |= {
                f"{m}.{fn.name}({p})" for p in defaulted
                if p not in got and "**" not in got
                and not (p in pos and (pos.index(p) in got or "*" in got))
            }
    assert not unset - set(KEPT_OPTIONS), (
        f"options no call passes: {sorted(unset - set(KEPT_OPTIONS))}"
    )
    # the allowlist names only options that exist and still need it
    assert set(KEPT_OPTIONS) <= unset, sorted(set(KEPT_OPTIONS) - unset)
