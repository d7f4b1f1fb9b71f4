"""Every top-level definition in the package is reached from production
code, not only from tests.

The scan is by name. The roots are the entry points outside the package
(`__spark_entry__.py`, `bench.py`, `scale_check.py`, `tools/`,
`perfbench/`) and the package's `__init__`/`__main__`. A package module is
loaded when reached code imports it; its top-level code (imports,
constants, decorators) is then reached, and so is every definition it
decorates (a registering decorator makes it reachable by string). A
definition in a loaded module is reached when its name is; it adds every
name, attribute, imported alias and identifier-shaped string in its body.
The scan repeats until nothing new is reached. Names are not qualified by
module, so a collision can only keep a definition alive, never flag a
reached one.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "prueba_tecnica_http_client_etl_spark"
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "scale_check.py", "tools", "perfbench"]

# Reached only from tests and kept on purpose: "module:name" -> reason.
EXCEPTIONS = {
    "plans.pipeline:run": "the reference's staged bronze/silver/gold ETL shape",
    "plans.pipeline:PipelineManifest": "what plans.pipeline.run returns",
    "plans.layout:write_layer": "the staged ETL's layer writer (plans.pipeline)",
    "plans.layout:read_layer": "the staged ETL's layer reader (plans.pipeline)",
    "sources.files:validate_jsonl_lines": "validation of JSONL input from outside",
    "sources.files:split_corrupt": "quarantine of malformed input rows",
    "sources.files:read_log_jsonl_strict_parity": "strict-mode validation of JSONL input",
    "streaming.kpi_stream:run_with_quarantine": "quarantine of malformed rows in a stream",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modules():
    """dotted module name -> (its package for relative imports, AST body)."""
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = (PKG, *path.relative_to(ROOT / PKG).with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        name = ".".join(parts[:-1] if is_pkg else parts)
        out[name] = (name if is_pkg else name.rsplit(".", 1)[0], ast.parse(path.read_text()).body)
    return out


def _refs(nodes, package, modules):
    """(names, package modules imported) anywhere in `nodes`."""
    names, mods = set(), set()
    for n in (w for node in nodes for w in ast.walk(node)):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            names.add(n.value)
        elif isinstance(n, ast.Import):
            names |= {a.name.rsplit(".", 1)[-1] for a in n.names}
            mods |= {a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                up = package.split(".")[: package.count(".") + 2 - n.level]
                base = ".".join(up + ([n.module] if n.module else []))
            names |= {a.name for a in n.names}
            mods |= {base} | {f"{base}.{a.name}" for a in n.names}
    parents = {m.rsplit(".", i)[0] for m in mods for i in range(m.count(".") + 1)}
    return names, (mods | parents) & modules.keys()


def unreached():
    """Top-level package definitions that production code never reaches,
    as sorted "module:name" strings."""
    modules = _modules()
    entries = []
    for e in ENTRY_POINTS:
        entries += [ROOT / e] if (ROOT / e).is_file() else sorted((ROOT / e).rglob("*.py"))
    names, loaded = _refs([ast.parse(p.read_text()) for p in entries], "", modules)
    loaded |= {PKG, f"{PKG}.__main__"}
    seen, live = set(), set()
    while True:
        todo = []
        for mod in loaded - seen:
            seen.add(mod)
            package, body = modules[mod]
            top = [s for s in body if not isinstance(s, _DEFS)]
            todo.append((package, top + [d for s in body if isinstance(s, _DEFS) for d in s.decorator_list]))
        for mod in seen:
            package, body = modules[mod]
            for s in body:
                if isinstance(s, _DEFS) and (mod, s.name) not in live and (s.decorator_list or s.name in names):
                    live.add((mod, s.name))
                    todo.append((package, [s]))
        if not todo:
            break
        for package, nodes in todo:
            n, m = _refs(nodes, package, modules)
            names |= n
            loaded |= m
    return sorted(
        f"{mod.removeprefix(PKG + '.')}:{s.name}"
        for mod, (_, body) in modules.items()
        for s in body
        if isinstance(s, _DEFS) and (mod, s.name) not in live
    )


def test_every_package_definition_is_reached_from_production():
    found = set(unreached())
    stray = sorted(found - EXCEPTIONS.keys())
    assert not stray, (
        "reached only from tests (or from nothing); delete them with their "
        "tests, or show that a registered query needs them:\n  " + "\n  ".join(stray)
    )
    stale = sorted(EXCEPTIONS.keys() - found)
    assert not stale, f"now reached from production, drop from EXCEPTIONS: {stale}"
