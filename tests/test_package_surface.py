"""Guard against regrowth: every package module is reachable from an entry
point through static imports.  A module that only pytest imports still
ships in the package zip to every executor."""

import ast
from pathlib import Path

PKG = "warc2text_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG
ENTRY_POINTS = ["cli", "__main__", "session", "plans.benchqueries"]

# unreached by design
ALLOWED_UNREACHED = {
    # the bucket-ledger batch runner documented in SCALE_DESIGN.md; no
    # entry point drives a resumable run yet
    "plans.checkpoint",
    # the oracle compare rules, shared by tests/ and
    # tools/rehearse_driver.py, which live outside the package
    "plans.parity",
}


def _modules() -> dict[str, Path]:
    """Dotted module name (relative to the package) -> source file."""
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _resolve(current: str, is_pkg: bool, node: ast.ImportFrom) -> str | None:
    """Package-relative module named by a ``from ... import``, or None when
    it lies outside the package."""
    if node.level == 0:
        mod = node.module or ""
        if mod != PKG and not mod.startswith(PKG + "."):
            return None
        return mod[len(PKG) + 1:]
    base = current.split(".") if current else []
    if not is_pkg:
        base = base[:-1]
    base = base[:len(base) - (node.level - 1)]
    if node.module:
        base += node.module.split(".")
    return ".".join(base)


def _imports(name: str, path: Path, modules: dict) -> set[str]:
    """Modules ``name`` imports anywhere in its body, function bodies too."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG + "."):
                    found.add(alias.name[len(PKG) + 1:])
        elif isinstance(node, ast.ImportFrom):
            mod = _resolve(name, is_pkg, node)
            if mod is None:
                continue
            found.add(mod)
            for alias in node.names:  # ``from pkg import submodule``
                sub = f"{mod}.{alias.name}" if mod else alias.name
                if sub in modules:
                    found.add(sub)
    # importing a module imports every package above it
    for mod in list(found):
        parts = mod.split(".")
        found.update(".".join(parts[:i]) for i in range(len(parts)))
    return found & set(modules)


def reached_modules() -> tuple[set[str], set[str]]:
    modules = _modules()
    seen, todo = set(), ["", *ENTRY_POINTS]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(mod, modules[mod], modules) - seen)
    return seen, set(modules)


def test_only_allowed_modules_are_unreached():
    reached, modules = reached_modules()
    assert modules - reached == ALLOWED_UNREACHED

