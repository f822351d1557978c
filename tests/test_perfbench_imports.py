"""Every name the benchmark kit (perfbench/) imports from the package or
the test oracle still exists.

perfbench/ imports those names inside functions, so a deleted or
renamed name would otherwise fail only in a traced benchmark run. The
files are parsed, not imported: the check needs no Spark session.
"""

import ast
import importlib
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"
PACKAGES = ("spark_relieffc_fselection_spark", "tests.oracle_relief")


def _ours(module: str) -> bool:
    return any(module == p or module.startswith(p + ".") for p in PACKAGES)


def _imports() -> list[tuple[str, str, str | None]]:
    """(file, module, imported name or None) for every import of ours."""
    found = []
    for path in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.module and _ours(node.module):
                found += [(path.name, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [(path.name, a.name, None) for a in node.names if _ours(a.name)]
    return found


def test_perfbench_imports_resolve():
    found = _imports()
    files = {f for f, _, _ in found}
    assert {"layers.py", "checks.py"} <= files, files
    missing = []
    for fname, module, name in found:
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{fname}: {module} ({e})")
            continue
        if name is not None and not hasattr(mod, name):
            missing.append(f"{fname}: {module}.{name}")
    assert not missing, missing
