"""Every name the benchmark kit (perfbench/), the measurement scripts
(scripts/) and the driver contract (__spark_entry__.py) import from the
package or the test oracle still exists.

Those files import such names inside functions, so a deleted or
renamed name would otherwise fail only in a traced benchmark, a smoke
or a bench run. The files are parsed, not imported: the check needs no
Spark session.
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PERFBENCH = ROOT / "perfbench"
PACKAGES = ("spark_relieffc_fselection_spark", "tests.oracle_relief")


def _ours(module: str) -> bool:
    return any(module == p or module.startswith(p + ".") for p in PACKAGES)


def _imports(paths) -> list[tuple[str, str, str | None]]:
    """(file, module, imported name or None) for every import of ours."""
    found = []
    for path in sorted(paths):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.module and _ours(node.module):
                found += [(path.name, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [(path.name, a.name, None) for a in node.names if _ours(a.name)]
    return found


def _missing(found) -> list[str]:
    missing = []
    for fname, module, name in found:
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{fname}: {module} ({e})")
            continue
        if name is not None and not hasattr(mod, name):
            missing.append(f"{fname}: {module}.{name}")
    return missing


def test_perfbench_imports_resolve():
    found = _imports(PERFBENCH.glob("*.py"))
    files = {f for f, _, _ in found}
    assert {"layers.py", "checks.py"} <= files, files
    missing = _missing(found)
    assert not missing, missing


def test_script_and_entry_imports_resolve():
    found = _imports([*(ROOT / "scripts").glob("*.py"), ROOT / "__spark_entry__.py"])
    files = {f for f, _, _ in found}
    assert {"__spark_entry__.py", "scale_smoke.py", "heavy_bench.py"} <= files, files
    missing = _missing(found)
    assert not missing, missing
