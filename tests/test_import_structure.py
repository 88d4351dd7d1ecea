"""Module structure of the package: the ANN quantizers have one owner
(operators/ann_index.py imports no other operator module but
`fragments`), the pin tables of multi-table artifacts have one writer
(sinks/manifest.py), and every `from clinical_search_data_pipeline_spark...
import X` in the package and the root scripts resolves — including imports
inside functions, which otherwise fail only when a rarely run path is
taken."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "clinical_search_data_pipeline_spark"


def test_ann_index_imports_neither_similarity_nor_clustering():
    code = (
        "import sys\n"
        f"import {PACKAGE}.operators.ann_index\n"
        "print(sorted(m for m in sys.modules if m.startswith("
        f"'{PACKAGE}.operators.')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = ast.literal_eval(out.strip().splitlines()[-1])
    assert f"{PACKAGE}.operators.ann_index" in loaded
    assert f"{PACKAGE}.operators.similarity" not in loaded, loaded
    assert f"{PACKAGE}.operators.clustering" not in loaded, loaded


def _package_imports():
    files = sorted((REPO / PACKAGE).rglob("*.py")) + sorted(REPO.glob("*.py"))
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.startswith(PACKAGE)
            ):
                for alias in node.names:
                    yield path.relative_to(REPO), node.lineno, node.module, alias.name


def test_every_package_import_resolves():
    missing = []
    for path, line, module, name in _package_imports():
        mod = importlib.import_module(module)
        submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
            f"{module}.{name}"
        )
        if not hasattr(mod, name) and not submodule:
            missing.append(f"{path}:{line}: from {module} import {name}")
    assert not missing, "\n".join(missing)


GATE_VERDICT_PRIMITIVES = {
    "batch_vs_corpus",
    "dsir_score",
    "span_contamination",
    "quality_score",
    "image_vs_corpus",
    "text_screen",
    "media_vs_corpus",
}


def test_only_the_gate_module_calls_gate_verdicts():
    """Each admission gate's verdict is written once, in
    operators/gates.py: no job or streaming module calls (or imports) a
    gate verdict primitive, so a second copy of a gate cannot come back
    unnoticed."""
    found = []
    for sub in ("jobs", "streaming"):
        for path in sorted((REPO / PACKAGE / sub).rglob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Call):
                    f = node.func
                    names = [getattr(f, "id", None) or getattr(f, "attr", None)]
                elif isinstance(node, ast.ImportFrom):
                    names = [a.name for a in node.names]
                for name in names:
                    if name in GATE_VERDICT_PRIMITIVES:
                        found.append(
                            f"{path.relative_to(REPO)}:{node.lineno}: {name}"
                        )
    assert not found, "\n".join(found)


def test_worker_daemon_imports_stay_light():
    """Every Python worker is forked from the engine's daemon, so importing
    its module loads neither pyspark.sql, pandas nor an engine operator."""
    code = (
        "import sys\n"
        f"import {PACKAGE}.pydaemon\n"
        "print(sorted(sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = ast.literal_eval(out.strip().splitlines()[-1])
    assert f"{PACKAGE}.pydaemon" in loaded
    heavy = [
        m
        for m in loaded
        if m in ("pyspark.sql", "pandas")
        or m.startswith(f"{PACKAGE}.operators")
    ]
    assert not heavy, heavy


def _names_in(node) -> list[str]:
    """Every identifier, attribute and string constant under `node`."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.append(n.value)
        elif isinstance(n, (ast.Name, ast.Attribute)):
            out.append(getattr(n, "id", None) or n.attr)
    return out


def test_only_the_manifest_sink_writes_pin_tables():
    """A multi-table artifact's (table, version) pin set has one writer
    and one reader, sinks/manifest.publish_pins and read_pins: no other
    package module spells the pin schema or writes a snapshot under a
    meta table, so a second copy of the protocol cannot come back."""
    home = REPO / PACKAGE / "sinks" / "manifest.py"
    found = []
    for path in sorted((REPO / PACKAGE).rglob("*.py")):
        if path == home:
            continue
        rel = path.relative_to(REPO)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Constant) and (
                node.value == "table string, version int"
            ):
                found.append(f"{rel}:{node.lineno}: the pin schema")
            if not isinstance(node, ast.Call) or (
                getattr(node.func, "id", None)
                or getattr(node.func, "attr", None)
            ) != "write_snapshot":
                continue
            table = node.args[1:2] + [
                k.value for k in node.keywords if k.arg == "table"
            ]
            if any("meta" in w.lower() for t in table for w in _names_in(t)):
                found.append(f"{rel}:{node.lineno}: a meta-table write")
    assert not found, "\n".join(found)
