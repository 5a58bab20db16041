"""Guard against library code that only tests reach.

A static scan, no Spark: every public, undecorated top-level ``def`` or
``class`` in ``svoe_spark/`` must be used by code somewhere outside its
own definition (its ``def``/``class`` line through its body's last
line), in the library, ``scripts/``, ``examples/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py`` (the driver contract). A
function that only ``tests/`` call is a test helper or a deletion
candidate, not library code. Decorated defs (registry queries) are
reached through their decorator and are not scanned.

In a ``.py`` file, a use is what the code itself names: an
``ast.Name``, an ``ast.Attribute``, an import alias, or a string
constant equal to the name (the registry and the YAML feature configs
name callables as strings). A comment, a docstring or a sentence that
mentions the name is not a use. In a YAML file, a whole-word match on a
line is a use.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "svoe_spark"
REACH = ["svoe_spark", "scripts", "examples", "perfbench", "bench.py", "__spark_entry__.py"]
SUFFIXES = {".py", ".yaml", ".yml"}

# Public names kept on purpose although no code outside tests uses them.
ALLOWED = {
    "run_parity": "the oracle-window harness: the registry parity check tests drive query by query",
    "read_time_range": "the lake's documented time-range read (README S3), read side of write_partitioned",
    "ingest_csv": "the documented CSV ingest entry point (README ingest, the reference's data_ingest/)",
    "train_quality_classifier": "generator of the shipped QC_TRAINED_* weights, which a test re-derives",
    "quantize_weights": "generator of the shipped QC_TRAINED_* int8 weights, which a test re-derives",
    "unigram_train": "generator of the shipped UNIGRAM_FIXED_PIECES vocabulary, which a test re-derives",
    "apply_changeset": "the reference snapshot_diff's round-trip law is checked against",
    "FeatureStore": "the type Featurizer(store=) takes",
}


def _public_defs(library: Path) -> list[tuple[str, Path, int, int]]:
    defs = []
    for path in sorted(library.rglob("*.py")):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not node.decorator_list
            ):
                defs.append((node.name, path, node.lineno, node.end_lineno))
    return defs


def _code_uses(tree: ast.AST):
    """(name, line) for every name the code of ``tree`` uses."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            for part in node.name.split("."):
                yield part, node.lineno
            if node.asname:
                yield node.asname, node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            yield node.value, node.lineno


def _uses(root: Path, reach: list[str]) -> dict[str, list[tuple[Path, int]]]:
    files = []
    for p in (root / r for r in reach):
        files += [p] if p.is_file() else sorted(f for f in p.rglob("*") if f.suffix in SUFFIXES)
    seen: dict[str, list[tuple[Path, int]]] = {}
    for f in files:
        text = f.read_text(errors="replace")
        if f.suffix == ".py":
            for name, i in _code_uses(ast.parse(text, filename=str(f))):
                seen.setdefault(name, []).append((f, i))
        else:
            for i, line in enumerate(text.splitlines(), start=1):
                for word in set(re.findall(r"[A-Za-z_]\w*", line)):
                    seen.setdefault(word, []).append((f, i))
    return seen


def unreached_defs(root: Path = ROOT, reach: list[str] = REACH) -> list[tuple[str, str]]:
    """(name, file:line) of the public undecorated top-level defs and
    classes that no code of the reach set uses outside their own
    definition."""
    seen = _uses(root, reach)
    return [
        (name, f"{path.relative_to(root)}:{lineno}")
        for name, path, lineno, end in _public_defs(root / "svoe_spark")
        if all(f == path and lineno <= i <= end for f, i in seen.get(name, []))
    ]


def test_every_public_library_def_is_reached_outside_tests():
    unreached = [f"{where} {name}" for name, where in unreached_defs() if name not in ALLOWED]
    assert not unreached, (
        "public library defs used by no code outside their own definition "
        "(delete them, or allowlist with a reason): " + ", ".join(unreached)
    )


def test_allowlisted_names_still_exist():
    names = {name for name, *_ in _public_defs(LIBRARY)}
    assert set(ALLOWED) <= names, sorted(set(ALLOWED) - names)


def test_allowlisted_names_are_used_by_no_code():
    unreached = {name for name, _ in unreached_defs()}
    reached = sorted(set(ALLOWED) - unreached)
    assert not reached, f"allowlisted names that code now uses (drop them from ALLOWED): {reached}"


def test_guard_ignores_comments_docstrings_and_prose(tmp_path):
    lib = tmp_path / "svoe_spark"
    lib.mkdir()
    (lib / "mod.py").write_text(
        "def lonely():\n"
        "    return 1\n"
        "\n"
        "\n"
        "class Orphan:\n"
        "    pass\n"
        "\n"
        "\n"
        "def used():\n"
        "    return 2\n"
    )
    (lib / "other.py").write_text(
        '"""lonely and Orphan are named in this docstring."""\n'
        "\n"
        "from svoe_spark.mod import used\n"
        "\n"
        "# lonely() is named in this comment, Orphan too\n"
        'NOTE = "call lonely to get Orphan"\n'
        "\n"
        "\n"
        "def caller():\n"
        '    """Unlike lonely, this calls used."""\n'
        "    return used()\n"
        "\n"
        "\n"
        'REGISTRY = ["caller"]\n'
    )
    flagged = {name for name, _ in unreached_defs(tmp_path, ["svoe_spark"])}
    assert flagged == {"lonely", "Orphan"}
