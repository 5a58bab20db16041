"""Guard against library code that only tests reach.

A static scan, no Spark: every public, undecorated top-level ``def`` in
``svoe_spark/`` must be referenced, as a whole word, somewhere outside
its own definition (its ``def`` line through its body's last line), in
the library, ``scripts/``, ``examples/``, ``perfbench/``, ``bench.py``
or ``__spark_entry__.py`` (the driver contract). A function that only
``tests/`` call is a test helper or a deletion candidate, not library
code. Decorated defs (registry queries) are reached through their
decorator and are not scanned.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "svoe_spark"
REACH = ["svoe_spark", "scripts", "examples", "perfbench", "bench.py", "__spark_entry__.py"]
SUFFIXES = {".py", ".yaml", ".yml"}

# Public entry points kept on purpose although nothing outside tests calls them.
ALLOWED = {
    "run_parity": "the oracle-window harness: the registry parity check tests drive query by query",
    "read_time_range": "the lake's documented time-range read (README S3), read side of write_partitioned",
    "ingest_csv": "the documented CSV ingest entry point (README ingest, the reference's data_ingest/)",
}


def _public_defs() -> list[tuple[str, Path, int, int]]:
    defs = []
    for path in sorted(LIBRARY.rglob("*.py")):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not node.decorator_list
            ):
                defs.append((node.name, path, node.lineno, node.end_lineno))
    return defs


def unreached_defs() -> list[tuple[str, str]]:
    """(name, file:line) of the public undecorated top-level defs whose
    name appears on no line of the reach set outside their own
    definition."""
    files = []
    for p in (ROOT / r for r in REACH):
        files += [p] if p.is_file() else sorted(f for f in p.rglob("*") if f.suffix in SUFFIXES)
    seen: dict[str, list[tuple[Path, int]]] = {}
    for f in files:
        for i, line in enumerate(f.read_text(errors="replace").splitlines(), start=1):
            for word in set(re.findall(r"[A-Za-z_]\w*", line)):
                seen.setdefault(word, []).append((f, i))
    return [
        (name, f"{path.relative_to(ROOT)}:{lineno}")
        for name, path, lineno, end in _public_defs()
        if all(f == path and lineno <= i <= end for f, i in seen.get(name, []))
    ]


def test_every_public_library_def_is_reached_outside_tests():
    unreached = [f"{where} {name}" for name, where in unreached_defs() if name not in ALLOWED]
    assert not unreached, (
        "public library functions referenced only at their own definition "
        "(delete them, or allowlist with a reason): " + ", ".join(unreached)
    )


def test_allowlisted_names_still_exist():
    names = {name for name, *_ in _public_defs()}
    assert set(ALLOWED) <= names, sorted(set(ALLOWED) - names)
