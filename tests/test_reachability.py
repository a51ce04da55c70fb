"""Reachability: every top-level public function of the package is named
somewhere outside ``tests/`` and outside its own definition — by the
engine, the registry, a tool or another function. A function only tests
call is dead weight (ROADMAP D6); this walk keeps it from coming back."""

import ast
import collections
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "eventstore_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# Known exceptions, each with the reason it stays for now. The test fails
# when an entry becomes reachable or disappears, so the list only shrinks.
KNOWN_UNREACHABLE = {
    # the only other name of it was read_packed_shard's docstring, deleted
    # as test-only code; ROADMAP D6 lists it for the next subtraction step
    "eventstore_spark/operators/corpus.py::write_packed_corpus",
}


def _sources() -> list[Path]:
    return [p for p in ROOT.rglob("*.py")
            if not {"tests", ".git"} & set(p.relative_to(ROOT).parts)]


def _unreachable() -> list[str]:
    names = collections.Counter()
    for p in _sources():
        names.update(_IDENT.findall(p.read_text()))
    out = []
    for p in sorted(PACKAGE.rglob("*.py")):
        text = p.read_text()
        lines = text.splitlines(True)
        for node in ast.parse(text).body:
            if (not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    or node.name.startswith("_")):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _IDENT.findall("".join(lines[start - 1:node.end_lineno]))
            if names[node.name] - own.count(node.name) <= 0:
                out.append(f"{p.relative_to(ROOT).as_posix()}::{node.name}")
    return out


def test_every_public_function_is_named_outside_tests():
    found = set(_unreachable())
    assert found - KNOWN_UNREACHABLE == set(), (
        "public functions named only by tests or by themselves: make them "
        "reachable from the engine, registry or tools, or delete them with "
        "their tests")
    assert KNOWN_UNREACHABLE - found == set(), (
        "stale KNOWN_UNREACHABLE entries: drop them from the list")
