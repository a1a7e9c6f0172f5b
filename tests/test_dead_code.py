"""Every top-level definition under fast_er_spark/ must have a caller that
is not a test: a name that only its own definition, an ``__all__``, a
package re-export, ``tests/`` or ``oracle/`` mentions is dead code. The
scan repeats to a fixpoint, so a helper whose only callers are themselves
dead is dead too. A name kept on purpose goes in ALLOWED with its reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# "module.py::name" (or "module.py::*" for a whole module) -> reason
ALLOWED = {
    "streaming/dedup_stream.py::*": "public streaming dedup API, documented in the README",
    "sources/corpus.py::*": "public corpus-source API, documented in the README",
    "operators/similarity.py::cosine_topk": (
        "exact top-k reference that the lsh_topk and ivf_topk tests compare against"
    ),
    "plans/inspect.py::plan_stats": "plan-assertion helper of tests/test_plans.py",
    "linkage.py::Deduplication": (
        "public API: the within-table counterpart of Comparison, documented in the README"
    ),
    "functions/jw.py::char_mask_bytes": (
        "byte-level reference of JwUdfs.charMask, kept beside jaro_winkler_bytes, "
        "whose match count it bounds"
    ),
}


def _is_test_side(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] in ("tests", "oracle") or path.name.startswith("test_")


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _used(stmt: ast.stmt) -> set[str]:
    """Identifiers a statement loads: names, attributes, and string
    constants equal to an identifier (lookups by name, e.g. monkeypatching)."""
    out = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.add(node.value)
    return out


def _scan():
    """(definitions, users): definitions maps "module::name" to name for
    every top-level definition in the package; users lists (owner, used)
    per top-level statement of every non-test file, where owner is the
    set of package keys the statement defines (empty: always live)."""
    definitions, users = {}, []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0] in (".git", "spark-warehouse") or _is_test_side(path):
            continue
        in_package = rel.parts[0] == "fast_er_spark"
        module = "/".join(rel.parts[1:])
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a re-export or an import is not a use
            names = _defined(stmt)
            if names == ["__all__"]:
                continue
            owner = set()
            for n in names if in_package else []:
                if not n.startswith("__"):
                    definitions[f"{module}::{n}"] = n
                    owner.add(f"{module}::{n}")
            users.append((owner, _used(stmt)))
    return definitions, users


def _allowed(key: str) -> bool:
    module = key.split("::")[0]
    return key in ALLOWED or f"{module}::*" in ALLOWED


def _dead() -> list[str]:
    definitions, users = _scan()
    dead: set[str] = set()
    while True:
        live_uses = set()
        for owner, used in users:
            if owner and owner <= dead:
                continue  # a statement that only defines dead names uses nothing
            for key in owner:
                used = used - {definitions[key]}  # its own body is not a caller
            live_uses |= used
        now = {k for k, n in definitions.items() if n not in live_uses and not _allowed(k)}
        if now == dead:
            return sorted(dead)
        dead = now


def test_every_package_definition_has_a_non_test_caller():
    definitions, _ = _scan()
    assert len(definitions) > 100, "package scan found too few definitions"
    assert _dead() == []


def test_allow_list_entries_name_live_reasons():
    definitions, _ = _scan()
    for key, reason in ALLOWED.items():
        module, name = key.split("::")
        assert reason.strip(), key
        assert any(
            k.split("::")[0] == module and (name == "*" or k == key) for k in definitions
        ), f"allow-list entry {key} matches no definition"
