"""Per-query content hashes — staleness detection for the driver window.

Round-4 verdict found a blind spot in the self-maintaining window
ordering: a query REWRITTEN after its driver-green round kept its old
evidence rank, so the driver never re-verified the new implementation
(concretely ``q_stream_late_data_drop``: rewritten in round 4, only
driver evidence from round 2, against the OLD code). Fix: every query
gets a content hash over its decorated source (which includes the
``@query`` decorator line and therefore the oracle SQL) plus the
registered oracle string, recorded in ``QUERY_HASHES.json`` at the repo
root as ``{name: {"hash": h, "helpers": hh, "since_round": N}}`` —
"this implementation has been in place since round N's verification
ran". ``helpers`` (r9) hashes the transitive source of every
module-private (``_``-prefixed) package function the query references,
found by AST walk, so a rewrite hidden in a shared helper (e.g. the
pair-derivation pipelines in llm/dedup.py) counts as a rewrite of
every consumer.

``registry._driver_green_rounds`` counts a green CORRECTNESS row from
round R only when the ledger records the query with ``since_round <=
R``; it never hashes sources. ``drift()`` keeps that sound: the tier-1
suite, the full oracle preflight and ``qhash stale`` all require the
ledger to match the live code, so a query changed after its last green
round is re-stamped by the round-end update and jumps to the front of
the driver window.

Maintenance: run ``python -m highload_kafka_streams_spark.qhash update
--round N`` at the end of round N's build (part of the round-end
ritual). Entries whose ``(hash, helpers)`` changed (or are new) get
``since_round = N``; unchanged entries keep their earlier round.
``qhash stale`` prints ``drift()`` as JSON and exits 1 when it is
non-empty, so a commit hook or CI step can run it.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import sys
import textwrap
import types
from pathlib import Path

HASH_FILE = "QUERY_HASHES.json"

_PKG_PREFIX = "highload_kafka_streams_spark"


def _normalized_source(fn) -> str | None:
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return None
    return "\n".join(line.rstrip() for line in src.splitlines()).strip()


def _referenced_private_fns(fn) -> dict[str, types.FunctionType]:
    """Module-private package functions `fn` references, by AST walk of
    its source: bare ``_name`` loads resolved against the function's own
    module globals, plus names bound by ``from <mod> import _name``
    statements inside the body (the cross-module pattern the plans
    modules use; relative imports resolve against the function's own
    package). Unresolvable sources return {} — the main hash still
    covers the function itself.

    Coverage limit (documented, r9 advisor): ONLY ``_``-prefixed
    FunctionType references are in the closure. Public helpers
    (``duplicate_clusters``, ``memo_parquet``) and module constants are
    outside both hashes — changes there rely on the consumer's own
    source or the round-end review to re-enter the window."""
    src = _normalized_source(fn)
    if src is None:
        return {}
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return {}
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    mod_globals = getattr(mod, "__dict__", {})
    found: dict[str, types.FunctionType] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level == 0:
                if not (node.module or "").startswith(_PKG_PREFIX):
                    continue
                target = node.module
            else:
                # relative import: resolve against the module the function
                # actually lives in (r9 advisor: importing the top package
                # instead silently dropped `from .dedup import _helper`
                # helpers from the closure — the exact blind spot the
                # helpers hash exists to close)
                pkg = getattr(mod, "__package__", None) or getattr(
                    fn, "__module__", ""
                ).rpartition(".")[0]
                try:
                    target = importlib.util.resolve_name(
                        "." * node.level + (node.module or ""), pkg
                    )
                except (ImportError, ValueError):
                    continue
                if not target.startswith(_PKG_PREFIX):
                    continue
            try:
                src_mod = importlib.import_module(target)
            except ImportError:
                continue
            for alias in node.names:
                if not alias.name.startswith("_"):
                    continue
                obj = getattr(src_mod, alias.name, None)
                if isinstance(obj, types.FunctionType):
                    found[f"{obj.__module__}.{obj.__qualname__}"] = obj
        elif isinstance(node, ast.Name) and node.id.startswith("_"):
            obj = mod_globals.get(node.id)
            if isinstance(obj, types.FunctionType) and getattr(
                obj, "__module__", ""
            ).startswith(_PKG_PREFIX):
                found[f"{obj.__module__}.{obj.__qualname__}"] = obj
    found.pop(f"{fn.__module__}.{fn.__qualname__}", None)
    return found


def helper_hash(fn) -> str:
    """Hash over the transitive module-private helper closure of a query
    function (normalized sources, sorted by qualified name). Stable
    ``"0" * 16`` when the query calls no private helpers, so the ledger
    field is always present and comparable."""
    seen: dict[str, types.FunctionType] = {}
    frontier = list(_referenced_private_fns(fn).items())
    while frontier:
        key, obj = frontier.pop()
        if key in seen:
            continue
        seen[key] = obj
        frontier.extend(_referenced_private_fns(obj).items())
    if not seen:
        return "0" * 16
    h = hashlib.sha256()
    for key in sorted(seen):
        h.update(key.encode("utf-8"))
        h.update(b"\x00")
        h.update((_normalized_source(seen[key]) or "").encode("utf-8"))
        h.update(b"\x01")
    return h.hexdigest()[:16]


def content_hash(fn, oracle: str | None) -> str:
    """Hash of a query implementation: normalized function source
    (trailing-whitespace-insensitive, so formatting churn does not force
    re-verification) + the registered oracle SQL."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        # dynamically-created callable: fall back to stable code-object
        # facets (bytecode + consts repr) so the hash still moves when
        # behavior does
        code = getattr(fn, "__code__", None)
        src = repr((getattr(code, "co_code", b""), getattr(code, "co_consts", ())))
    norm = "\n".join(line.rstrip() for line in src.splitlines()).strip()
    h = hashlib.sha256()
    h.update(norm.encode("utf-8"))
    h.update(b"\x00")
    h.update((oracle or "").strip().encode("utf-8"))
    return h.hexdigest()[:16]


def current_hashes() -> dict[str, str]:
    """Content hash for every registered query (imports all modules)."""
    from . import registry

    registry.load_all()
    return {
        name: content_hash(fn, registry.ORACLE.get(name))
        for name, fn in registry.QUERIES.items()
    }


def current_helper_hashes() -> dict[str, str]:
    """Transitive private-helper hash for every registered query."""
    from . import registry

    registry.load_all()
    return {name: helper_hash(fn) for name, fn in registry.QUERIES.items()}


def repo_root() -> Path:
    return Path(__file__).resolve().parents[1]


def load_ledger(root: Path | None = None) -> dict[str, dict] | None:
    """The recorded ledger, or None if no ledger exists yet (legacy
    behavior: all green rows count)."""
    path = Path(root or repo_root()) / HASH_FILE
    if not path.exists():
        return None
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else None


def drift(root: Path | None = None) -> list[str]:
    """Sorted names on which QUERY_HASHES.json disagrees with the live
    code: unrecorded, stale ``hash``, stale ``helpers``, or recorded but
    no longer registered. The one definition of "in sync", shared by
    the oracle preflight, the ``stale`` CLI and the tier-1 suite."""
    ledger = load_ledger(root) or {}
    cur = current_hashes()
    cur_helpers = current_helper_hashes()
    return sorted(
        n for n in ledger.keys() | cur.keys()
        if n not in ledger or n not in cur
        or ledger[n].get("hash") != cur[n]
        or ledger[n].get("helpers") != cur_helpers[n]
    )


def update_ledger(round_no: int, root: Path | None = None) -> dict[str, int]:
    """Refresh QUERY_HASHES.json against the live registry.

    Returns {"new": n, "changed": n, "unchanged": n, "removed": n}.
    """
    root = Path(root or repo_root())
    old = load_ledger(root) or {}
    cur = current_hashes()
    cur_helpers = current_helper_hashes()
    out: dict[str, dict] = {}
    stats = {"new": 0, "changed": 0, "unchanged": 0, "removed": 0}
    for name, h in sorted(cur.items()):
        prev = old.get(name)
        live = {"hash": h, "helpers": cur_helpers[name]}
        if prev is not None and all(prev.get(k) == v for k, v in live.items()):
            out[name] = prev
            stats["unchanged"] += 1
        else:
            # new, or source, oracle or helper closure moved: re-enter
            # the verification window
            out[name] = {**live, "since_round": round_no}
            stats["new" if prev is None else "changed"] += 1
    stats["removed"] = len([n for n in old if n not in cur])
    (root / HASH_FILE).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return stats


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    up = sub.add_parser("update", help="refresh QUERY_HASHES.json")
    up.add_argument("--round", type=int, required=True, dest="round_no")
    up.add_argument("--root", default=None)
    st = sub.add_parser("stale", help="print drift() as JSON; exit 1 if non-empty")
    st.add_argument("--root", default=None)
    ns = ap.parse_args(argv)
    if ns.cmd == "update":
        stats = update_ledger(ns.round_no, ns.root and Path(ns.root))
        print(json.dumps(stats))
        return 0
    drifted = drift(ns.root and Path(ns.root))
    print(json.dumps(drifted))
    return 1 if drifted else 0


if __name__ == "__main__":
    raise SystemExit(main())
