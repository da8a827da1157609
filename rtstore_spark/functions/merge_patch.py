"""RFC 7386 JSON merge-patch, matching EJDB2 ``patch`` semantics.

The reference applies document updates as JSON merge patches: patching
``{"test":"v1","f1":"f1"}`` with ``{"test":"v2"}`` preserves ``f1``
(doc_store.rs:470-480, db_store_v2.rs:1386-1425). RFC 7386 rules:
- object ⊕ object → recursive merge
- ``null`` value → delete the key
- non-object patch → replace wholesale
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd  # noqa: F401 — needed at module scope so the UDF's
# lazy type hints ('pd.Series') resolve via typing.get_type_hints.


def merge_patch(target: Any, patch: Any) -> Any:
    """Pure-python RFC 7386 merge (driver-side / test use)."""
    if not isinstance(patch, dict):
        return patch
    if not isinstance(target, dict):
        target = {}
    out = dict(target)
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        elif isinstance(v, dict):
            out[k] = merge_patch(out.get(k), v)
        else:
            out[k] = v
    return out


def merge_patch_json(doc: str | None, patch: str | None) -> str | None:
    """One stored update on the driver: the text ``make_json_merge_patch``'s
    UDF stores for ``(doc, patch)`` — same parse, merge and serialisation,
    byte for byte."""
    if patch is None:
        return doc
    merged = merge_patch(json.loads(doc) if doc else {}, json.loads(patch))
    return json.dumps(merged, separators=(",", ":"), sort_keys=True)


def compose_patches(p1: Any, p2: Any) -> Any:
    """Compose two RFC 7386 patches: ``apply(apply(d, p1), p2) ==
    apply(d, compose_patches(p1, p2))``. Unlike ``merge_patch``, null
    values are PRESERVED (they must keep deleting when the composed patch
    is applied later)."""
    if not isinstance(p2, dict) or not isinstance(p1, dict):
        return p2
    out = dict(p1)
    for k, v in p2.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = compose_patches(out[k], v)
        else:
            out[k] = v  # scalars AND nulls win
    return out


def make_json_merge_patch():
    """Build the Arrow-batched merge UDF for two JSON-text columns.

    The merge logic is duplicated *inside* the closure on purpose: a
    module-level function would be cloudpickled by reference
    (``rtstore_spark.functions.merge_patch``), which Python workers cannot
    import unless the repo is on their PYTHONPATH. A closure is pickled by
    value, so the UDF is self-contained wherever the session was created.

    This is the set-wise path (SURVEY.md §4.2): block applies and log
    replays merge micro-batch-sized groups, so the UDF touches only the
    patched rows, never the full collection. A single update merges on
    the driver with ``merge_patch_json``, which stores the same text.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _merge(target, patch):
        if not isinstance(patch, dict):
            return patch
        if not isinstance(target, dict):
            target = {}
        out = dict(target)
        for k, v in patch.items():
            if v is None:
                out.pop(k, None)
            elif isinstance(v, dict):
                out[k] = _merge(out.get(k), v)
            else:
                out[k] = v
        return out

    @F.pandas_udf(T.StringType())
    def json_merge_patch(doc: pd.Series, patch: pd.Series) -> pd.Series:
        import json

        def one(d, p):
            if p is None:
                return d
            merged = _merge(json.loads(d) if d else {}, json.loads(p))
            return json.dumps(merged, separators=(",", ":"), sort_keys=True)

        return pd.Series([one(d, p) for d, p in zip(doc, patch)])

    return json_merge_patch
