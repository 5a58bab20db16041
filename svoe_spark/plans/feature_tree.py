"""Feature tree: named, parameterized feature nodes with content-hash
identity and declared upstream dependencies.

Mirrors the reference's Feature tree semantics (reference:
svoe/featurizer/features/feature_tree/feature_tree.py:11-89): identity
is a content hash of (definition, params, children), so shared subtrees
dedup structurally — the planner computes each distinct subtree ONCE and
reuses the DataFrame (the Spark replacement for the reference's
ref-counted CacheActor, cache_actor.py:17-45).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass


@dataclass(frozen=True)
class Feature:
    definition: str
    params: tuple = ()  # canonicalized (sorted key/value) pairs
    deps: tuple["Feature", ...] = ()
    name: str | None = None

    @staticmethod
    def make(
        definition: str,
        params: dict | None = None,
        deps: list["Feature"] | None = None,
        name: str | None = None,
    ) -> "Feature":
        canon = tuple(sorted((k, json.dumps(v, sort_keys=True)) for k, v in (params or {}).items()))
        return Feature(definition, canon, tuple(deps or ()), name)

    def key(self) -> str:
        """Content hash — stable across processes (no Python id()s)."""
        payload = json.dumps(
            [self.definition, list(self.params), [d.key() for d in self.deps]]
        )
        return hashlib.sha1(payload.encode()).hexdigest()[:16]

