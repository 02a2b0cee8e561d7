"""State persistence — JSON artifacts that round-trip exactly.

Mirrors the reference's ``state_dict()`` / ``load_state_dict()``
round-trip semantics (/root/reference/src/torchestra/_normalization.py:
582-586, _lookups.py:25-29,155-159; tests test_normalization.py:386-408)
with a engine-native representation: one JSON document keyed by op path.

Floats are stored via ``float.hex()`` so f64 parameters survive the
round-trip bit-exactly (plain JSON repr is also exact for doubles in
Python, but hex is unambiguous and locale-proof).
"""

from __future__ import annotations

import json
import math
import os
from typing import Any, Dict


def _encode(obj: Any) -> Any:
    if isinstance(obj, float):
        return {"__f64__": obj.hex()} if (math.isinf(obj) or math.isnan(obj)) else obj
    if isinstance(obj, dict):
        return {k: _encode(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_encode(v) for v in obj]
    return obj


def _decode(obj: Any) -> Any:
    if isinstance(obj, dict):
        if "__f64__" in obj and len(obj) == 1:
            return float.fromhex(obj["__f64__"])
        return {k: _decode(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_decode(v) for v in obj]
    return obj


def write_json_atomic(path: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``path`` through ``path + ".tmp"`` and one
    rename, making the directory first: a reader sees the old document
    or the new one, never a torn one."""
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class StateArtifact:
    """A saved fit state: {op_path: state_dict}."""

    def __init__(self, states: Dict[str, Dict[str, Any]]):
        self.states = states

    def save(self, path: str) -> None:
        write_json_atomic(path, _encode(self.states))

    @classmethod
    def load(cls, path: str) -> "StateArtifact":
        with open(path) as f:
            return cls(_decode(json.load(f)))
