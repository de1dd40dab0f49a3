"""Output checks against the generator's expected outcome.

Each function returns a list of problems; an empty list means the
output is correct. Every problem counts as one failed operation.
"""

from __future__ import annotations

import hashlib
from collections import Counter


def check_append(
    expected: dict,
    rows: list[tuple[int, int]],
    positions: dict[int, int],
) -> list[str]:
    """``rows`` are the committed (partition, offset) pairs; ``positions``
    the sink's next offset per partition."""
    problems = []
    counts = Counter(rows)
    dups = sum(c - 1 for c in counts.values() if c > 1)
    if dups:
        problems.append(f"{dups} duplicate offsets committed")
    got = set(counts)
    lost = expected["surviving"] - got
    if lost:
        problems.append(f"{len(lost)} offsets lost, e.g. {sorted(lost)[:3]}")
    extra = got - expected["surviving"]
    if extra:
        problems.append(f"{len(extra)} offsets committed that should be dropped, e.g. {sorted(extra)[:3]}")
    if positions != expected["next_positions"]:
        problems.append(
            f"committed positions {sorted(positions.items())} != "
            f"expected {sorted(expected['next_positions'].items())}"
        )
    return problems


def state_digest(pairs) -> tuple[int, str]:
    """Count and order-insensitive digest of (key, seq) pairs."""
    lines = sorted(f"{k}:{s}" for k, s in pairs)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), h


def check_upsert(expected: dict, rows: list[tuple[int, int]]) -> list[str]:
    """``rows`` are the sink's current (key, seq) pairs."""
    got = state_digest(rows)
    want = state_digest(expected["latest"].items())
    if got == want:
        return []
    have = dict(rows)
    wrong = [k for k, s in expected["latest"].items() if have.get(k) != s]
    return [
        f"upsert state {got[0]} keys (digest {got[1][:12]}) != expected "
        f"{want[0]} keys (digest {want[1][:12]}); {len(wrong)} keys differ, "
        f"e.g. {wrong[:3]}"
    ]
