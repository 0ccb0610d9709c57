"""Correctness gate: what the program committed and returned must equal
what the generator says it should. Each check returns a list of
mismatch messages; an empty list passes."""

from __future__ import annotations

import hashlib


def check_route_counts(
    expected: dict[str, int],
    committed: dict[str, int],
    read_back: dict[str, int],
) -> list[str]:
    """Per route: the pipeline's committed row count and a read-back of
    the route table must both equal the generator's count, so a lost row
    and a duplicated row both fail."""
    errors = []
    for route, want in sorted(expected.items()):
        for what, got in (("committed", committed), ("read back", read_back)):
            if got.get(route) != want:
                errors.append(f"route {route}: {what} {got.get(route)} rows, expected {want}")
    for what, got in (("committed", committed), ("read back", read_back)):
        for route in sorted(set(got) - set(expected)):
            errors.append(f"route {route}: {what} {got[route]} rows from an unknown route")
    return errors


def committed_counts(batch_metrics: list[dict]) -> dict[str, int]:
    """Sum the per-batch route counts of ``BillingPipeline.metrics()``."""
    total: dict[str, int] = {}
    for m in batch_metrics:
        for route, n in m["routes"].items():
            total[route] = total.get(route, 0) + n
    return total


def rows_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of canonical result rows."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def check_query_results(digests: dict[str, list[str]], oracle: dict[str, dict]) -> list[str]:
    """Each query's result digest must be identical every time it was
    taken, and its oracle comparison (when one ran) must have passed."""
    errors = []
    for name, seen in sorted(digests.items()):
        if len(set(seen)) != 1:
            errors.append(f"{name}: result changed between executions ({len(set(seen))} distinct digests)")
    for name, res in sorted(oracle.items()):
        if not res.get("ok"):
            errors.append(f"{name}: {res.get('mode')} check failed: {res}")
    return errors
