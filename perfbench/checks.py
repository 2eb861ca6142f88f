"""Output checks for timed ops. They run after an op's timer stops.

A ranked result is a list of (query_id, rank, doc_id, score) tuples. The
rank key is (round(score, 9) desc, doc_id asc); exact plans must agree on
(doc_id, round(score, 9)) at every rank.
"""

from __future__ import annotations

from collections import defaultdict


class CheckFailed(Exception):
    pass


def by_query(rows) -> dict[str, list[tuple[int, int, float]]]:
    """query_id -> [(rank, doc_id, score)] sorted by rank."""
    out: dict[str, list] = defaultdict(list)
    for q, rank, doc, score in rows:
        out[q].append((int(rank), int(doc), float(score)))
    for hits in out.values():
        hits.sort()
    return dict(out)


def check_ranked(rows, query_ids, k: int) -> dict[str, list]:
    """Every query's hits: at most k rows, ranks 1..n, ordered by the rank
    key, no repeated doc. Returns the hits grouped by query."""
    grouped = by_query(rows)
    unknown = set(grouped) - set(query_ids)
    if unknown:
        raise CheckFailed(f"results for unknown queries {sorted(unknown)[:3]}")
    for q, hits in grouped.items():
        if len(hits) > k:
            raise CheckFailed(f"{q}: {len(hits)} rows > k={k}")
        if [r for r, _, _ in hits] != list(range(1, len(hits) + 1)):
            raise CheckFailed(f"{q}: ranks are not 1..{len(hits)}")
        keys = [(-round(s, 9), d) for _, d, s in hits]
        for i in range(1, len(keys)):
            if keys[i] < keys[i - 1]:
                raise CheckFailed(
                    f"{q}: ranks {i} and {i + 1} out of (round(score, 9) desc, "
                    f"doc_id asc) order: {hits[i - 1]} then {hits[i]}"
                )
        if len({d for _, d, _ in hits}) != len(hits):
            raise CheckFailed(f"{q}: repeated doc_id")
    return grouped


def check_agree(got: dict, ref: dict, query_ids, plan: str) -> None:
    """``got`` and ``ref`` (grouped hits) agree on (doc_id, round(score, 9))
    at every rank, for each query in ``query_ids``."""
    for q in query_ids:
        a = [(d, round(s, 9)) for _, d, s in got.get(q, [])]
        b = [(d, round(s, 9)) for _, d, s in ref.get(q, [])]
        if a != b:
            raise CheckFailed(f"{plan} disagrees with bm25_topk on {q}")


def check_excludes(grouped: dict, deleted) -> None:
    deleted = set(deleted)
    for q, hits in grouped.items():
        back = deleted.intersection(d for _, d, _ in hits)
        if back:
            raise CheckFailed(f"{q}: tombstoned docs {sorted(back)} returned")


class OpLedger:
    """Ops attempted and failed, per op type."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.errors: list[str] = []

    def record(self, op: str, check) -> bool:
        """Count one attempt of ``op``; ``check()`` raising counts it failed."""
        try:
            check()
        except Exception as e:  # any failure of the op is a failed op
            self.fail(op, e)
            return False
        self.attempted[op] += 1
        return True

    def fail(self, op: str, err: Exception) -> None:
        """Count one attempt of ``op`` that raised before it could be checked."""
        self.attempted[op] += 1
        self.failed[op] += 1
        self.errors.append(f"{op}: {type(err).__name__}: {err}")

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())
