"""Correctness gate: every answer the benchmark times is compared, after the
timed region, with the independent naive BM25 engine in ``tests/oracle.py``.
"""

from __future__ import annotations

import importlib.util
import os


class CorrectnessError(RuntimeError):
    """An answer differs from the oracle's; the run fails."""


def load_oracle_class(root: str):
    """``OracleEngine`` from the checkout's ``tests/oracle.py``."""
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    if spec is None or spec.loader is None:
        raise FileNotFoundError(path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.OracleEngine


def answer(rows) -> list[tuple]:
    """Engine rows as (repo, path, commit, score, segment_id, doc_id)."""
    return [
        (r["repo"], r["path"], r["commit"], float(r["score"]),
         int(r["segment_id"]), int(r["doc_id"]))
        for r in rows
    ]


def check_exact(label: str, got: list[tuple], expected: list[tuple]) -> None:
    """Identical rows in identical order: exact float32 BM25 scores and the
    (score desc, segment_id, doc_id) tie order."""
    if got != expected:
        raise CorrectnessError(
            f"{label}: engine {got[:3]}... ({len(got)} rows) != "
            f"oracle {expected[:3]}... ({len(expected)} rows)"
        )


def check_ranked(
    label: str, got: list[tuple], scores: dict[tuple, float], k: int
) -> None:
    """A valid top-k over ``scores`` (identity -> exact oracle score) when
    the oracle cannot reproduce segment ids: the score sequence equals the
    oracle's top-k sequence, every returned document carries exactly its
    oracle score, no document repeats, and ties are in
    (segment_id, doc_id) order."""
    want = sorted(scores.values(), reverse=True)[:k]
    if [g[3] for g in got] != want:
        raise CorrectnessError(
            f"{label}: scores {[g[3] for g in got]} != oracle top-{k} {want}"
        )
    seen = set()
    for g in got:
        ident = g[:3]
        if ident in seen:
            raise CorrectnessError(f"{label}: {ident} returned twice")
        seen.add(ident)
        if scores.get(ident) != g[3]:
            raise CorrectnessError(
                f"{label}: {ident} scored {g[3]}, oracle {scores.get(ident)}"
            )
    order = [(-g[3], g[4], g[5]) for g in got]
    if order != sorted(order):
        raise CorrectnessError(f"{label}: rows not in (score, segment, doc) order")


def live_scores(oracle, f, dead: set[tuple]) -> dict[tuple, float]:
    """Oracle scores of the documents ``f`` matches, minus tombstoned
    identities; the statistics still count the tombstoned documents, as
    the engine's do until a merge purges them."""
    out = {}
    for key, score in oracle.eval(f).items():
        ident = oracle.identity[key]
        if ident not in dead:
            out[ident] = float(score)
    return out
