"""Answer checks and the reference models they compare against.

Pure numpy/Python, so the benchmark's tests can feed them corrupted
answers without a Spark session. A check returns ``None`` when the
answer is right and a short reason when it is wrong; the workloads count
a wrong answer as a failed operation and keep going.
"""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-5


class Exact:
    """Exact cosine reference over a fixed set of rows. Scores follow
    the engine's formula, dot(e, q/|q|)/|e| in float64 rounded to 6
    places (operators.knn.score_all)."""

    def __init__(self, ids: list[str], emb: np.ndarray):
        self.ids = list(ids)
        self.pos = {i: n for n, i in enumerate(self.ids)}
        self.e = np.asarray(emb, np.float32).astype(np.float64)
        self.norm = np.linalg.norm(self.e, axis=1)

    def scores(self, q: np.ndarray) -> np.ndarray:
        q = np.asarray(q, np.float64)
        return np.round((self.e @ (q / np.linalg.norm(q))) / self.norm, 6)

    def topk(self, q: np.ndarray, k: int):
        """(ids, scores, all_scores) of the exact top-k, ties broken by
        id ascending."""
        s = self.scores(q)
        k = min(k, len(s))
        kth = -np.partition(-s, k - 1)[k - 1]
        cand = np.nonzero(s >= kth)[0]  # every row tied with the k-th too
        order = sorted(cand, key=lambda i: (-s[i], self.ids[i]))[:k]
        return [self.ids[i] for i in order], [float(s[i]) for i in order], s

    def true_of(self, s: np.ndarray, got) -> dict[str, float]:
        """True scores of the returned ids that are rows of this set."""
        return {i: float(s[self.pos[i]]) for i, _ in got if i in self.pos}


def check_ranked(got: list[tuple[str, float]], true_score: dict[str, float], k: int) -> str | None:
    """Shape checks every strategy must pass: k distinct live ids, each
    reported score equal to that id's true score, ranked best first."""
    if len(got) != k:
        return f"returned {len(got)} rows, expected {k}"
    ids = [g[0] for g in got]
    if len(set(ids)) != k:
        return "duplicate ids in result"
    for i, s in got:
        t = true_score.get(i)
        if t is None:
            return f"id {i} is not a live row"
        if abs(t - s) > SCORE_TOL:
            return f"id {i} scored {s}, true score {t}"
    scores = [g[1] for g in got]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "scores not in descending order"
    return None


def check_exact(got: list[tuple[str, float]], exp_ids: list[str], exp_scores: list[float],
                true_score: dict[str, float]) -> str | None:
    """Exact search: a valid ranked answer whose score sequence equals
    the exact top-k (ids may differ only inside a score tie)."""
    bad = check_ranked(got, true_score, len(exp_ids))
    if bad:
        return bad
    for (i, s), ei, es in zip(got, exp_ids, exp_scores):
        if abs(s - es) > SCORE_TOL:
            return f"rank of {i}: score {s}, exact top-k has {ei} at {es}"
    return None


def recall(got_ids, exp_ids) -> float:
    return len(set(got_ids) & set(exp_ids)) / len(exp_ids)


def check_changes(got: list[tuple[str, str, str | None]],
                  exp: dict[str, tuple[str, str | None]]) -> str | None:
    """A change-feed read against the operations of one commit.
    ``got`` rows are (change_type, id, content); ``exp`` maps id to
    (change_type, content) where a removed row's content is not checked
    (pass None)."""
    seen = {}
    for ct, i, content in got:
        if i in seen:
            return f"id {i} appears twice in the feed"
        seen[i] = (ct, content)
    if set(seen) != set(exp):
        missing = sorted(set(exp) - set(seen))[:3]
        extra = sorted(set(seen) - set(exp))[:3]
        return f"feed ids differ: missing {missing}, extra {extra}"
    for i, (ct, content) in exp.items():
        gct, gcontent = seen[i]
        if gct != ct:
            return f"id {i}: change_type {gct}, expected {ct}"
        if content is not None and gcontent != content:
            return f"id {i}: feed content differs from the committed row"
    return None


class StoreModel:
    """Python model of the chunk table under the churn stream: id ->
    (content, float32 embedding, label)."""

    def __init__(self, ids, texts, emb, labels):
        self.rows = {i: (t, e, lb) for i, t, e, lb in zip(ids, texts, emb, labels)}
        self._exact: dict = {}

    def upsert(self, rows: list[tuple[str, str, np.ndarray, str]]) -> None:
        for i, t, e, lb in rows:
            self.rows[i] = (t, e, lb)
        self._exact.clear()

    def delete(self, ids: list[str]) -> None:
        for i in ids:
            del self.rows[i]
        self._exact.clear()

    def exact(self, label: str | None = None) -> Exact:
        """Exact reference over the live rows (with ``label``, only those
        rows)."""
        if label not in self._exact:
            ids = sorted(i for i, r in self.rows.items() if label is None or r[2] == label)
            self._exact[label] = Exact(ids, np.stack([self.rows[i][1] for i in ids]))
        return self._exact[label]


def score_dedup(removed: set[str], planted: dict[str, str], kept_input: set[str]):
    """(recall, precision) of a removed set against planted duplicates.
    Only families whose base and copy both reached the dedup stage count
    toward recall; a removed id is a true positive when it is a planted
    copy of such a family (the canonical, smallest-id member is the
    base, which must be kept)."""
    live = {d for d, b in planted.items() if d in kept_input and b in kept_input}
    tp = len(removed & live)
    rec = tp / len(live) if live else 1.0
    prec = tp / len(removed) if removed else 1.0
    return rec, prec


def pair_precision(pairs: set[tuple[str, str]], planted: dict[str, str]) -> float:
    """Share of output pairs that are a planted (base, copy) family."""
    if not pairs:
        return 1.0
    truth = {tuple(sorted((d, b))) for d, b in planted.items()}
    return len(pairs & truth) / len(pairs)
