"""Driver-side references the output checks compare against. Each is
computed from the generator's arrays with numpy/Python only."""

from __future__ import annotations

import numpy as np

FLAG_PASS, FLAG_SUSPECT, FLAG_FAIL, FLAG_MISSING = 1, 3, 4, 9


def gross_range(values: np.ndarray, valid: np.ndarray, dim: tuple) -> np.ndarray:
    """QARTOD gross-range flag per sample: 9 missing, 4 outside the fail
    span, 3 outside the suspect span, else 1."""
    fail_lo, fail_hi, sus_lo, sus_hi = dim
    out = np.full(len(values), FLAG_PASS, np.int64)
    out[(values < sus_lo) | (values > sus_hi)] = FLAG_SUSPECT
    out[(values < fail_lo) | (values > fail_hi)] = FLAG_FAIL
    out[~valid] = FLAG_MISSING
    return out


def stride_rows(n: int, threshold: int, factor: int = 10) -> np.ndarray:
    """Row positions the pre-stride keeps before LTTB: every ``n // (
    threshold * factor)``-th row (at least every row) plus the last."""
    stride = max(1, n // (threshold * factor))
    keep = np.arange(0, n, stride)
    if n and keep[-1] != n - 1:
        keep = np.append(keep, n - 1)
    return keep


def lttb(x: np.ndarray, y: np.ndarray, threshold: int) -> np.ndarray:
    """Largest-Triangle-Three-Buckets (Steinarsson 2013): first and last
    points kept, the interior cut into ``threshold - 2`` buckets on
    ``linspace(1, n - 1, threshold - 1)`` edges; each bucket keeps the point
    with the largest triangle against the previous pick and the next
    bucket's mean. Missing y (NaN) never wins a bucket unless all do."""
    n = len(x)
    if threshold >= n or threshold < 3:
        return np.arange(n)
    edges = np.linspace(1, n - 1, threshold - 1).astype(np.int64)
    picks = [0]
    a = 0
    for i in range(threshold - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo = edges[i + 1]
        nhi = edges[i + 2] if i + 2 < len(edges) else n
        if nhi > nlo:
            avg_x, avg_y = x[nlo:nhi].mean(), np.nanmean(y[nlo:nhi])
        else:
            avg_x, avg_y = x[n - 1], y[n - 1]
        xs, ys = x[lo:hi], y[lo:hi]
        area = np.abs((x[a] - avg_x) * (ys - y[a]) - (x[a] - xs) * (avg_y - y[a]))
        a = lo + int(np.argmax(np.where(np.isnan(area), -1.0, area)))
        picks.append(a)
    picks.append(n - 1)
    return np.asarray(picks)


def shingles(text: str, n: int = 5) -> set[str]:
    """Character n-gram set of a document already in normal form
    (lower-case, single spaces, no outer whitespace)."""
    return {text[i : i + n] for i in range(max(1, len(text) - n + 1))}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k per query: (ids, sims), ties broken by id."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    order = np.lexsort((np.broadcast_to(np.arange(corpus.shape[0]), sims.shape), -sims), axis=1)[:, :k]
    return order, np.take_along_axis(sims, order, axis=1)
