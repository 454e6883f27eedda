"""Expected outputs, computed without Spark.

- ``RevenueModel``: the revenue marts in closed form from the latest
  version of every generated invoice — row counts and the exact cent
  totals that the four analyst queries return. The arithmetic repeats
  the pipeline's double operations in the same order, so the
  comparison is exact to the cent.
- ``dedup_scores``: pair-level precision and recall of predicted
  duplicate clusters against the planted ones.
- ``exact_topk``: brute-force cosine top-k in numpy, the ANN reference.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
from collections import Counter, defaultdict

from gen import DAY

RATE_TO_USD = {"usd": 1.0, "gbp": 1.27, "eur": 1.08}
_EPOCH_DAY0 = dt.date(1970, 1, 1)


def _day(epoch_s: int) -> int:
    return epoch_s // DAY


def as_date(day: int) -> dt.date:
    return _EPOCH_DAY0 + dt.timedelta(days=day)


def _cents(x: float) -> int:
    return math.floor(x * 100.0 + 0.5)


class RevenueModel:
    """Closed-form line-item facts of every paid invoice in ``invoices``
    (id -> latest invoice document)."""

    def __init__(self, invoices: dict[str, dict]):
        self.n_invoices = len(invoices)
        # (customer, created_day, s, e, usd, daily) per paid line item
        self.lines = []
        for inv in invoices.values():
            if inv["status"] != "paid":
                continue
            c = _day(inv["created"])
            for li in inv["lines"]["data"]:
                s = _day(li["period"]["start"])
                end = li["period"]["end"]
                e = _day(end) if end is not None else s + 1
                days = e - s
                amount = li["amount"] / 100
                tax = 0.0
                for t in li["taxes"]:
                    tax = tax + t["amount"] / 100
                inclusive = bool(li["taxes"]) and li["taxes"][0]["tax_behavior"] == "inclusive"
                usd = (amount - tax if inclusive else amount) * RATE_TO_USD[li["currency"]]
                daily = usd / days if days > 0 else usd
                self.lines.append((inv["customer"], c, s, e, usd, daily))

    # --- row counts -------------------------------------------------------
    def row_counts(self) -> dict[str, int]:
        return {
            "invoices": self.n_invoices,
            "invoice_line_items": len(self.lines),
            "deferred_revenue": sum(e - min(c, e) + 1 for _, c, _, e, _, _ in self.lines),
            "recognized_revenue": sum(e - s for _, _, s, e, _, _ in self.lines if e > s),
        }

    # --- deferred_revenue facts ------------------------------------------
    def _deferred_rows(self):
        for cust, c, s, e, usd, daily in self.lines:
            for d in range(min(c, e), e + 1):
                if d < s:
                    v = usd
                elif d >= e:
                    v = 0.0
                else:
                    v = daily * (e - d)
                yield cust, d, _cents(v)

    def deferred_cents(self):
        """{day: cents} and {day: {customer: cents}} over the whole mart."""
        by_day: dict[int, int] = defaultdict(int)
        by_day_cust: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for cust, d, cents in self._deferred_rows():
            by_day[d] += cents
            by_day_cust[d][cust] += cents
        return by_day, by_day_cust

    def recognized_quarter_cents(self, year: int, quarter: int) -> int | None:
        """SUM of per-day cents of daily_revenue_usd over the quarter's
        recognition days (half-open [s, e)); None when no row falls in
        it, as SQL SUM returns NULL."""
        q0 = dt.date(year, 3 * quarter - 2, 1)
        q1 = dt.date(year + (quarter == 4), (3 * quarter) % 12 + 1, 1)
        lo, hi = (q0 - _EPOCH_DAY0).days, (q1 - _EPOCH_DAY0).days
        total, hit = 0, False
        for _, _, s, e, _, daily in self.lines:
            n = min(e, hi) - max(s, lo)
            if e > s and n > 0:
                total += n * _cents(daily)
                hit = True
        return total if hit else None


def to_cents(v: float | None) -> int | None:
    return None if v is None else round(v * 100)


# ---------------------------------------------------------------------------
# corpus dedup
# ---------------------------------------------------------------------------


def _pairs(cluster_of: dict[int, int]) -> set[tuple[int, int]]:
    members: dict[int, list[int]] = defaultdict(list)
    for doc, c in cluster_of.items():
        members[c].append(doc)
    return {
        p for ms in members.values() if len(ms) > 1 for p in itertools.combinations(sorted(ms), 2)
    }


def dedup_scores(predicted: dict[int, int], planted: dict[int, int]) -> tuple[float, float]:
    """(precision, recall) over same-cluster doc pairs."""
    pred, true = _pairs(predicted), _pairs(planted)
    hit = len(pred & true)
    precision = hit / len(pred) if pred else 1.0
    recall = hit / len(true) if true else 1.0
    return precision, recall


def expected_keepers(clusters: dict[int, int], n_tokens: dict[int, int]) -> dict[int, tuple[int, int]]:
    """cluster_id -> (keeper doc, members): the member with most tokens,
    ties to the smallest id."""
    best: dict[int, int] = {}
    size: Counter = Counter()
    for doc, c in clusters.items():
        size[c] += 1
        b = best.get(c)
        if b is None or (n_tokens[doc], -doc) > (n_tokens[b], -b):
            best[c] = doc
    return {c: (best[c], size[c]) for c in best}


def token_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------------------
# ANN reference
# ---------------------------------------------------------------------------


def exact_topk(vecs, queries, k: int):
    """(indices [n_q, k], cosines [n_q, n]) of the exact cosine top-k."""
    import numpy as np

    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    # stable order: cosine desc, then id asc (the operator's tie rule)
    idx = np.lexsort((np.broadcast_to(np.arange(v.shape[0]), cos.shape), -cos), axis=1)[:, :k]
    return idx, cos
