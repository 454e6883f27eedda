"""Seeded input generators for the benchmark.

Everything here is pure Python (plus numpy for the embeddings) and
depends only on the ``random.Random`` / ``numpy`` generator it is
handed, so one seed always yields byte-identical files.

- Stripe-shaped NDJSON: a full-history drop plus a sequence of small
  daily drops (new invoices, re-delivered duplicates, late status
  changes). ``StripeState`` keeps the latest version of every invoice
  so the output checks can compute the expected marts in closed form.
- A text corpus with planted near-duplicate clusters, near-miss pairs
  just under the 0.8 Jaccard threshold, and the planted ground truth.
- Labeled Gaussian-cluster embeddings plus a batch of perturbed query
  vectors.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass, field

DAY = 86400
# Last day of the generated history; daily drop k lands on T0 + k days.
T0 = dt.date(2024, 3, 1)
EPOCH_T0 = int(dt.datetime(T0.year, T0.month, T0.day, tzinfo=dt.timezone.utc).timestamp())

# The traffic mix below is an assumption, not measured Stripe traffic:
# no source in the repository gives these shares.
CURRENCIES = ("usd", "eur", "gbp")
CURRENCY_WEIGHTS = (60, 25, 15)
# line fan-out per invoice
FANOUT = (1, 2, 3, 5)
FANOUT_WEIGHTS = (50, 30, 15, 5)
# Service periods are monthly only. The fact blow-up is deferred rows ~
# line items x period days, one as_of_date partition per day. Annual
# periods are left out: a single annual line spreads the marts over
# ~366 as_of_date partitions, and at the merge path's per-partition
# cost one cold daily drop then takes ~75 s on a 4-core box, which the
# benchmark's run budget cannot hold (see README.md).
PERIOD_DAYS = 30
NULL_END_SHARE = 0.02  # period.end missing -> start + 1 day fallback
INCLUSIVE_SHARE = 0.25  # tax-inclusive lines (net = amount - tax)
EXCLUSIVE_SHARE = 0.45  # the rest carry no taxes at all
DUPLICATE_SHARE = 0.05  # invoices re-delivered verbatim in the same drop
OPEN_SHARE = 0.12  # unpaid at creation; may turn paid in a later drop
N_CUSTOMERS = 300
ZIPF_S = 1.1


@dataclass
class StripeState:
    """Latest version of every invoice, keyed by id, in creation order."""

    invoices: dict[str, dict] = field(default_factory=dict)
    subscriptions: dict[str, dict] = field(default_factory=dict)
    events: list[dict] = field(default_factory=list)
    next_id: int = 0
    next_event: int = 0


def _customer_picker(rng: random.Random):
    cum = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(N_CUSTOMERS)))
    return lambda: rng.choices(range(N_CUSTOMERS), cum_weights=cum)[0]


def _make_invoice(rng: random.Random, state: StripeState, created: int, customer: int) -> dict:
    i = state.next_id
    state.next_id += 1
    currency = rng.choices(CURRENCIES, CURRENCY_WEIGHTS)[0]
    sub = f"sub_{customer}"
    lines = []
    for j in range(rng.choices(FANOUT, FANOUT_WEIGHTS)[0]):
        start = created + rng.randint(-3, 3) * DAY
        end = None if rng.random() < NULL_END_SHARE else start + PERIOD_DAYS * DAY
        amount = rng.randint(500, 60000)
        u = rng.random()
        if u < INCLUSIVE_SHARE:
            taxes = [{"amount": amount // 6, "tax_behavior": "inclusive"}]
        elif u < INCLUSIVE_SHARE + EXCLUSIVE_SHARE:
            taxes = [{"amount": amount // 5, "tax_behavior": "exclusive"}]
        else:
            taxes = []
        lines.append(
            {
                "id": f"il_{i}_{j}",
                "type": "subscription" if j == 0 else "invoiceitem",
                "description": f"plan {j} {PERIOD_DAYS}d",
                "amount": amount,
                "currency": currency,
                "quantity": 1 + j,
                "subscription": sub if j == 0 else None,
                "period": {"start": start, "end": end},
                "taxes": taxes,
                "metadata": {"line": str(j)},
            }
        )
    total = sum(li["amount"] for li in lines)
    paid = rng.random() >= OPEN_SHARE
    state.subscriptions.setdefault(
        sub,
        {"id": sub, "created": created, "status": "active", "customer": f"cus_{customer}", "metadata": {}},
    )
    inv = {
        "id": f"in_{i}",
        "customer": f"cus_{customer}",
        "subscription": sub,
        "created": created,
        "status": "paid" if paid else "open",
        "currency": currency,
        "amount_due": total,
        "amount_paid": total if paid else 0,
        "amount_remaining": 0 if paid else total,
        "subtotal": total,
        "total": total,
        "tax": sum(t["amount"] for li in lines for t in li["taxes"]),
        "automatic_tax": json.dumps({"enabled": bool(i % 2)}),
        "collection_method": "charge_automatically",
        "period_start": created,
        "period_end": created + 30 * DAY,
        "metadata": {"source": "bench"},
        "lines": {"data": lines},
    }
    state.invoices[inv["id"]] = inv
    return inv


def _event(state: StripeState, created: int, sub: str, status: str) -> dict:
    e = {
        "id": f"evt_{state.next_event}",
        "created": created,
        "type": "customer.subscription.updated",
        "data": json.dumps({"object": {"id": sub, "status": status}}),
    }
    state.next_event += 1
    state.events.append(e)
    return e


def stripe_history(rng: random.Random, n_invoices: int, history_days: int) -> tuple[StripeState, list[dict], list[dict]]:
    """Invoices created uniformly over the ``history_days`` before T0.
    Returns (state, drop_invoices, drop_events); the drop list holds
    the re-delivered duplicates verbatim."""
    state = StripeState()
    pick = _customer_picker(rng)
    created = sorted(
        EPOCH_T0 - history_days * DAY + rng.randrange(history_days * DAY) for _ in range(n_invoices)
    )
    drop = []
    for c in created:
        inv = _make_invoice(rng, state, c, pick())
        drop.append(inv)
        if rng.random() < DUPLICATE_SHARE:
            drop.append(inv)
    events = [
        _event(state, s["created"] + rng.randrange(DAY), s["id"], rng.choice(("active", "past_due")))
        for s in list(state.subscriptions.values())
    ]
    return state, drop, events


def daily_drop(
    rng: random.Random,
    state: StripeState,
    day: int,
    n_new: int,
    n_redeliver: int,
    n_status_changes: int,
    lookback_days: int,
) -> tuple[list[dict], list[dict]]:
    """Drop for T0 + ``day``: new invoices, verbatim re-deliveries of
    recent ones, and open -> paid flips of invoices created up to
    ``lookback_days`` back. Mutates ``state`` to the post-drop view."""
    pick = _customer_picker(rng)
    day0 = EPOCH_T0 + day * DAY
    window = [
        inv
        for inv in state.invoices.values()
        if inv["status"] == "open" and inv["created"] >= day0 - lookback_days * DAY
    ]
    changed = []
    for inv in rng.sample(window, min(n_status_changes, len(window))):
        inv = dict(inv, status="paid", amount_paid=inv["total"], amount_remaining=0)
        state.invoices[inv["id"]] = inv
        changed.append(inv)
    # one version per id in a drop: staging keeps an arbitrary copy of
    # duplicate ids, so only unchanged invoices are re-delivered
    ids = {inv["id"] for inv in changed}
    recent = [
        inv for inv in state.invoices.values() if inv["created"] >= day0 - 3 * DAY and inv["id"] not in ids
    ]
    redelivered = rng.sample(recent, min(n_redeliver, len(recent)))
    new = [_make_invoice(rng, state, day0 + rng.randrange(DAY), pick()) for _ in range(n_new)]
    events = [
        _event(state, day0 + rng.randrange(DAY), inv["subscription"], "active") for inv in changed
    ]
    return redelivered + changed + new, events


def write_stripe_drop(raw_dir: str, invoices: list[dict], subscriptions: list[dict], events: list[dict]) -> int:
    """One raw drop directory (the pipeline's input contract). Returns
    the bytes written."""
    os.makedirs(raw_dir, exist_ok=True)
    total = 0
    for name, docs in (
        ("invoices.json", invoices),
        ("subscriptions.json", subscriptions),
        ("subscription_updates.json", events),
    ):
        path = os.path.join(raw_dir, name)
        with open(path, "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# corpus with planted near-duplicate clusters
# ---------------------------------------------------------------------------

VOCAB = 20000
DOC_TOKENS = (50, 90)
CLUSTER_SIZES = (2, 3, 4, 6)
CLUSTER_WEIGHTS = (50, 25, 15, 10)


def _token_jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def _mutate(rng: random.Random, toks: list[str], n_replace: int) -> list[str]:
    out = list(toks)
    for p in rng.sample(range(len(out)), n_replace):
        out[p] = f"x{rng.randrange(10 ** 9)}"
    return out


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    cluster_of: dict[int, int]  # planted cluster id per doc (singletons too)
    near_miss_pairs: list[tuple[int, int]]  # planted pairs just under 0.8


def corpus(rng: random.Random, n_docs: int, dup_share: float = 0.3, near_miss_share: float = 0.05) -> Corpus:
    """``n_docs`` documents of distinct random tokens. About
    ``dup_share`` of them belong to planted clusters whose members
    pairwise keep token-set Jaccard >= 0.8 (each member replaces at most
    2 tokens of its base); ``near_miss_share`` are near-misses of some
    base at Jaccard in [0.70, 0.8). Construction guarantees are checked
    here, so a generator change cannot silently move the ground truth."""

    def base_doc():
        n = rng.randint(*DOC_TOKENS)
        return [f"w{t}" for t in rng.sample(range(VOCAB), n)]

    docs: list[list[str]] = []
    cluster_of: dict[int, int] = {}
    near_miss: list[tuple[int, int]] = []
    n_cluster_docs = int(n_docs * dup_share)
    n_near = int(n_docs * near_miss_share)
    cid = 0
    while len(docs) < n_cluster_docs:
        base = base_doc()
        size = rng.choices(CLUSTER_SIZES, CLUSTER_WEIGHTS)[0]
        members = [base] + [_mutate(rng, base, rng.randint(0, 2)) for _ in range(size - 1)]
        first = len(docs)
        for m in members:
            cluster_of[len(docs)] = cid
            docs.append(m)
        for a, b in itertools.combinations(range(first, len(docs)), 2):
            if _token_jaccard(docs[a], docs[b]) < 0.8:
                raise AssertionError("planted cluster pair under threshold")
        cid += 1
    for _ in range(n_near):
        base = base_doc()
        n = len(base)
        # (n - r) / (n + r) in [0.70, 0.8)  <=>  r in (n/9, 3n/17]
        r = rng.randint(n // 9 + 1, (3 * n) // 17)
        miss = _mutate(rng, base, r)
        j = _token_jaccard(base, miss)
        if not 0.70 <= j < 0.8:
            raise AssertionError(f"near-miss Jaccard {j} outside [0.70, 0.8)")
        for m in (base, miss):
            cluster_of[len(docs)] = cid
            cid += 1
            docs.append(m)
        near_miss.append((len(docs) - 2, len(docs) - 1))
    while len(docs) < n_docs:
        cluster_of[len(docs)] = cid
        cid += 1
        docs.append(base_doc())
    # shuffle ids so planted clusters are not contiguous in the input
    perm = list(range(len(docs)))
    rng.shuffle(perm)
    return Corpus(
        docs=[(perm[i], " ".join(t)) for i, t in enumerate(docs)],
        cluster_of={perm[i]: c for i, c in cluster_of.items()},
        near_miss_pairs=[tuple(sorted((perm[a], perm[b]))) for a, b in near_miss],
    )


def embeddings(np_rng, n_vectors: int, n_clusters: int, dim: int, n_queries: int, spread: float, noise: float):
    """Labeled Gaussian clusters (unit-norm centers, isotropic offsets of
    norm ~``spread`` around them) and ``n_queries`` perturbed copies of
    random corpus vectors (offsets of norm ~``noise``)."""
    import numpy as np

    centers = np_rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np_rng.integers(0, n_clusters, size=n_vectors)
    vecs = centers[labels] + np_rng.normal(scale=spread / np.sqrt(dim), size=(n_vectors, dim))
    vecs = vecs.astype(np.float32)
    src = np_rng.choice(n_vectors, size=n_queries, replace=False)
    queries = (vecs[src] + np_rng.normal(scale=noise / np.sqrt(dim), size=(n_queries, dim))).astype(np.float32)
    return labels, vecs, queries
