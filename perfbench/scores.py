"""Quality scores the benchmark checks against the generators' entity ids.

Pure Python on driver-side dicts, so they can be pinned by hand-computed
examples without a Spark session.
"""

from __future__ import annotations

from collections import Counter


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def cluster_pair_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering against true entity ids.

    ``pred`` maps item → predicted cluster, ``truth`` maps item → entity.
    Items are the keys of ``truth``; an item the clustering dropped counts
    as its own singleton. Two items form a predicted pair when they share a
    cluster and a true pair when they share an entity. When neither side
    has a pair the clusterings agree and the score is 1.0.
    """
    missing = object()
    clusters = {
        item: pred.get(item, (missing, item)) for item in truth
    }
    pred_pairs = sum(_pairs(n) for n in Counter(clusters.values()).values())
    true_pairs = sum(_pairs(n) for n in Counter(truth.values()).values())
    both = sum(
        _pairs(n)
        for n in Counter((clusters[i], truth[i]) for i in truth).values()
    )
    if pred_pairs == 0 and true_pairs == 0:
        return 1.0
    if both == 0:
        return 0.0
    precision = both / pred_pairs
    recall = both / true_pairs
    return 2 * precision * recall / (precision + recall)


def top1_acc(pred: dict, truth: dict) -> float:
    """Share of ``truth``'s items whose prediction equals the true target;
    an item with no prediction counts as wrong."""
    if not truth:
        raise ValueError("top1_acc needs at least one labelled item")
    hits = sum(1 for item, target in truth.items() if pred.get(item) == target)
    return hits / len(truth)
