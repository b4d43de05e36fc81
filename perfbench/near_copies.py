#!/usr/bin/env python3
"""Measure the near-copy share of a ``documents`` parquet table.

    python3 perfbench/near_copies.py <documents.parquet> [...]

A document is a near copy when at least half of its word 4-shingles
(Jaccard) are shared with one earlier document in ``doc_id`` order.
For each near copy the edit from that source is classed by word count:
exact copy, one word inserted, one word deleted, or other.  This is how
``gen.REUSE`` and ``gen.EXACT_COPIES`` were read off the testdata; the
benchmark itself does not run it.
"""

from __future__ import annotations

import collections
import sys

import pyarrow.parquet as pq


def shingles(words: list[str]) -> set[tuple[str, ...]]:
    return {tuple(words[k : k + 4]) for k in range(len(words) - 3)}


def near_copies(texts: list[str]) -> collections.Counter:
    """Count near copies by the kind of edit from their source."""
    index: dict[tuple, list[int]] = collections.defaultdict(list)
    sets: list[set] = []
    kinds: collections.Counter = collections.Counter()
    for i, text in enumerate(texts):
        s = shingles(text.split())
        sets.append(s)
        shared = collections.Counter(j for x in s for j in index[x])
        best, src = 0.0, None
        for j, c in shared.most_common(5):
            jac = c / len(s | sets[j])
            if jac > best:
                best, src = jac, j
        if best >= 0.5:
            diff = len(text.split()) - len(texts[src].split())
            if text == texts[src]:
                kinds["exact"] += 1
            else:
                kinds[{1: "insert", -1: "delete"}.get(diff, "other")] += 1
        for x in s:
            index[x].append(i)
    return kinds


def main(paths: list[str]) -> None:
    for path in paths:
        table = pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")
        texts = table["text"].to_pylist()
        kinds = near_copies(texts)
        n = sum(kinds.values())
        print(f"{path}: {len(texts)} docs, {n} near copies ({n / len(texts):.2%}): "
              + ", ".join(f"{k} {v}" for k, v in sorted(kinds.items())))


if __name__ == "__main__":
    main(sys.argv[1:])
