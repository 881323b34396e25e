"""Output checks, independent of the code they check."""

from __future__ import annotations

import os
import sys

from harness import ROOT


def precision_recall(got, expected) -> tuple:
    """Set precision and recall of ``got`` against ``expected``; an empty
    side scores 0 unless both are empty."""
    got, expected = set(got), set(expected)
    if not got and not expected:
        return 1.0, 1.0
    tp = len(got & expected)
    return (tp / len(got) if got else 0.0,
            tp / len(expected) if expected else 0.0)


class UnionFind:
    """Plain union-find with path halving; the partition it builds is
    the reference the canonical entities are checked against."""

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != x:
            gp = self.parent[p]
            self.parent[x] = gp
            x, p = p, gp
        return x

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def groups(self) -> dict:
        out: dict = {}
        for x in list(self.parent):
            out.setdefault(self.find(x), set()).add(x)
        return out


def oracle_multiset():
    """The order-insensitive value-multiset comparison of the repo's
    oracle gate (tools/check_oracle.py), reused as is."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import df_multiset

    return df_multiset
