"""Tests of the input generator's stated shares: ``python -m pytest
perfbench``."""

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def test_same_seed_same_rows():
    assert gen.extract_rows(3, 200) == gen.extract_rows(3, 200)
    assert gen.extract_rows(3, 200) != gen.extract_rows(4, 200)


def test_refetches_keep_every_original_in_order():
    rows = gen.extract_rows(1, 800)
    firsts = list(dict.fromkeys(u for u, _, _ in rows))
    assert firsts == [u for u, _, _ in gen.link_graph(1, 800, 16, 12)]


def test_duplicate_shares():
    rows = gen.extract_rows(1, 1500)
    dups, adjacent = gen.duplicate_counts(rows)
    twins = Counter(h for _, _, h in rows)
    in_pair = sum(c for c in twins.values() if c > 1) / len(rows)
    assert max(twins.values()) == 2
    assert abs(in_pair - 2 / 9) < 0.04           # 1/8 refetched
    assert 0.35 < adjacent / dups < 0.65         # half right after
    assert dups - adjacent > 0


def test_duplicate_counts_by_hand():
    a, b = ("u1", "p", "x"), ("u2", "p", "y")
    assert gen.duplicate_counts([a, a, b, a]) == (2, 1)
    assert gen.duplicate_counts([a, b]) == (0, 0)
