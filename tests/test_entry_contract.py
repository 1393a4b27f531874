"""Entries of ``__spark_entry__.queries()`` are addressed by their
position, so the order is part of the contract: an entry must never be
reordered, renamed or dropped, and every oracle must name an entry. The
pinned values change only when an entry is appended on purpose."""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

QUERY_COUNT = 192
QUERY_ORDER_SHA256 = (
    "84f060dbe7b098a513010c31fda1e48e397a9bbef20b8114f20d903fa3c61df6")
# no value oracle by design; gated by accuracy and recall tests instead
NO_ORACLE = {"s_ks_sketch", "s_sketch_drift", "s_w1_sketch",
             "a_ivf_topk_trained"}


def test_query_order_is_pinned():
    names = list(entry_mod.queries())
    assert len(names) == QUERY_COUNT
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == QUERY_ORDER_SHA256


def test_every_oracle_names_an_entry():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_oracles_follow_query_order():
    oracles = entry_mod.oracle_sql()
    assert list(oracles) == [n for n in entry_mod.queries() if n in oracles]


def test_only_the_declared_entries_lack_an_oracle():
    assert set(entry_mod.queries()) - set(entry_mod.oracle_sql()) == NO_ORACLE
