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


def test_query_order_is_pinned():
    names = list(entry_mod.queries())
    assert len(names) == QUERY_COUNT
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == QUERY_ORDER_SHA256


def test_every_oracle_names_an_entry():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
