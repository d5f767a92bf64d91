"""Pins the driver contract of ``__spark_entry__``: the ``queries()`` key
order and the bytes of every ``oracle_sql()`` string.

``golden/oracle_sql_sha256.json`` holds the ``queries()`` keys in order and
the sha256 of each oracle string, with the checkout path replaced by
``<repo>`` so the pin holds in any checkout.  Regenerate it with
``PYTHONPATH=. python tests/test_entry_registry.py`` when a query is added
or removed, or an oracle is meant to change."""

import hashlib
import json
import os

import pytest

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN = os.path.join(REPO, "golden", "oracle_sql_sha256.json")


def _digest(sql: str) -> str:
    return hashlib.sha256(sql.replace(REPO, "<repo>").encode()).hexdigest()


def _pin() -> dict:
    with open(PIN) as f:
        return json.load(f)


def test_queries_keys_and_order_pinned():
    assert list(entry_mod.queries()) == _pin()["queries"]


def test_oracle_sql_bytes_pinned():
    want = _pin()["oracle_sql_sha256"]
    got = {name: _digest(sql) for name, sql in entry_mod.oracle_sql().items()}
    assert sorted(got) == sorted(want)
    changed = sorted(n for n in want if got[n] != want[n])
    assert not changed, changed


def test_query_rejects_duplicate_and_unnumbered_names():
    # imported here so the two pins above also run against a tree that
    # predates the registry
    from claimskg_generator_spark.queries import query, registered

    before = registered()

    def q01_pricing_summary(spark, sf_dir):
        return None

    def pricing_summary(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="registered twice"):
        query("SELECT 1")(q01_pricing_summary)
    with pytest.raises(ValueError, match="qNN_"):
        query("SELECT 1")(pricing_summary)
    assert registered() == before


if __name__ == "__main__":
    sqls = sorted(entry_mod.oracle_sql().items())
    with open(PIN, "w") as f:
        json.dump({"queries": list(entry_mod.queries()),
                   "oracle_sql_sha256": {n: _digest(s) for n, s in sqls}},
                  f, indent=1)
        f.write("\n")
