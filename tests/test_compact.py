"""Table.compact() folds a snapshot of the live parts: points ingested
while a fold runs, and parts a concurrent query_many has not yet seen,
survive the compaction."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

import zenodb_spark.engine as engine
from zenodb_spark.engine import DB

E = dt.datetime(2015, 1, 1, 2, 3, 4, tzinfo=dt.timezone.utc).timestamp() // 1 * 1.0
SCHEMA = {"t": {"sql": "SELECT SUM(v) AS s FROM inbound GROUP BY host, period('1s')"}}


def _batch(spark, host: str, n: int):
    at = dt.datetime.fromtimestamp(E + 0.5, dt.timezone.utc)
    return spark.createDataFrame([Row(ts=at, host=host, v=1.0)] * n)


def _total(db) -> float:
    return sum(r["s"] for r in db.query("SELECT s FROM t GROUP BY host").collect())


def _db(spark):
    db = DB(spark, now=E + 100)
    db.apply_schema(SCHEMA)
    db.insert("inbound", _batch(spark, "a", 3))
    db.insert("inbound", _batch(spark, "b", 4))
    return db


def test_compact_keeps_parts_ingested_during_the_fold(spark, monkeypatch):
    db = _db(spark)
    fold = engine.merge_states

    def fold_while_ingesting(*args, **kwargs):
        db.insert("inbound", _batch(spark, "c", 5))
        return fold(*args, **kwargs)

    monkeypatch.setattr(engine, "merge_states", fold_while_ingesting)
    db.tables["t"].compact()
    monkeypatch.undo()
    assert _total(db) == 12.0
    assert len(db.tables["t"]._parts) == 2  # merged + the pending part
    db.tables["t"].compact()
    assert len(db.tables["t"]._parts) == 1
    assert _total(db) == 12.0


def test_compact_during_query_many_folds_the_live_parts(spark, monkeypatch):
    """query_many registers a scan snapshot before it lowers; a compaction
    that runs during lowering must fold the live parts, not that snapshot."""
    db = _db(spark)
    lower = db.plan

    def lower_beside_compaction(q):
        db.insert("inbound", _batch(spark, "c", 5))
        db.tables["t"].compact()
        return lower(q)

    monkeypatch.setattr(db, "plan", lower_beside_compaction)
    db.query_many(["SELECT s FROM t GROUP BY host"])
    monkeypatch.undo()
    db.release_scan_cache()
    assert _total(db) == 12.0
