"""The recall gates that replaced the rows-only ANN queries.

A gate is only useful if it can FAIL: each positive check (gate emits
recall_ok=1 on the healthy operator) is paired with a negative control
(a corrupted approximate result must flip recall_ok to 0 — proving the
driver's value-hash compare would catch a real quality regression).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from kgraph_framework_spark.quality import (
    GATE_COLS,
    LSH_FLOOR_PPM,
    _gate_row,
    ann_ivf_gate,
    ann_lsh_gate,
    ivf_gate_sql,
    lsh_gate_sql,
    nndescent_gate,
    nndescent_gate_sql,
    stopped_on_recall,
)

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )


def _row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


class TestGatesPass:
    def test_lsh_gate_green(self, spark, emb):
        r = _row(ann_lsh_gate(spark, emb))
        assert r["recall_ok"] == 1
        assert r["algo"] == "lsh" and r["k"] == 5

    def test_ivf_gate_green(self, spark, emb):
        r = _row(ann_ivf_gate(spark, emb))
        assert r["recall_ok"] == 1

    def test_nndescent_gate_green(self, spark, emb):
        r = _row(nndescent_gate(spark, emb))
        assert r["recall_ok"] == 1
        assert r["n_queries"] == emb.count()


class TestGatesCanFail:
    def test_corrupted_result_flips_gate(self, spark, emb):
        """Negative control: shift every neighbor id by one — recall
        collapses and the gate row must report recall_ok=0 (which the
        driver would flag as a value-hash mismatch)."""
        from kgraph_framework_spark.operators.similarity import (
            cosine_topk,
            queries_from_corpus,
        )

        q = queries_from_corpus(emb)
        truth = cosine_topk(emb, q, k=5)
        corrupted = truth.withColumn(
            "neighbor_id", F.col("neighbor_id") + F.lit(1)
        )
        r = _row(
            _gate_row(
                corrupted,
                truth,
                ["query_id", "neighbor_id"],
                "lsh",
                F.countDistinct("query_id"),
                5,
                LSH_FLOOR_PPM,
            )
        )
        assert r["recall_ok"] == 0


class TestMinRecallStopPredicate:
    """nndescent_minrecall_gate's "stopped on the criterion" half reads
    the loop's explicit recall_stop flag, not the round count."""

    def test_stop_on_last_allowed_round_passes(self):
        # max_iters = 3, threshold reached on exactly round 3
        metrics = [
            {"superstep": 0, "recall": 0.71, "recall_stop": False},
            {"superstep": 1, "recall": 0.95, "recall_stop": False},
            {"superstep": 2, "recall": 0.993, "recall_stop": True},
        ]
        assert stopped_on_recall(metrics)

    def test_early_stop_passes(self):
        assert stopped_on_recall(
            [{"superstep": 0, "recall": 0.995, "recall_stop": True}]
        )

    def test_budget_exhausted_fails(self):
        metrics = [
            {"superstep": i, "recall": 0.9, "recall_stop": False}
            for i in range(3)
        ]
        assert not stopped_on_recall(metrics)

    def test_update_rate_stop_fails(self):
        # a short run that stopped on the update rate, not on recall
        metrics = [{"superstep": 0, "recall": 0.999, "update_rate": 0.0,
                    "recall_stop": False}]
        assert not stopped_on_recall(metrics)

    def test_no_flag_or_no_rounds_fails(self):
        assert not stopped_on_recall([])
        assert not stopped_on_recall([{"superstep": 0, "recall": 0.999}])


class TestOracleTwins:
    def test_sql_twins_match_spark_rows(self, spark, emb):
        """The DuckDB twin must reproduce the gate row bit-for-bit when
        the operator is healthy (same compare the driver runs)."""
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF_TINY}/embeddings.parquet')"
        )
        for gate, sql in [
            (ann_lsh_gate(spark, emb), lsh_gate_sql()),
            (ann_ivf_gate(spark, emb), ivf_gate_sql()),
            (nndescent_gate(spark, emb), nndescent_gate_sql()),
        ]:
            spark_row = _row(gate.select(*GATE_COLS))
            duck = con.execute(sql).fetchdf().to_dict("records")[0]
            assert {k: spark_row[k] for k in GATE_COLS} == {
                k: duck[k] for k in GATE_COLS
            }
