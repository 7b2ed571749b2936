"""Spark job counts of the durable-index maintenance verbs, pinned.

Job counts are deterministic for a fixed input and verb sequence, so a
verb that gains a driver round trip (an extra collect, count or
checkpoint) fails here without any timer. Each verb runs under its own
job group; the count is read from ``statusTracker`` after the listener
bus drains.

Three key shapes: IVF (one row per key, partition from a frozen
quantizer), the inverted text index (many posting rows per document
key) and the graph edge table (partition derived from the key itself).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from bert_etl_spark.operators import registry

registry.load_all()

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"index-job-pin-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _run(spark, steps):
    """Run ``(name, fn)`` steps in order; {name: (result, jobs)}."""
    return {name: _jobs(spark, fn) for name, fn in steps}


@pytest.fixture(autouse=True)
def _keymap_off(spark):
    from bert_etl_spark.operators import index_lifecycle as life

    spark.conf.unset(life.KEYMAP_CONF)


def test_ivf_verb_job_counts(spark, tmp_path, sf_small):
    from bert_etl_spark.operators import similarity as sim

    idx = str(tmp_path / "ivf_pin")
    sim._ivf_assign(spark, sf_small, idx)
    emb = registry.tbl(spark, sf_small, "embeddings")
    fresh = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "label", "embedding"
    )
    upd = emb.filter(F.col("vec_id").isin(20, 21)).select(
        "vec_id", "label", "embedding"
    )
    ups_del = emb.filter(F.col("vec_id") == 22).select(
        "vec_id", "label", "embedding"
    )
    drop = spark.createDataFrame([(23,), (24,)], "vec_id long")
    bare = spark.createDataFrame([(25,), (26,)], "vec_id long")
    cells = {
        int(r.vec_id): int(r.cell)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .filter(F.col("vec_id").isin(27, 28))
        .collect()
    }
    with_part = spark.createDataFrame(
        sorted(cells.items()), "vec_id long, cell int"
    )
    got = _run(
        spark,
        [
            ("ingest", lambda: sim.ivf_index_ingest(spark, fresh, idx)),
            ("upsert", lambda: sim.ivf_index_upsert(spark, upd, idx)),
            (
                "upsert_delete",
                lambda: sim.ivf_index_upsert_delete(spark, ups_del, drop, idx),
            ),
            ("delete_bare", lambda: sim.ivf_index_delete(spark, bare, idx)),
            ("delete_part", lambda: sim.ivf_index_delete(spark, with_part, idx)),
            ("compact", lambda: sim.ivf_index_compact(spark, idx)),
        ],
    )
    n = emb.count()
    assert got == {
        "ingest": (3, 8),
        "upsert": ((2, 0), 9),
        "upsert_delete": ((2, 1, 0), 12),
        "delete_bare": (2, 8),
        "delete_part": (2, 9),
        "compact": (n + 3 - 4 - 2, 3),
    }


def test_text_verb_job_counts(spark, tmp_path, sf_small):
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "text_pin")
    tx._textidx_open_or_build(spark, sf_small, idx)
    new = spark.createDataFrame(
        [(9_100_001, "quokka zebra quokka")], "doc_id long, text string"
    )
    changed = spark.createDataFrame(
        [(13, "zebra quokka zebra"), (9_100_002, "quokka dup")],
        "doc_id long, text string",
    )
    bare = spark.createDataFrame([(11,)], "doc_id long")
    with_part = spark.createDataFrame([(12, 3)], "doc_id long, bucket int")
    got = _run(
        spark,
        [
            ("ingest", lambda: tx.textidx_ingest(spark, new, idx)),
            ("upsert", lambda: tx.textidx_upsert(spark, changed, idx)),
            ("delete_bare", lambda: tx.textidx_delete(spark, bare, idx)),
            ("delete_part", lambda: tx.textidx_delete(spark, with_part, idx)),
            ("compact", lambda: tx.textidx_compact(spark, idx)),
        ],
    )
    compacted = got.pop("compact")
    assert compacted[0] > 0
    assert got == {
        "ingest": (2, 10),
        "upsert": ((1, 1), 12),
        "delete_bare": (1, 6),
        "delete_part": (1, 7),
    }
    assert compacted[1] == 3


def test_graph_verb_job_counts(spark, tmp_path, sf_small):
    from bert_etl_spark.operators import advanced as adv

    edir = str(tmp_path / "edges_pin")
    adv.graph_edges_build_or_open(spark, sf_small, edir)
    total = spark.read.option("basePath", edir).parquet(edir).count()
    batch = spark.createDataFrame(
        [(910001, 910002), (910001, 910003), (910004, 910005)],
        "u long, v long",
    )
    bare = spark.createDataFrame([("910001|910002",)], "pkey string")
    row = spark.createDataFrame([("910004|910005",)], "pkey string").withColumn(
        "ebkt", adv._edge_bucket(F.lit(910004).cast("long"))
    )
    got = _run(
        spark,
        [
            ("ingest", lambda: adv.graph_edges_ingest(spark, batch, edir)),
            ("delete_bare", lambda: adv.graph_edges_delete(spark, bare, edir)),
            ("delete_part", lambda: adv.graph_edges_delete(spark, row, edir)),
            ("compact", lambda: adv.graph_edges_compact(spark, edir)),
        ],
    )
    assert got == {
        "ingest": (3, 7),
        "delete_bare": (1, 6),
        "delete_part": (1, 9),
        "compact": (total + 1, 3),
    }


def test_generic_verbs_new_to_text_and_graph_job_counts(
    spark, tmp_path, sf_small
):
    """Verbs the text index and the edge table gained from the generic
    verb set, with no per-family form before it: their results, and
    their job counts pinned as first measured."""
    from bert_etl_spark.operators import advanced as adv
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "text_new")
    tx._textidx_open_or_build(spark, sf_small, idx)
    changed = spark.createDataFrame(
        [(13, "zebra quokka zebra"), (9_100_002, "quokka dup")],
        "doc_id long, text string",
    )
    drop = spark.createDataFrame([(11,)], "doc_id long")
    edir = str(tmp_path / "edges_new")
    adv.graph_edges_build_or_open(spark, sf_small, edir)
    edge = spark.createDataFrame([(930001, 930002)], "u long, v long")
    other = spark.createDataFrame([(930003, 930004)], "u long, v long")
    gone = spark.createDataFrame([("930001|930002",)], "pkey string")
    got = _run(
        spark,
        [
            (
                "text_upsert_delete",
                lambda: tx.TEXTIDX_FAMILY.upsert_delete(spark, changed, drop, idx),
            ),
            (
                "graph_upsert",
                lambda: adv.GRAPH_EDGE_FAMILY.upsert(spark, edge, edir),
            ),
            (
                "graph_upsert_delete",
                lambda: adv.GRAPH_EDGE_FAMILY.upsert_delete(
                    spark, other, gone, edir
                ),
            ),
        ],
    )
    assert got == {
        "text_upsert_delete": ((1, 1, 1), 16),
        "graph_upsert": ((0, 1), 10),
        "graph_upsert_delete": ((1, 0, 1), 12),
    }
    phys = spark.read.option("basePath", idx).parquet(idx)
    assert phys.filter(F.col("doc_id") == 11).count() == 0
    assert {
        r["token"] for r in phys.filter(F.col("doc_id") == 13).collect()
    } == {"zebra", "quokka"}
    edges = spark.read.option("basePath", edir).parquet(edir)
    assert edges.filter(F.col("pkey") == "930001|930002").count() == 0
    assert edges.filter(F.col("pkey") == "930003|930004").count() == 1
