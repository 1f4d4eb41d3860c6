"""The input-parallelism rule of ``operators.spread``.

A row-heavy operator over a single scan split must run its per-row work
on several tasks, and over an input that already has enough splits it
must add no shuffle.  Task counts come from the status tracker of a job
group around one collect; plans from formatted explain.
"""

import uuid

import numpy as np
import pytest
from pyspark.sql import Row

from olap_storage_engine_spark.operators import dedup as dd
from olap_storage_engine_spark.operators import similarity as sim
from olap_storage_engine_spark.operators import text as tx
from olap_storage_engine_spark.plans.explain import formatted_plan

WORDS = ("the and of to a in is it der die das und le la el los y "
         "quick brown fox jumps over lazy dog river stone cloud").split()

MERGES = [("t", "h"), ("th", "e"), ("o", "n"), ("a", "n")]

DOC_OPS = {
    "enrich": lambda d: tx.enrich(d),
    "quality_filter": lambda d: tx.quality_filter(d),
    "quality_score": lambda d: tx.quality_score(d),
    "language_id": lambda d: tx.language_id(d),
    "fingerprints": lambda d: tx.fingerprints(d),
    "chunk_documents": lambda d: tx.chunk_documents(d, 8, 6),
    "bpe_encode": lambda d: tx.bpe_encode(d, MERGES),
    "bpe_encode_corpus": lambda d: tx.bpe_encode_corpus(d, MERGES),
    "bpe_compression_stats": lambda d: tx.bpe_compression_stats(d, MERGES),
}

EMB_OPS = {
    "brute_topk": lambda e: sim.brute_topk(e, sim.standard_probes(e, n=3), k=5),
    "hard_negatives": lambda e: sim.hard_negatives(
        e, sim.standard_probes(e, n=3), k=5),
    "lsh_topk": lambda e: sim.lsh_topk(e, sim.standard_probes(e, n=3), k=5),
    "embedding_neardup_pairs": lambda e: dd.embedding_neardup_pairs(
        e, num_planes=4, threshold=0.5),
}

# row-local operators: over a many-split input their plan has no
# Exchange at all (the others shuffle for their own joins and windows)
ROW_LOCAL = {"enrich", "quality_filter", "quality_score", "language_id",
             "fingerprints", "chunk_documents", "bpe_encode_corpus"}


def _docs(n=200):
    rng = np.random.RandomState(3)
    return [
        Row(doc_id=i,
            text=" ".join(rng.choice(WORDS, size=5 + i % 40)),
            lang=("en", "de", "fr", "es")[i % 4],
            source=f"s{i % 3}")
        for i in range(n)
    ]


def _embs(n=120, dim=64):
    rng = np.random.RandomState(5)
    vecs = rng.randn(n, dim)
    return [
        Row(vec_id=i, embedding=[float(x) for x in vecs[i]], label=i % 3)
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Each table written twice: as one parquet file (one scan split)
    and as defaultParallelism files (already spread)."""
    dp = spark.sparkContext.defaultParallelism
    root = tmp_path_factory.mktemp("spread")
    out = {}
    for name, rows in (("docs", _docs()), ("emb", _embs())):
        df = spark.createDataFrame(rows)
        df.coalesce(1).write.parquet(str(root / f"{name}_one"))
        df.repartition(dp).write.parquet(str(root / f"{name}_many"))
        out[name] = (
            spark.read.parquet(str(root / f"{name}_one")),
            spark.read.parquet(str(root / f"{name}_many")),
        )
    return out


def _stage_tasks(spark, df) -> list[int]:
    sc = spark.sparkContext
    group = f"spread-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group, False)
    try:
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    # a stage the job skipped (its shuffle output was reused) never ran
    # and has no stage info
    infos = (
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    return [info.numTasks for info in infos if info is not None]


def _cases():
    return [("docs", k) for k in DOC_OPS] + [("emb", k) for k in EMB_OPS]


def _op(table, name):
    return (DOC_OPS if table == "docs" else EMB_OPS)[name]


@pytest.mark.parametrize("table,name", _cases())
def test_single_split_input_runs_on_several_tasks(spark, inputs, table, name):
    one, _ = inputs[table]
    assert one.rdd.getNumPartitions() == 1
    want = min(4, spark.sparkContext.defaultParallelism)
    tasks = _stage_tasks(spark, _op(table, name)(one))
    assert max(tasks) >= want, (name, tasks)


@pytest.mark.parametrize("table,name", _cases())
def test_many_split_input_gains_no_exchange(spark, inputs, table, name):
    _, many = inputs[table]
    plan = formatted_plan(_op(table, name)(many))
    assert "RoundRobinPartitioning" not in plan, plan
    if name in ROW_LOCAL:
        assert "Exchange" not in plan, plan


@pytest.mark.parametrize("table,name", _cases())
def test_spread_leaves_results_unchanged(spark, inputs, table, name):
    one, many = inputs[table]
    op = _op(table, name)
    assert sorted(map(tuple, op(one).collect())) == sorted(
        map(tuple, op(many).collect()))
