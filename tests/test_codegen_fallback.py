"""Interpreted-expression gate: the CodegenFallback count in the physical
plan of every functions/-backed registry query that builds without running a
Spark job, at sf0.001. A rewrite of an expression builder that leaves more of
it interpreted fails here; one that moves an expression into codegen lowers a
count, and the pin moves with it.
The counter is perfbench's own (`KettleSteps.codegen_fallback_nodes`)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

FALLBACK_NODES = {
    "token_count": 0,
    "exact_dedup": 0,
    "embedding_topk": 43,
    "minhash_dedup": 0,
    "decontaminate": 66,
    "gopher_quality": 146,
    "text_quality": 29,
    "lsh_ann": 223,
    "stratified_sample": 0,
    "train_eval_split": 0,
}


@pytest.fixture(scope="module")
def kettle(spark, sf_dir):
    import __spark_entry__ as entry

    return SimpleNamespace(spark=spark, queries=entry.queries(), sf=sf_dir)


@pytest.mark.parametrize("name", sorted(FALLBACK_NODES))
def test_codegen_fallback_nodes_per_query(kettle, name):
    from perfbench.workloads import KettleSteps

    assert KettleSteps.codegen_fallback_nodes(kettle, name) == FALLBACK_NODES[name]
