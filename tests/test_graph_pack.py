"""Unit tests for the graph/layout library operators: connected
components (iterative min-label propagation) and scalable sequence
packing (two-phase cumulative sum); and the job budget of the
fixed-round graph keys."""

from __future__ import annotations

import pytest

from aind_data_transformation_spark.ops import connected_components, pack_sequences
from aind_data_transformation_spark.queries import registry
from aind_data_transformation_spark.queries.graph import _copurchase_support
from tests.conftest import TEST_SF_DIR
from tests.test_sources import _jobs_in_group


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 needs >1 propagation round; 10-11 is a separate pair
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["s", "d"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "s", "d").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    n = 40  # diameter >> a single round; exercises the iteration loop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["s", "d"]
    )
    got = connected_components(edges, "s", "d", max_iters=50).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == n + 1


def test_connected_components_raises_on_round_exhaustion(spark):
    """A diameter larger than max_iters must FAIL, not silently return
    partial labels (r6 advice): a 12-hop chain at max_iters=3 still has
    pending label changes when the budget runs out."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["s", "d"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "s", "d", max_iters=3)


#: Spark jobs connected_components launches on a graph that converges in
#: its first round: staging the edge list, then the round's own
#: materialization with its shuffle stages. The starting labels are not
#: staged and the convergence probe rides the round's job, so neither
#: adds a job of its own.
_CC_ONE_ROUND_JOB_BUDGET = 10


def test_connected_components_one_round_job_budget(spark):
    from aind_data_transformation_spark.ops import local_materializer
    from tests.test_sources import _jobs_in_group

    # a star and a clique: every node's starting label (its neighbour
    # minimum) is already the component minimum, so one round confirms it
    star = [(0, i) for i in range(1, 20)]
    clique = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    edges = spark.createDataFrame(star + clique, ["s", "d"])
    staged = []

    def mat(df, name):
        staged.append(name)
        return local_materializer(df, name)

    comps, n_jobs = _jobs_in_group(
        spark,
        "cc-one-round-job-budget",
        lambda: connected_components(edges, "s", "d", materializer=mat),
    )
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {
        **{n: 0 for n in range(20)}, **{n: 100 for n in range(100, 106)}
    }
    assert staged == ["cc_edges", "cc_labels_1"]
    assert n_jobs <= _CC_ONE_ROUND_JOB_BUDGET, (
        f"{n_jobs} Spark jobs > budget {_CC_ONE_ROUND_JOB_BUDGET} for one"
        " connected-components round"
    )


def test_pack_sequences_matches_bruteforce(spark):
    rows = [(i, (i * 7) % 13 + 1) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "n"])
    # coarse smaller than the table so multiple groups + offsets kick in
    got = {
        r["id"]: (r["cum_before"], r["seq_id"], r["seq_offset"])
        for r in pack_sequences(df, "id", "n", budget=20, coarse=16).collect()
    }
    cum = 0
    for i, n in rows:
        assert got[i] == (cum, cum // 20, cum % 20), i
        cum += n
    assert len(got) == len(rows)


#: Spark jobs one build plus collect of a fixed-round graph key may run
#: once the shared co-purchase support is staged: the rounds are one
#: lazy plan, so every job is an execution job of that plan
_GRAPH_ROUNDS_JOB_BUDGET = 12


@pytest.mark.parametrize(
    "key",
    [
        "graph_bfs_frontier",
        "graph_bellman_ford",
        "graph_k_core",
        "graph_label_propagation",
    ],
)
def test_fixed_round_graph_key_builds_without_jobs(spark, key):
    build = registry()[0][key]
    _copurchase_support(spark, TEST_SF_DIR)
    df, n_build = _jobs_in_group(
        spark, f"graph-rounds-build-{key}", lambda: build(spark, TEST_SF_DIR)
    )
    _, n_exec = _jobs_in_group(spark, f"graph-rounds-exec-{key}", df.collect)
    assert n_build == 0, f"building {key} ran {n_build} Spark jobs"
    assert n_build + n_exec <= _GRAPH_ROUNDS_JOB_BUDGET, (n_build, n_exec)
